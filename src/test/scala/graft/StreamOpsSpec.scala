package graft

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.StreamOps
import graft.streaming.StreamOps._

/** Structured Streaming twins, driven through MemoryStream micro-batches so
  * cross-batch state (open runs, previous-event timestamps, watermarked
  * windows) is actually exercised.
  */
/** Top-level so the evolved processor serializes without dragging the
  * suite into the closure: the V2 PackState adds a field to the V1 schema
  * (the state-schema upgrade path a long-lived streaming job takes when a
  * new requirement lands mid-stream).
  */
object StreamEvolutionFixtures {
  import org.apache.spark.sql.Encoders
  import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode,
    StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}
  import graft.streaming.StreamOps.{Doc, PackedBin}

  /** V1's PackState plus a new OPTIONAL field — Avro state encoding fills
    * it with None when reading V1 checkpoint rows (added fields must be
    * nullable; a primitive would be rejected by the schema checker).
    */
  case class PackStateV2(binId: Long, cumTokens: Long, nDocs: Long,
                         binTokens: Long, maxDocTokens: Option[Long])

  /** The V2 processor: identical packing semantics, one new tracked
    * statistic. Reads V1 state transparently under Avro schema evolution.
    */
  class PackSequencesProcessorV2(binTokens: Long, flushGapMs: Long)
      extends StatefulProcessor[String, Doc, PackedBin] {
    @transient private var pack: ValueState[PackStateV2] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      pack = getHandle.getValueState[PackStateV2](
        "pack", Encoders.product[PackStateV2], TTLConfig.NONE)

    private def emit(source: String, s: PackStateV2): PackedBin =
      PackedBin(source, s.binId, s.nDocs, s.binTokens,
        math.round(s.binTokens.toDouble / binTokens * 10000.0) / 10000.0)

    override def handleInputRows(source: String, rows: Iterator[Doc],
                                 tv: TimerValues): Iterator[PackedBin] = {
      val sorted = rows.toSeq.sortBy(_.doc_id)
      var cur = if (pack.exists()) Some(pack.get()) else None
      val out = Seq.newBuilder[PackedBin]
      var lastMs = 0L
      sorted.foreach { d =>
        val prior = cur.map(_.cumTokens).getOrElse(0L)
        val bin = Math.floorDiv(prior, binTokens)
        val mx = Some(math.max(d.n_tokens, cur.flatMap(_.maxDocTokens).getOrElse(0L)))
        cur match {
          case Some(s) if s.nDocs == 0L =>
            cur = Some(PackStateV2(bin, prior + d.n_tokens, 1L, d.n_tokens, mx))
          case Some(s) if s.binId == bin =>
            cur = Some(PackStateV2(bin, prior + d.n_tokens, s.nDocs + 1,
              s.binTokens + d.n_tokens, mx))
          case Some(s) =>
            out += emit(source, s)
            cur = Some(PackStateV2(bin, prior + d.n_tokens, 1L, d.n_tokens, mx))
          case None =>
            cur = Some(PackStateV2(bin, d.n_tokens, 1L, d.n_tokens, mx))
        }
        lastMs = math.max(lastMs, d.ts.getTime)
      }
      cur.foreach { s =>
        pack.update(s)
        getHandle.listTimers().foreach(getHandle.deleteTimer)
        getHandle.registerTimer(lastMs + flushGapMs)
      }
      out.result().iterator
    }

    override def handleExpiredTimer(source: String, tv: TimerValues,
                                    info: ExpiredTimerInfo): Iterator[PackedBin] =
      if (pack.exists() && pack.get().nDocs > 0) {
        val s = pack.get()
        pack.update(PackStateV2(s.binId + 1, (s.binId + 1) * binTokens,
          0L, 0L, s.maxDocTokens))
        Iterator.single(emit(source, s))
      } else Iterator.empty
  }
}

class StreamOpsSpec extends SparkSpec {

  import spark.implicits._

  private def ev(id: Long, minute: Int, user: Long, typ: String,
                 value: Double = 1.0): Event =
    Event(id, Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00"),
      user, typ, value)

  test("accident runs: run split across micro-batches still detected once broken") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = StreamOps.accidentRuns(spark, input.toDS())
      .writeStream.format("memory").queryName("runs_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData((1 to 2).map(i => ev(i, i, 1L, "click")))
      q.processAllAvailable()
      input.addData((3 to 5).map(i => ev(i, i, 1L, "click"))) // run now 5 long
      q.processAllAvailable()
      assert(spark.table("runs_out").count() == 0, "open run not yet emitted")
      input.addData(Seq(ev(6, 6, 1L, "view"))) // break the run
      q.processAllAvailable()
      val rows = spark.table("runs_out").collect()
      assert(rows.length == 1)
      assert(rows.head.getAs[String]("event_type") == "click")
      assert(rows.head.getAs[Long]("n_events") == 5L)
    } finally q.stop()
  }

  test("sessionize via timers: watermark passing the gap closes an idle key's session") {
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val input = MemoryStream[Event]
      val q = StreamOps.sessionizeTws(spark, input.toDS(),
          gapMs = 30L * 60 * 1000, watermark = "0 seconds")
        .writeStream.format("memory").queryName("sess_tws_out")
        .outputMode(OutputMode.Append).start()
      try {
        // user 1: two events 5 min apart -> one open session
        input.addData(Seq(ev(1, 0, 1L, "click", 2.0), ev(2, 5, 1L, "click", 3.0)))
        q.processAllAvailable()
        assert(spark.table("sess_tws_out").count() == 0, "session still open")
        // user 2 at minute 90 advances the watermark past user 1's
        // (end=5min + gap=30min) horizon — NO further user-1 events
        input.addData(Seq(ev(3, 90, 2L, "view")))
        q.processAllAvailable()
        // timers fire against the watermark computed at the previous
        // batch's end — one more batch lets user 1's timer discharge
        input.addData(Seq(ev(4, 95, 2L, "view")))
        q.processAllAvailable()
        val rows = spark.table("sess_tws_out")
          .collect().map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_events"),
            r.getAs[Double]("sum_value")))
        assert(rows.toSeq == Seq((1L, 2L, 5.0)),
          s"idle user-1 session must close by timer, got ${rows.toSeq}")
      } finally q.stop()
    }
  }

  test("sessionize via timers: a late-arriving event extends the session and re-arms the timer") {
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val input = MemoryStream[Event]
      val q = StreamOps.sessionizeTws(spark, input.toDS(),
          gapMs = 30L * 60 * 1000, watermark = "0 seconds")
        .writeStream.format("memory").queryName("sess_tws_ext_out")
        .outputMode(OutputMode.Append).start()
      try {
        input.addData(Seq(ev(1, 0, 1L, "click")))
        q.processAllAvailable()
        // minute 20 is inside the gap: extends the session, re-arms to 50
        input.addData(Seq(ev(2, 20, 1L, "click")))
        q.processAllAvailable()
        // watermark to 40 (> first horizon 30, < new horizon 50): the STALE
        // timer fires but must not emit the extended session
        input.addData(Seq(ev(3, 40, 2L, "view")))
        q.processAllAvailable()
        input.addData(Seq(ev(4, 41, 2L, "view")))
        q.processAllAvailable()
        assert(spark.table("sess_tws_ext_out")
          .filter($"user_id" === 1L).count() == 0,
          "stale timer must not close the extended session")
        // advance past 50 and discharge
        input.addData(Seq(ev(5, 55, 2L, "view")))
        q.processAllAvailable()
        input.addData(Seq(ev(6, 56, 2L, "view")))
        q.processAllAvailable()
        val u1 = spark.table("sess_tws_ext_out").filter($"user_id" === 1L)
          .collect().map(r => r.getAs[Long]("n_events"))
        assert(u1.toSeq == Seq(2L), s"extended session emits once, got ${u1.toSeq}")
      } finally q.stop()
    }
  }

  test("windowed counts via MapState: each window emits once when the watermark passes it") {
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val input = MemoryStream[Event]
      val q = StreamOps.windowedCountsTws(spark, input.toDS(),
          sizeMs = 10L * 60 * 1000, watermark = "0 seconds")
        .writeStream.format("memory").queryName("win_tws_out")
        .outputMode(OutputMode.Append).start()
      try {
        // user 1: two events in window [0,10), one in [10,20). The batch
        // advances the watermark to minute 12, and processAllAvailable runs
        // the follow-up no-data batch, so [0,10)'s timer (expiry minute 10)
        // fires immediately — [10,20) stays open.
        input.addData(Seq(ev(1, 2, 1L, "click", 2.0), ev(2, 7, 1L, "click", 3.0),
          ev(3, 12, 1L, "click", 5.0)))
        q.processAllAvailable()
        assert(spark.table("win_tws_out").count() == 1, "only [0,10) closed")
        // advance the watermark past minute 20 via another key to close
        // user 1's [10,20) window — no further user-1 events needed
        input.addData(Seq(ev(4, 25, 2L, "view")))
        q.processAllAvailable()
        val baseUs = Timestamp.valueOf("2024-01-01 00:00:00").getTime * 1000L
        val rows = spark.table("win_tws_out")
          .collect().map(r => (r.getAs[Long]("user_id"),
            (r.getAs[Long]("w_start_us") - baseUs) / 60000000L,
            r.getAs[Long]("n_events"),
            r.getAs[Double]("sum_value"))).sortBy(t => (t._1, t._2))
        assert(rows.toSeq == Seq((1L, 0L, 2L, 5.0), (1L, 10L, 1L, 5.0)),
          s"got ${rows.toSeq}")
      } finally q.stop()
    }
  }

  test("first-seen filter: TTL expiry re-admits an idle key") {
    // Processing-time mode makes shouldRunAnotherBatch true perpetually
    // (TTL/timer maintenance), so processAllAvailable() never quiesces AND
    // Trigger.AvailableNow loops micro-batches forever. Trigger.Once runs
    // exactly one batch then terminates — drive the stream as one-batch
    // runs over a shared checkpoint (state persists across runs; the TTL
    // wall clock keeps ticking between them).
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      // the memory sink cannot resume from a checkpoint — use the
      // (recoverable) parquet sink and read the output dir between runs.
      // Each run pays seconds of query startup, so the live-vs-expired
      // distinction needs two checkpoints: a long TTL (minutes ≫ startup)
      // proves cross-run suppression; a short TTL + sleep proves expiry.
      def runOnce(input: MemoryStream[Event], ttl: java.time.Duration,
                  ckpt: String, outDir: String): Unit = {
        val q = StreamOps.firstSeenTws(spark, input.toDS(), ttl)
          .writeStream.format("parquet")
          .option("path", outDir)
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.Once(): @annotation.nowarn("cat=deprecation"))
          .outputMode(OutputMode.Append).start()
        try q.awaitTermination()
        finally q.stop()
      }
      def emitted(outDir: String): Long = spark.read.parquet(outDir).count()

      // live path: 10-minute TTL spans both runs
      val liveIn = MemoryStream[Event]
      val (liveCkpt, liveOut) = (tempSfDir(), tempSfDir())
      val liveTtl = java.time.Duration.ofMinutes(10)
      liveIn.addData(Seq(ev(1, 1, 1L, "click"), ev(2, 2, 1L, "click")))
      runOnce(liveIn, liveTtl, liveCkpt, liveOut)
      assert(emitted(liveOut) == 1, "first event only (in-batch suppression)")
      liveIn.addData(Seq(ev(3, 3, 1L, "click")))
      runOnce(liveIn, liveTtl, liveCkpt, liveOut)
      assert(emitted(liveOut) == 1, "state still live across runs")

      // expiry path: 800 ms TTL lapses during the sleep
      val expIn = MemoryStream[Event]
      val (expCkpt, expOut) = (tempSfDir(), tempSfDir())
      val expTtl = java.time.Duration.ofMillis(800)
      expIn.addData(Seq(ev(1, 1, 1L, "click")))
      runOnce(expIn, expTtl, expCkpt, expOut)
      assert(emitted(expOut) == 1, "first event emitted")
      Thread.sleep(2000) // let the 800 ms TTL lapse
      expIn.addData(Seq(ev(2, 2, 1L, "click")))
      runOnce(expIn, expTtl, expCkpt, expOut)
      assert(emitted(expOut) == 2, "expired state must re-admit the key")
    }
  }

  test("accident runs: per-report mode emits from the 4th report on, across batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = StreamOps.accidentRuns(spark, input.toDS(), emitPerReport = true)
      .writeStream.format("memory").queryName("runs_pr_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData((1 to 3).map(i => ev(i, i, 1L, "click")))
      q.processAllAvailable()
      assert(spark.table("runs_pr_out").count() == 0, "run of 3 is silent")
      input.addData((4 to 5).map(i => ev(i, i, 1L, "click")))
      q.processAllAvailable()
      val rows = spark.table("runs_pr_out").collect()
      assert(rows.length == 2, "reports 4 and 5 each emit")
      assert(rows.map(_.getAs[Long]("n_events")).sorted.toSeq == Seq(4L, 5L))
    } finally q.stop()
  }

  test("saturated pairs: state remembers the previous event across batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = StreamOps.saturatedPairs(spark, input.toDS())
      .writeStream.format("memory").queryName("pairs_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(Seq(ev(1, 0, 1L, "a")))
      q.processAllAvailable()
      input.addData(Seq(ev(2, 5, 1L, "a")))   // 5 min after batch-1 event
      q.processAllAvailable()
      input.addData(Seq(ev(3, 60, 1L, "a")))  // 55 min gap: no pair
      q.processAllAvailable()
      val rows = spark.table("pairs_out").collect()
      assert(rows.length == 1)
      assert(rows.head.getAs[Long]("n_trips") == 2L)
    } finally q.stop()
  }

  // Event times with a sub-millisecond part: the stateful twins must carry
  // them to the output exactly, as the batch twins and the oracle do.
  private val t0Us = 1704067200000000L + 1234567L // 2024-01-01 00:00:01.234567
  private def evUs(id: Long, us: Long, user: Long, typ: String,
                   value: Double = 1.0): Event =
    Event(id, DateTimeUtils.toJavaTimestamp(us), user, typ, value)
  private val runOfFourThenBreak =
    (0 to 3).map(i => evUs(i, t0Us + i * 60000001L, 1L, "click")) :+
      evUs(4, t0Us + 4 * 60000001L, 1L, "view")
  private val runOfFour = AccidentRun(1L, "click", t0Us, t0Us + 3 * 60000001L, 4L)

  /** Feeds `batches` to `op`, one micro-batch each; returns its output. */
  private def outputOf[T: Encoder](name: String, mode: OutputMode)(
      op: Dataset[Event] => Dataset[T])(batches: Seq[Event]*): Seq[T] = {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = op(input.toDS()).writeStream.format("memory").queryName(name)
      .outputMode(mode).start()
    try {
      batches.foreach { b => input.addData(b); q.processAllAvailable() }
      spark.table(name).as[T].collect().toSeq
    } finally q.stop()
  }

  test("rate of change keeps event time to the microsecond") {
    // same millisecond, arriving out of order: only µs can order them
    val out = outputOf[RateUpdate]("rate_us_out", OutputMode.Update)(
      StreamOps.rateOfChange(spark, _))(
      Seq(evUs(2, t0Us + 400, 1L, "click", 20.0), evUs(1, t0Us, 1L, "click", 10.0)))
    assert(out == Seq(RateUpdate(1L, "click", t0Us, t0Us + 400, 10.0 / (400 / 3600e6))))
  }

  test("accident runs keep event time to the microsecond") {
    assert(outputOf[AccidentRun]("runs_us_out", OutputMode.Append)(
      StreamOps.accidentRuns(spark, _))(runOfFourThenBreak) == Seq(runOfFour))
  }

  test("sessionize via timers keeps event time to the microsecond") {
    // user 2 moves the watermark past user 1's horizon; the next batch
    // lets the timer discharge
    val out = withRocksDb(outputOf[UserSession]("sess_tws_us_out", OutputMode.Append)(
      StreamOps.sessionizeTws(spark, _, gapMs = 30L * 60 * 1000, watermark = "0 seconds"))(
      Seq(evUs(1, t0Us, 1L, "click", 2.0), evUs(2, t0Us + 300000999L, 1L, "click", 3.0)),
      Seq(evUs(3, t0Us + 5400000000L, 2L, "view")),
      Seq(evUs(4, t0Us + 5700000000L, 2L, "view"))))
    assert(out == Seq(UserSession(1L, t0Us, t0Us + 300000999L, 2L, 5.0)))
  }

  test("saturated pairs keep event time to the microsecond") {
    val out = outputOf[SaturatedPair]("pairs_us_out", OutputMode.Append)(
      StreamOps.saturatedPairs(spark, _))(
      Seq(evUs(1, t0Us, 1L, "a")), Seq(evUs(2, t0Us + 300000001L, 1L, "a")))
    assert(out == Seq(SaturatedPair(1L, t0Us, t0Us + 300000001L, 2L)))
  }

  private def tdoc(id: Long, minute: Int, text: String): StreamOps.TextDoc =
    StreamOps.TextDoc(id,
      Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00"),
      text)

  test("minhash-LSH dedup stream: pairs surface across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val input = MemoryStream[StreamOps.TextDoc]
      val q = StreamOps.minhashLshDedupStream(spark, input.toDS(),
          ttl = java.time.Duration.ZERO)
        .writeStream.format("memory").queryName("lsh_out")
        .outputMode(OutputMode.Append).start()
      try {
        val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        input.addData(Seq(
          tdoc(1, 1, base),
          tdoc(2, 2, base + " lambda"), // jaccard 10/11 vs doc 1
          tdoc(3, 3, "one two three four five six seven eight nine ten")))
        q.processAllAvailable()
        def pairs() = spark.table("lsh_out").collect()
          .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))).toSet
        assert(pairs() == Set((1L, 2L)),
          s"batch 1 must pair only the near-dups, got ${pairs()}")
        // batch 2: doc 4 is byte-identical to doc 1 — the pairs are against
        // bucket-resident state from batch 1, the cross-batch property
        input.addData(Seq(tdoc(4, 4, base)))
        q.processAllAvailable()
        assert(pairs() == Set((1L, 2L), (1L, 4L), (2L, 4L)),
          s"cross-batch near-dups must surface, got ${pairs()}")
        val est14 = spark.table("lsh_out").collect()
          .filter(r => r.getAs[Long]("a_id") == 1L && r.getAs[Long]("b_id") == 4L)
          .map(_.getAs[Double]("est_jaccard"))
        assert(est14.nonEmpty && est14.forall(_ == 1.0),
          s"identical docs must estimate 1.0, got ${est14.toSeq}")
      } finally q.stop()
    }
  }

  test("minhash-LSH dedup stream: a bucket at the cap goes dark") {
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val input = MemoryStream[StreamOps.TextDoc]
      // cap 1: the first resident claims every bucket of its bands; the
      // identical later doc lands in the same (full) buckets and must
      // neither store nor emit
      val q = StreamOps.minhashLshDedupStream(spark, input.toDS(),
          maxBucketSize = 1, ttl = java.time.Duration.ZERO)
        .writeStream.format("memory").queryName("lsh_cap_out")
        .outputMode(OutputMode.Append).start()
      try {
        val text = "red orange yellow green blue indigo violet ultraviolet"
        input.addData(Seq(tdoc(1, 1, text)))
        q.processAllAvailable()
        input.addData(Seq(tdoc(2, 2, text)))
        q.processAllAvailable()
        assert(spark.table("lsh_cap_out").count() == 0,
          "full buckets must not emit pairs")
      } finally q.stop()
    }
  }

  test("minhash-LSH dedup stream: TTL mode pairs against checkpointed state") {
    // nonzero TTL selects ProcessingTime mode (see BandIndexProcessor), so
    // drive it with the same Trigger.Once-over-shared-checkpoint pattern
    // as the first-seen TTL spec: each run is one micro-batch; the second
    // run's pair can only come from MapState recovered off the checkpoint.
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      def runOnce(input: MemoryStream[StreamOps.TextDoc], ckpt: String,
                  outDir: String): Unit = {
        val q = StreamOps.minhashLshDedupStream(spark, input.toDS(),
            ttl = java.time.Duration.ofMinutes(10))
          .writeStream.format("parquet")
          .option("path", outDir)
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.Once(): @annotation.nowarn("cat=deprecation"))
          .outputMode(OutputMode.Append).start()
        try q.awaitTermination()
        finally q.stop()
      }
      val input = MemoryStream[StreamOps.TextDoc]
      val (ckpt, outDir) = (tempSfDir(), tempSfDir())
      val base = "north south east west up down left right forward backward"
      input.addData(Seq(tdoc(1, 1, base)))
      runOnce(input, ckpt, outDir)
      assert(spark.read.parquet(outDir).count() == 0, "one resident, no pair")
      input.addData(Seq(tdoc(2, 2, base)))
      runOnce(input, ckpt, outDir)
      val pairs = spark.read.parquet(outDir).collect()
        .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))).toSet
      assert(pairs == Set((1L, 2L)),
        s"pair must surface from checkpoint-recovered state, got $pairs")
    }
  }

  private def sdoc(id: Long, minute: Int, text: String,
                   isNew: Boolean): StreamOps.SeedableDoc =
    StreamOps.SeedableDoc(id,
      Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00"),
      text, isNew)

  test("incremental dedup stream: corpus seeds never pair, feed probes do") {
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val input = MemoryStream[StreamOps.SeedableDoc]
      val q = StreamOps.incrementalDedupStream(spark, input.toDS(),
          ttl = java.time.Duration.ZERO)
        .writeStream.format("memory").queryName("inc_out")
        .outputMode(OutputMode.Append).start()
      try {
        val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        // batch 1: TWO near-identical corpus seeds — batch d8 would not
        // pair them (corpus×corpus), and neither must the stream
        input.addData(Seq(
          sdoc(10, 1, base, isNew = false),
          sdoc(11, 2, base + " lambda", isNew = false)))
        q.processAllAvailable()
        assert(spark.table("inc_out").count() == 0,
          "corpus seeds must never pair with each other")
        // batch 2: a new doc near-duplicating the corpus + an unrelated one
        input.addData(Seq(
          sdoc(3, 3, base, isNew = true),
          sdoc(4, 4, "one two three four five six seven eight nine ten",
            isNew = true)))
        q.processAllAvailable()
        val got = spark.table("inc_out").collect()
          .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"),
            r.getAs[Boolean]("a_new"), r.getAs[Boolean]("b_new"))).toSet
        assert(got == Set((3L, 10L, true, false), (3L, 11L, true, false)),
          s"feed-vs-corpus pairs with role flags, got $got")
        // batch 3: a new doc pairing a PRIOR new doc — both flags true,
        // state carried across micro-batches
        input.addData(Seq(sdoc(5, 5, base, isNew = true)))
        q.processAllAvailable()
        val third = spark.table("inc_out").collect()
          .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"),
            r.getAs[Boolean]("a_new"), r.getAs[Boolean]("b_new"))).toSet
        assert(third.contains((3L, 5L, true, true)) &&
          third.contains((5L, 10L, true, false)),
          s"new-new and new-corpus pairs must both surface, got $third")
      } finally q.stop()
    }
  }

  test("incremental dedup stream: pair set matches batch d8 on the same docs") {
    import org.apache.spark.sql.SaveMode
    implicit val sqlCtx = spark.sqlContext
    // Fixture under batch d8's own is_new predicate (doc_id % 10 == 0):
    // three near-dup families + singletons, members on both sides of the
    // split so corpus-corpus suppression, corpus-feed and feed-feed pairs
    // all occur.
    val texts = Seq(
      0L -> "the quick brown fox jumps over the lazy dog again today",
      1L -> "the quick brown fox jumps over the lazy dog again today",
      10L -> "the quick brown fox jumps over the lazy dog again tomorrow",
      2L -> "pack my box with five dozen liquor jugs right now please",
      20L -> "pack my box with five dozen liquor jugs right now please",
      30L -> "pack my box with five dozen liquor jugs right now thanks",
      3L -> "sphinx of black quartz judge my vow tonight",
      4L -> "how vexingly quick daft zebras jump around here")
    val dir = java.nio.file.Files.createTempDirectory("incdedup-").toString
    import spark.implicits._
    texts.map { case (id, t) => (id, t, "en", "s0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/documents.parquet")
    val batch = graft.operators.Dedup.incrementalDedup(spark, dir)
      .collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"),
        r.getAs[Double]("est_jaccard"),
        r.getAs[Boolean]("a_new"), r.getAs[Boolean]("b_new"))).toSet
    assert(batch.nonEmpty, "fixture must produce batch pairs")
    withRocksDb {
      val input = MemoryStream[StreamOps.SeedableDoc]
      val q = StreamOps.incrementalDedupStream(spark, input.toDS(),
          ttl = java.time.Duration.ZERO)
        .writeStream.format("memory").queryName("inc_parity_out")
        .outputMode(OutputMode.Append).start()
      try {
        // the feed's event times sit AFTER the corpus's: batch 1's
        // watermark advances past the corpus timestamps, and EventTime
        // mode would (correctly) drop a feed row behind the watermark —
        // matching a real pipeline, where the ingest feed is the newer data
        def docs(p: Long => Boolean) = texts.zipWithIndex.collect {
          case ((id, t), i) if p(id) =>
            sdoc(id, (if (id % 10 == 0) 100 else 0) + i + 1, t,
              isNew = id % 10 == 0)
        }
        input.addData(docs(_ % 10 != 0)) // corpus first
        q.processAllAvailable()
        input.addData(docs(_ % 10 == 0)) // then the feed, a later batch
        q.processAllAvailable()
        val stream = spark.table("inc_parity_out").collect()
          .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"),
            r.getAs[Double]("est_jaccard"),
            r.getAs[Boolean]("a_new"), r.getAs[Boolean]("b_new"))).toSet
        assert(stream == batch,
          s"stream pair set must equal batch d8:\n stream=$stream\n batch=$batch")
      } finally q.stop()
    }
  }

  private def mblob(id: Long, minute: Int, text: String,
                    isNew: Boolean): StreamOps.SeedableMediaEvent =
    StreamOps.SeedableMediaEvent(id,
      Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00"),
      "image",
      graft.operators.Multimodal.buildBmp(
        1 + (id % 31).toInt, 1 + (id % 17).toInt, text.getBytes("UTF-8")),
      isNew)

  test("media near-dup stream: deduped pair set matches batch m9 on the shared corpus") {
    import org.apache.spark.sql.SaveMode
    implicit val sqlCtx = spark.sqlContext
    // batch m9's own fixture: 0 and 1581 share id-derived dimensions, so
    // identical text makes identical pixels (hamming 0); 3 and 9 fillers
    val texts = Seq(0L -> "img zero", 1581L -> "img zero",
      3L -> "img three", 9L -> "img nine?")
    val dir = java.nio.file.Files.createTempDirectory("m9stream-").toString
    import spark.implicits._
    texts.map { case (id, t) => (id, t, "en", "s0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/documents.parquet")
    val batch = graft.operators.Multimodal.mediaNearDup(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toSet
    assert(batch.nonEmpty, "fixture must produce batch pairs")
    withRocksDb {
      val input = MemoryStream[StreamOps.SeedableMediaEvent]
      val q = StreamOps.mediaNearDupStream(spark, input.toDS(),
          ttl = java.time.Duration.ZERO)
        .writeStream.format("memory").queryName("m9_parity_out")
        .outputMode(OutputMode.Append).start()
      try {
        input.addData(texts.zipWithIndex.map { case ((id, t), i) =>
          mblob(id, i + 1, t, isNew = true)
        })
        q.processAllAvailable()
        val stream = spark.table("m9_parity_out").collect()
          .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"),
            r.getAs[Long]("hamming"), r.getAs[Boolean]("near_dup"))).toSet
        assert(stream == batch,
          s"stream pair set must equal batch m9:\n stream=$stream\n batch=$batch")
      } finally q.stop()
    }
  }

  test("media near-dup stream: standing index seeds never pair; arrivals flag against them") {
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val input = MemoryStream[StreamOps.SeedableMediaEvent]
      val q = StreamOps.mediaNearDupStream(spark, input.toDS(),
          ttl = java.time.Duration.ZERO)
        .writeStream.format("memory").queryName("m9_guard_out")
        .outputMode(OutputMode.Append).start()
      try {
        // two byte-identical seed images (1581 = 3·lcm(31,17): same
        // id-derived dimensions as 0): index only, no emission
        input.addData(Seq(mblob(0, 1, "img zero", isNew = false),
          mblob(1581, 2, "img zero", isNew = false)))
        q.processAllAvailable()
        assert(spark.table("m9_guard_out").count() == 0,
          "seeds must never pair with each other")
        // a new arrival with the same pixels: flagged against BOTH seeds
        input.addData(Seq(mblob(3162, 101, "img zero", isNew = true)))
        q.processAllAvailable()
        val got = spark.table("m9_guard_out").collect()
          .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"),
            r.getAs[Long]("hamming"), r.getAs[Boolean]("near_dup"),
            r.getAs[Boolean]("a_new"), r.getAs[Boolean]("b_new"))).toSet
        assert(got == Set(
          (0L, 3162L, 0L, true, false, true),
          (1581L, 3162L, 0L, true, false, true)), s"got $got")
      } finally q.stop()
    }
  }

  test("html extract stream: audit rows bit-equal batch x41 on the same pages") {
    import org.apache.spark.sql.SaveMode
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val texts = Seq(
      5L -> ("alpha beta gamma delta epsilon zeta eta theta " * 4).trim,
      10L -> "short tail doc", // id%5==0 -> ad block; short chunk drops
      21L -> ("one two three four five six seven eight nine ten " * 3).trim)
    val dir = java.nio.file.Files.createTempDirectory("x41stream-").toString
    texts.map { case (id, t) => (id, t, "en", "s0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/documents.parquet")
    val batch = graft.operators.Html.htmlExtract(spark, dir).collect()
      .map(r => (0 to 8).map(r.get).toList).toSet
    val input = MemoryStream[StreamOps.HtmlPage]
    val q = StreamOps.htmlExtractStream(spark, input.toDS())
      .writeStream.format("memory").queryName("x41_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(texts.zipWithIndex.map { case ((id, t), i) =>
        StreamOps.HtmlPage(id,
          Timestamp.valueOf(f"2024-01-01 00:${i + 1}%02d:00"),
          graft.operators.Html.buildHtml(id, t))
      })
      q.processAllAvailable()
      val stream = spark.table("x41_out")
        .select("doc_id", "html_len", "html_crc32", "n_blocks", "n_content",
          "n_boiler", "main_len", "main_crc32", "boiler_len")
        .collect().map(r => (0 to 8).map(r.get).toList).toSet
      assert(stream == batch, s"stream=$stream batch=$batch")
    } finally q.stop()
  }

  test("blocklist stream: verdicts bit-equal batch x42 on the same docs") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.SaveMode
    val rows = Seq(
      (1L, "clean words only here", "s0"),
      (2L, "mentions dup here", "s0"),
      (3L, "read the privacy policy", "src7"),
      (4L, "code { inside } braces", "s1"))
    val dir = java.nio.file.Files.createTempDirectory("x42stream-").toString
    rows.map { case (id, t, src) => (id, t, "en", src, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/documents.parquet")
    val batch = graft.operators.Curation.blocklistFilter(spark, dir).collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getString(2))).toSet
    val input = MemoryStream[(Long, Timestamp, String, String)]
    val q = StreamOps.blocklistFilterStream(
        input.toDF().toDF("doc_id", "ts", "source", "text"))
      .writeStream.format("memory").queryName("x42_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(rows.zipWithIndex.map { case ((id, t, src), i) =>
        (id, Timestamp.valueOf(f"2024-01-01 00:${i + 1}%02d:00"), src, t)
      })
      q.processAllAvailable()
      val stream = spark.table("x42_out").collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Boolean]("keep"),
          r.getAs[String]("reason"))).toSet
      assert(stream == batch, s"stream=$stream batch=$batch")
    } finally q.stop()
  }

  test("web ingest gate streams p2's per-page verdicts in production order") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamOps.FetchEvent]
    val q = StreamOps.webIngestGateStream(spark, input.toDS())
      .writeStream.format("memory").queryName("p2_stream_out")
      .outputMode(OutputMode.Append).start()
    val ts = Timestamp.valueOf("2024-01-01 00:01:00")
    def page(body: String) = s"<html><body>$body</body></html>"
    try {
      input.addData(Seq(
        // robots first: site1 disallows /a/b1 — the page content is
        // fine, but a compliant crawler never even fetched it
        StreamOps.FetchEvent(1, ts, "http://site1.example.com/a/b1",
          "s0", page("<p>perfectly good content that is long enough</p>")),
        // extraction-yield gate: every block short or link-dense
        StreamOps.FetchEvent(2, ts, "http://norules.example.org/x",
          "s0", page("<p>tiny</p><nav><a href=\"/a\">all link text here</a></nav>")),
        // blocklist on the EXTRACTED text: the bad word is inside a
        // content-classified block
        StreamOps.FetchEvent(3, ts, "http://norules.example.org/y",
          "s0", page("<p>this doc mentions dup once it does</p>")),
        // domain rule fires before the word rule, batch x42 order
        StreamOps.FetchEvent(4, ts, "http://norules.example.org/z",
          "src7", page("<p>dup on a blocked domain long enough here</p>")),
        // clean page, allow-override URL: /a/b23 beats site2's /a/b2
        StreamOps.FetchEvent(5, ts, "HTTP://WWW.Site2.Example.Com/a/b23",
          "s0", page("<p>clean words only here and long enough too</p>")),
        // the blocked word sits at the START of the SECOND content
        // block: the space join keeps it a standalone token (a newline
        // join would fuse it with the first block's last word and let
        // it escape the gate)
        StreamOps.FetchEvent(6, ts, "http://norules.example.org/w",
          "s0", page("<p>first content block long enough here</p>" +
            "<p>dup starts the second content block here</p>")),
        // the blocked word lives in a BOILERPLATE-classified chunk (a
        // short trailing <p>, under the 25-char content floor): the gate
        // runs over the FULL parsed text, so the page is still rejected
        // — batch p2 gates the whole corpus column, and stream-admits-
        // what-batch-blocks is the unsafe divergence direction
        StreamOps.FetchEvent(7, ts, "http://norules.example.org/v",
          "s0", page("<p>clean content block long enough right here</p>" +
            "<p>dup here</p>"))))
      q.processAllAvailable()
      val got = spark.table("p2_stream_out").collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("reason"))).toMap
      assert(got == Map(
        1L -> "robots_disallowed", 2L -> "no_content", 3L -> "blocked_word",
        4L -> "blocked_domain", 5L -> "ok", 6L -> "blocked_word",
        7L -> "blocked_word"),
        s"got $got")
      // the canonical URL column rides the shared x43 kernel
      val canon5 = spark.table("p2_stream_out").collect()
        .find(_.getAs[Long]("doc_id") == 5L).get.getAs[String]("canon_url")
      assert(canon5 == "http://site2.example.com/a/b23", canon5)
    } finally q.stop()
  }

  test("web ingest gate agrees with batch p2 on the synthesized per-page stages") {
    import org.apache.spark.sql.SaveMode
    implicit val sqlCtx = spark.sqlContext
    // short texts (< 80 chars: one extraction chunk, so the extracted
    // main text round-trips the corpus column exactly)
    val docs = Seq(
      (1L, "the a fast w1 w2 w3 w4 w5 the a fast w6", "s0"),   // robots
      (30L, "tiny", "s0"),                                     // no_content
      (24L, "the a fast w1 w2 w3 w4 w5 the a fast w6", "src7"), // blocked_domain
      (25L, "this doc mentions dup once it does", "s0"),       // blocked_word
      (26L, "the a fast v1 v2 v3 v4 v5 the a fast v6", "s0"))  // ok throughout
    val dir = tempSfDir()
    import spark.implicits._
    docs.map { case (id, text, src) => (id, text, "en", src, text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/documents.parquet")
    val batch = graft.operators.Curation.webPipelineDecision(spark, dir,
        minQuality = 0.0, positiveSources = Seq("s0"))
      .collect().map(r => (r.getLong(0), r.getString(3))).toMap
    val input = MemoryStream[StreamOps.FetchEvent]
    val q = StreamOps.webIngestGateStream(spark, input.toDS())
      .writeStream.format("memory").queryName("p2_agree_out")
      .outputMode(OutputMode.Append).start()
    val ts = Timestamp.valueOf("2024-01-01 00:01:00")
    try {
      input.addData(docs.map { case (id, text, src) =>
        StreamOps.FetchEvent(id, ts,
          graft.operators.Urls.buildUrl(id), src,
          graft.operators.Html.buildHtml(id, text))
      })
      q.processAllAvailable()
      val stream = spark.table("p2_agree_out").collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("reason"))).toMap
      // every fixture's batch verdict is a PER-PAGE stage or a clean
      // pass (no keyed dedup fires: distinct canon families, distinct
      // norms; the ok doc also clears batch's corpus-level gates), so
      // the stream gate must reproduce it reason-for-reason
      assert(stream == batch, s"stream=$stream batch=$batch")
    } finally q.stop()
  }

  test("url frontier stream drops robots-disallowed URLs before dedup state") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamOps.UrlEvent]
    val q = StreamOps.urlFrontierStream(spark, input.toDS())
      .writeStream.format("memory").queryName("x44_stream_out")
      .outputMode(OutputMode.Append).start()
    def ev(id: Long, minute: Int, url: String) =
      StreamOps.UrlEvent(id,
        Timestamp.valueOf(f"2024-01-01 00:$minute%02d:00"), url)
    try {
      input.addData(Seq(
        // site1 disallows /a/b1 (and the /a/b12 override doesn't match):
        // never enqueued, never a row of dedup state — whatever spelling
        ev(1, 1, "HTTP://WWW.Site1.Example.Com/a/b1?q=1"),
        // /a/b23 hits site2's disallow /a/b2 AND allow /a/b23; the longer
        // allow prefix wins (REP longest-match) -> admitted
        ev(2, 1, "http://site2.example.com/a/b23?q=1"),
        // a domain with no rules at all: REP default-allow
        ev(3, 2, "http://norules.example.org/a/b1")))
      q.processAllAvailable()
      val got = spark.table("x44_stream_out").collect()
        .map(_.getAs[Long]("doc_id")).toSet
      assert(got == Set(2L, 3L), s"got $got")
    } finally q.stop()
  }

  test("url frontier stream: first arrival per canonical resource wins") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamOps.UrlEvent]
    val q = StreamOps.urlFrontierStream(spark, input.toDS())
      .writeStream.format("memory").queryName("x43_out")
      .outputMode(OutputMode.Append).start()
    def ev(id: Long, minute: Int, url: String) =
      StreamOps.UrlEvent(id,
        Timestamp.valueOf(f"2024-01-01 00:$minute%02d:00"), url)
    try {
      // three spellings of one resource across THREE batches (arrival
      // order must be deterministic) + one distinct resource
      input.addData(Seq(
        ev(10, 1, "HTTP://WWW.A.B/x/./y?b=2&a=1#f"),
        ev(12, 1, "http://other.c/z")))
      q.processAllAvailable()
      input.addData(Seq(ev(11, 2, "http://a.b:80/x/y?a=1&b=2")))
      q.processAllAvailable()
      input.addData(Seq(ev(13, 3, "http://a.b/x/q/../y?utm_source=s&a=1&b=2")))
      q.processAllAvailable()
      val got = spark.table("x43_out").collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("canon_url"))).toSet
      // doc 10 arrived first for the shared resource; 11 and 13 are later
      // spellings of the same canonical form and never emit
      assert(got == Set(
        (10L, "http://a.b/x/y?a=1&b=2"),
        (12L, "http://other.c/z")), s"got $got")
    } finally q.stop()
  }

  test("frame sampling fans a video blob out to sampled frame rows") {
    import org.apache.spark.sql.SaveMode
    val dir = java.nio.file.Files.createTempDirectory("mm-").toString
    spark.range(6).selectExpr("id AS doc_id",
      "repeat('x', 5000) AS text", "'en' AS lang", "'s0' AS source",
      "5000L AS n_chars")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/documents.parquet")
    // videos are doc_ids ≡ 2 (mod 3): 2 and 5; 5000 bytes -> 5 frames, every 4th
    val got = graft.operators.Multimodal.frameSamples(spark, dir).collect()
    assert(got.map(_.doc_id).toSet == Set(2L, 5L))
    assert(got.count(_.doc_id == 2L) == 2, "frames 0 and 4 sampled")
    assert(got.forall(f => f.ts_ms == f.frame_idx * 40L))
  }

  test("speed radar is stateless and per-row") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = StreamOps.speedRadar(input.toDF())
      .writeStream.format("memory").queryName("radar_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(Seq(ev(1, 0, 1L, "a", 89.0), ev(2, 1, 1L, "a", 95.0)))
      q.processAllAvailable()
      val rows = spark.table("radar_out").collect()
      assert(rows.map(_.getAs[Long]("event_id")).toSeq == Seq(2L))
    } finally q.stop()
  }

  test("congestion daily closes 1-day windows once the watermark passes") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = StreamOps.congestionDaily(input.toDF(), watermark = "0 seconds")
      .writeStream.format("memory").queryName("daily_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(Seq(
        ev(1, 0, 1L, "purchase", 10.0), ev(2, 30, 2L, "purchase", 20.0),
        ev(3, 40, 3L, "click", 99.0)))
      q.processAllAvailable()
      // event two days later pushes the watermark past day one
      input.addData(Seq(ev(9, 60 * 48, 9L, "purchase", 1.0)))
      q.processAllAvailable()
      val rows = spark.table("daily_out").collect()
      assert(rows.length == 1)
      assert(rows.head.getAs[String]("day") == "2024/01/01")
      assert(rows.head.getAs[Long]("n_trips") == 2L)
      assert(rows.head.getAs[Double]("avg_amount") == 15.0)
    } finally q.stop()
  }

  test("congestion daily drops events that arrive behind the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = StreamOps.congestionDaily(input.toDF(), watermark = "0 seconds")
      .writeStream.format("memory").queryName("daily_late_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(Seq(ev(1, 0, 1L, "purchase", 10.0)))
      q.processAllAvailable()
      // two days later: watermark passes day one, its window emits (count 1)
      input.addData(Seq(ev(9, 60 * 48, 9L, "purchase", 1.0)))
      q.processAllAvailable()
      assert(spark.table("daily_late_out").count() == 1)
      // a LATE day-one event arrives behind the watermark: dropped — the
      // closed window must not re-emit or revise
      input.addData(Seq(ev(2, 30, 2L, "purchase", 99.0)))
      q.processAllAvailable()
      // push the watermark further so any (incorrect) revision would flush
      input.addData(Seq(ev(10, 60 * 96, 10L, "purchase", 1.0)))
      q.processAllAvailable()
      val day1 = spark.table("daily_late_out").collect()
        .filter(_.getAs[String]("day") == "2024/01/01")
      assert(day1.length == 1, "closed window must emit exactly once")
      assert(day1.head.getAs[Long]("n_trips") == 1L,
        "late event must not be counted")
    } finally q.stop()
  }

  test("rate of change updates per key as batches arrive") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = StreamOps.rateOfChange(spark, input.toDS())
      .writeStream.format("memory").queryName("rate_out")
      .outputMode(OutputMode.Update).start()
    try {
      input.addData(Seq(ev(1, 0, 1L, "click", 10.0)))
      q.processAllAvailable()
      input.addData(Seq(ev(2, 60, 1L, "click", 20.0))) // +10 over 1h
      q.processAllAvailable()
      val rows = spark.table("rate_out").collect()
        .map(r => (r.getAs[Long]("t_last_us"), r.getAs[Double]("rate_per_hour")))
        .sortBy(_._1)
      assert(rows.length == 2)
      assert(rows.head._2 == 0.0, "single observation has rate 0")
      assert(math.abs(rows.last._2 - 10.0) < 1e-9, "10 units per hour")
    } finally q.stop()
  }

  test("synthetic rate source drives an operator end to end") {
    import org.apache.spark.sql.streaming.Trigger
    val events = graft.sources.EventSources.syntheticEventStream(spark, rowsPerBatch = 200)
    val q = StreamOps.speedRadar(events, limit = 100.0)
      .writeStream.format("memory").queryName("rate_src_out")
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .start()
    try {
      q.awaitTermination(60000)
      val n = spark.table("rate_src_out").count()
      assert(n > 0, "some synthetic values exceed the limit")
      assert(spark.table("rate_src_out")
        .collect().forall(_.getAs[Double]("value") >= 100.0))
    } finally q.stop()
  }

  test("interval join attributes purchases to clicks within the window") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val df = input.toDF()
    val q = StreamOps.purchaseAttribution(df, df)
      .writeStream.format("memory").queryName("attr_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(Seq(
        ev(1, 0, 1L, "click"),
        ev(2, 5, 1L, "purchase", 42.0),   // 5 min after click: attributed
        ev(3, 30, 1L, "click"),
        ev(4, 55, 1L, "purchase", 7.0),   // 25 min after last click: not
        ev(5, 5, 2L, "purchase", 9.0)))   // other user, no click
      q.processAllAvailable()
      val rows = spark.table("attr_out").collect()
      assert(rows.length == 1)
      assert(rows.head.getAs[Long]("purchase_id") == 2L)
      assert(rows.head.getAs[Long]("click_id") == 1L)
    } finally q.stop()
  }

  test("left-outer interval join emits unattributed purchases at the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val df = input.toDF()
    val q = StreamOps.purchaseAttributionOuter(df, df, watermark = "10 minutes")
      .writeStream.format("memory").queryName("attr_outer_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(Seq(
        ev(1, 0, 1L, "click"),
        ev(2, 5, 1L, "purchase", 42.0),   // attributed -> emits immediately
        ev(3, 6, 2L, "purchase", 9.0)))   // no click: held until watermark
      q.processAllAvailable()
      val inner = spark.table("attr_outer_out").collect()
      assert(inner.length == 1 && inner.head.getAs[Long]("purchase_id") == 2L,
        "unmatched purchase must NOT emit while a click could still arrive")
      // advance event time far past purchase_ts + interval + watermark —
      // on BOTH sides: each side's watermark is computed after its filter,
      // so a future click alone would not move the purchase-side watermark
      // and the join's global (min) watermark would hold outer rows back
      input.addData(Seq(ev(4, 120, 3L, "purchase"), ev(5, 121, 3L, "click")))
      q.processAllAvailable()
      // one more batch so the advanced watermark produces the outer rows
      input.addData(Seq(ev(6, 200, 5L, "purchase"), ev(7, 201, 5L, "click")))
      q.processAllAvailable()
      // purchase 3 (t=6) and purchase 4 (t=120, click arrived AFTER it, so
      // outside c_ts <= p_ts) both emit null-click once the watermark
      // passes their windows; purchase 6 (t=200) stays pending
      val rows = spark.table("attr_outer_out").collect()
      assert(rows.length == 3, s"got ${rows.mkString(";")}")
      Seq(3L -> 9.0, 4L -> 1.0).foreach { case (pid, v) =>
        val outer = rows.find(_.getAs[Long]("purchase_id") == pid).get
        assert(outer.isNullAt(outer.fieldIndex("click_id")), s"null click for $pid")
        assert(outer.getAs[Double]("value") == v)
      }
    } finally q.stop()
  }

  test("streaming dedup keeps the first of identical events within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = StreamOps.dedupStream(input.toDF())
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(Seq(ev(1, 0, 1L, "click", 5.0), ev(2, 1, 1L, "click", 5.0),
        ev(3, 2, 1L, "click", 6.0)))
      q.processAllAvailable()
      val rows = spark.table("dedup_out").collect()
      assert(rows.length == 2, "duplicate (user,type,value) dropped")
      assert(rows.map(_.getAs[Long]("event_id")).toSet == Set(1L, 3L))
    } finally q.stop()
  }

  private def doc(id: Long, minute: Int, source: String, nTokens: Long): Doc =
    Doc(id,
      Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00"),
      source, nTokens)

  test("streaming x20: bins close on budget crossing and idle sources flush by timer") {
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val input = MemoryStream[Doc]
      val q = StreamOps.packSequencesStream(spark, input.toDS(),
          binTokens = 10L, flushGapMs = 30L * 60 * 1000, watermark = "0 seconds")
        .writeStream.format("memory").queryName("pack_out")
        .outputMode(OutputMode.Append).start()
      try {
        // s0: 4+4+4 tokens, priors 0,4,8 -> all bin 0 (like the batch
        // window form: a doc's bin is floor(prior/B))
        input.addData(Seq(doc(1, 0, "s0", 4), doc(2, 1, "s0", 4),
          doc(3, 2, "s0", 4)))
        q.processAllAvailable()
        assert(spark.table("pack_out").count() == 0, "bin 0 still open")
        // next doc has prior 12 -> bin 1: bin 0 closes and emits
        input.addData(Seq(doc(4, 3, "s0", 5)))
        q.processAllAvailable()
        val closed = spark.table("pack_out").collect()
          .map(r => (r.getAs[String]("source"), r.getAs[Long]("bin_id"),
            r.getAs[Long]("n_docs"), r.getAs[Long]("bin_tokens"),
            r.getAs[Double]("fill_ratio")))
        assert(closed.toSeq == Seq(("s0", 0L, 3L, 12L, 1.2)),
          s"got ${closed.toSeq}")
        // s1 at minute 90 advances the watermark past s0's flush horizon
        // (minute 3 + 30 min); the next batch discharges the timer
        input.addData(Seq(doc(5, 90, "s1", 2)))
        q.processAllAvailable()
        input.addData(Seq(doc(6, 95, "s1", 2)))
        q.processAllAvailable()
        val all = spark.table("pack_out").collect()
          .map(r => (r.getAs[String]("source"), r.getAs[Long]("bin_id"),
            r.getAs[Long]("n_docs"), r.getAs[Long]("bin_tokens")))
        assert(all.toSet.contains(("s0", 1L, 1L, 5L)),
          s"idle open bin must flush by timer, got ${all.toSeq}")
      } finally q.stop()
    }
  }

  test("streaming x20 state schema evolves: a V2 processor resumes a V1 checkpoint losslessly") {
    // the upgrade path a long-lived streaming job takes: stop on a
    // checkpoint written by the V1 PackState schema, restart with a
    // processor whose state carries a NEW (nullable) field. Avro state
    // encoding (set at the FIRST run; unsaferow does not evolve) fills the
    // added field with None when reading old rows — no state loss, bins
    // keep accumulating mid-bin across the upgrade.
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val prevEnc = spark.conf.getOption("spark.sql.streaming.stateStore.encodingFormat")
      spark.conf.set("spark.sql.streaming.stateStore.encodingFormat", "avro")
      try {
        val input = MemoryStream[Doc]
        val ckpt = tempSfDir(); val outDir = tempSfDir()
        val flushGap = 30L * 60 * 1000
        def runOnce(out: org.apache.spark.sql.Dataset[PackedBin]): Unit = {
          val q = out.writeStream.format("parquet")
            .option("path", outDir).option("checkpointLocation", ckpt)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .outputMode(OutputMode.Append).start()
          try q.awaitTermination() finally q.stop()
        }
        // run 1 — production V1 processor: 4+4 tokens leave bin 0 OPEN
        input.addData(Seq(doc(1, 0, "s0", 4), doc(2, 1, "s0", 4)))
        runOnce(StreamOps.packSequencesStream(spark, input.toDS(),
          binTokens = 10L, flushGapMs = flushGap, watermark = "0 seconds"))
        val afterV1 = scala.util.Try(spark.read.parquet(outDir).count()).getOrElse(0L)
        assert(afterV1 == 0L, s"bin 0 must still be open after run 1, got $afterV1 rows")

        // run 2 — V2 processor on the same checkpoint: doc 3 extends the
        // V1 bin (prior 8 -> still bin 0), doc 4 crosses into bin 1 and
        // closes it. n_docs=3 / bin_tokens=12 are only possible if the V1
        // state row was read through the evolved schema.
        input.addData(Seq(doc(3, 2, "s0", 4), doc(4, 3, "s0", 5)))
        runOnce(input.toDS().withWatermark("ts", "0 seconds")
          .groupByKey(_.source)
          .transformWithState(
            new StreamEvolutionFixtures.PackSequencesProcessorV2(10L, flushGap),
            org.apache.spark.sql.streaming.TimeMode.EventTime(),
            OutputMode.Append()))
        val rows = spark.read.parquet(outDir).collect()
          .map(r => (r.getAs[String]("source"), r.getAs[Long]("bin_id"),
            r.getAs[Long]("n_docs"), r.getAs[Long]("bin_tokens"),
            r.getAs[Double]("fill_ratio")))
        assert(rows.toSeq == Seq(("s0", 0L, 3L, 12L, 1.2)),
          s"V1 state must survive the schema upgrade, got ${rows.toSeq}")
      } finally prevEnc match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.encodingFormat", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.encodingFormat")
      }
    }
  }

  test("streaming h1: Misra-Gries keeps the true heavy hitter in fixed state") {
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val input = MemoryStream[Event]
      val q = StreamOps.heavyHittersStream(spark, input.toDS(),
          k = 4, minShare = 0.3)
        .writeStream.format("memory").queryName("hh_out")
        .outputMode(OutputMode.Append).start()
      try {
        // user 7 is 50% of the click stream; 10 distinct noise users share
        // the rest — more distinct users than the k=4 counters can hold
        val heavy = (1 to 10).map(i => ev(i, i, 7L, "click"))
        val noise = (1 to 10).map(i => ev(100 + i, 10 + i, 100L + i, "click"))
        input.addData(heavy ++ noise)
        q.processAllAvailable()
        val rows = spark.table("hh_out").collect()
          .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("est_count"),
            r.getAs[Long]("type_total")))
        // MG guarantee: true count 10 > n/k = 5, so user 7 MUST survive,
        // undercounted by at most n/k
        assert(rows.map(_._1).contains(7L),
          s"true heavy hitter evicted, got ${rows.toSeq}")
        val (_, est, tot) = rows.find(_._1 == 7L).get
        assert(tot == 20L, s"running total $tot")
        assert(est >= 5L && est <= 10L, s"estimate $est outside MG bounds")
        assert(rows.length <= 4, "at most k candidates ever emitted")
        // next batch: totals continue from state, estimate grows
        input.addData((1 to 5).map(i => ev(200 + i, 40 + i, 7L, "click")))
        q.processAllAvailable()
        val again = spark.table("hh_out").collect()
          .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("type_total")))
        assert(again.contains((7L, 25L)), s"got ${again.toSeq}")
      } finally q.stop()
    }
  }

  test("session windows merge events within the gap and split across it") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = StreamOps.sessionWindows(input.toDF(), watermark = "0 seconds")
      .writeStream.format("memory").queryName("sess_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(Seq(ev(1, 0, 1L, "a", 1.0), ev(2, 10, 1L, "a", 2.0),
        ev(3, 120, 1L, "a", 3.0)))
      q.processAllAvailable()
      input.addData(Seq(ev(9, 60 * 48, 9L, "a", 1.0))) // advance watermark
      q.processAllAvailable()
      val rows = spark.table("sess_out")
        .collect().map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_events")))
      assert(rows.count(_ == (1L, 2L)) == 1, "first session has two events")
      assert(rows.count(_ == (1L, 1L)) == 1, "second session has one event")
    } finally q.stop()
  }

  test("streaming PSI drift: stable type scores zero, shifted type pages") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // trusted reference: type A and B both concentrated in bin 0
    val ref = StreamOps.referenceHistogram(Seq(
      (1L, Timestamp.valueOf("2024-01-01 00:00:00"), 1L, "A", 10.0),
      (2L, Timestamp.valueOf("2024-01-01 00:00:00"), 1L, "A", 10.0),
      (3L, Timestamp.valueOf("2024-01-01 00:00:00"), 1L, "A", 10.0),
      (4L, Timestamp.valueOf("2024-01-01 00:00:00"), 1L, "A", 10.0),
      (5L, Timestamp.valueOf("2024-01-01 00:00:00"), 1L, "B", 10.0),
      (6L, Timestamp.valueOf("2024-01-01 00:00:00"), 1L, "B", 10.0),
      (7L, Timestamp.valueOf("2024-01-01 00:00:00"), 1L, "B", 10.0),
      (8L, Timestamp.valueOf("2024-01-01 00:00:00"), 1L, "B", 10.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value"))
    val input = MemoryStream[Event]
    val q = StreamOps.psiDriftStream(input.toDF(), ref, watermark = "0 seconds")
      .writeStream.format("memory").queryName("psi_out")
      .outputMode(OutputMode.Append).start()
    try {
      // day one: A stays in bin 0 (stable), B shifts wholly to bin 9,
      // and C is a brand-new type with NO reference histogram at all
      input.addData(Seq(
        ev(1, 0, 1L, "A", 10.0), ev(2, 10, 1L, "A", 10.0),
        ev(3, 20, 1L, "A", 10.0), ev(4, 30, 1L, "A", 10.0),
        ev(5, 0, 1L, "B", 480.0), ev(6, 10, 1L, "B", 480.0),
        ev(7, 20, 1L, "B", 480.0), ev(8, 30, 1L, "C", 10.0)))
      q.processAllAvailable()
      input.addData(Seq(ev(9, 60 * 48, 9L, "A", 10.0)))
      q.processAllAvailable()
      val unknowns = spark.table("psi_out").collect()
        .map(r => (r.getAs[String]("event_type"),
          r.getAs[Boolean]("unknown_reference")))
        .sortBy(_._1)
      assert(unknowns.toSeq == Seq(("A", false), ("B", false), ("C", true)),
        s"got ${unknowns.toSeq}")
      val cRow = spark.table("psi_out").collect()
        .find(_.getAs[String]("event_type") == "C").get
      assert(cRow.isNullAt(cRow.fieldIndex("psi")),
        "an unknown-reference type has no PSI to report")
      assert(cRow.getAs[Boolean]("drifted"),
        "a type the reference has never seen must page")
      val rows = spark.table("psi_out").collect()
        .filter(_.getAs[String]("event_type") != "C")
        .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("n_window"),
          r.getAs[Double]("psi"), r.getAs[Boolean]("drifted")))
        .sortBy(_._1)
      // expected PSI via the same ordered fold the op runs
      def psi(ref: Seq[Long], nRef: Long, win: Seq[Long], nWin: Long): Double = {
        val s = ref.zip(win).foldLeft(0.0) { case (acc, (cr, cn)) =>
          val p = (cr + 1.0) / (nRef + 10)
          val q = (cn + 1.0) / (nWin + 10)
          acc + (p - q) * math.log(p / q)
        }
        BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
      val refBins = 4L +: Seq.fill(9)(0L)
      val psiA = psi(refBins, 4, 4L +: Seq.fill(9)(0L), 4)
      val psiB = psi(refBins, 4, Seq.fill(9)(0L) :+ 3L, 3)
      assert(rows.toSeq == Seq(
        ("A", 4L, psiA, false), ("B", 3L, psiB, true)), s"got ${rows.toSeq}")
      assert(psiA == 0.0, "identical distributions must score exactly zero")
    } finally q.stop()
  }

  test("streaming media dedup: byte-identical re-uploads drop, distinct payloads pass") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def blob(id: Long, minute: Int, typ: String, bytes: String) =
      StreamOps.MediaEvent(id,
        new Timestamp(Timestamp.valueOf("2024-01-01 00:00:00").getTime
          + minute * 60000L), typ, bytes.getBytes("UTF-8"))
    val input = MemoryStream[StreamOps.MediaEvent]
    val q = StreamOps.mediaDedupStream(spark, input.toDS())
      .writeStream.format("memory").queryName("media_dedup_out")
      .outputMode(OutputMode.Append).start()
    try {
      // batch 1: original + same-batch re-upload + same bytes under a
      // DIFFERENT media type (passes: the type is part of the key)
      input.addData(Seq(blob(1, 0, "image", "pixels"),
        blob(2, 1, "image", "pixels"), blob(3, 2, "video", "pixels")))
      q.processAllAvailable()
      // batch 2: cross-batch re-upload (state remembers) + a new payload
      input.addData(Seq(blob(4, 5, "image", "pixels"),
        blob(5, 6, "image", "other")))
      q.processAllAvailable()
      val got = spark.table("media_dedup_out").collect()
        .map(r => r.getAs[Long]("doc_id")).sorted.toSeq
      assert(got == Seq(1L, 3L, 5L), s"got $got")
    } finally q.stop()
  }

  test("streaming SCD2 apply: micro-batched ingest lands on the batch cdc2 history") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def o(key: Long, cust: Long, price: Double, date: String) =
      (key, cust, price, Timestamp.valueOf(s"$date 00:00:00"))
    // customer 1 spans three years with year-1994 SPLIT across batches
    // (the upsert-accumulate path); customer 2 appears only in batch 2
    // (the fresh-insert path); customer 3 never changes after batch 1
    // (the anti-join passthrough path)
    val batches = Seq(
      Seq(o(1, 1L, 100.10, "1994-03-01"), o(2, 1L, 50.25, "1995-07-01"),
        o(3, 3L, 77.77, "1996-01-15")),
      Seq(o(4, 1L, 10.65, "1994-11-20"), o(5, 2L, 500.00, "1997-05-05")),
      Seq(o(6, 1L, 1.00, "1998-02-02"), o(7, 2L, 0.99, "1997-12-31")))
    val input = MemoryStream[(Long, Long, Double, Timestamp)]
    val state = new StreamOps.Scd2State(spark)
    val q = StreamOps.scd2ApplyStream(
      input.toDF().toDF("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"),
      state).start()
    try {
      batches.foreach { b => input.addData(b); q.processAllAvailable() }
    } finally q.stop()
    // batch truth: cdc2 over ALL the orders written as a table
    val dir = tempSfDir()
    batches.flatten
      .toDF("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
      .write.parquet(s"$dir/orders.parquet")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1),
        Option(r.get(2)).map(_.asInstanceOf[Int]), r.getBoolean(3),
        r.getLong(4), r.getDouble(5))).toSeq
    val want = rows(graft.operators.DataOps.scd2History(spark, dir))
    val got = rows(state.current)
    assert(got == want, s"stream $got != batch $want")
    // and the replayed history carries the expected shape: 1994 closed by
    // 1995, the 1998 row current, the split-year spend accumulated exactly
    assert(got.contains((1L, 1994, Some(1995), false, 2L, 110.75)))
    assert(got.contains((1L, 1998, None, true, 1L, 1.0)))
  }

  test("streaming PSI drift: binning mismatch vs the reference fails loudly") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ref = StreamOps.referenceHistogram(Seq(
      (1L, Timestamp.valueOf("2024-01-01 00:00:00"), 1L, "A", 10.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value"),
      bins = 20, binWidth = 25.0)
    val input = MemoryStream[Event]
    // monitor runs the DEFAULT binning (10 bins x 50.0) against a 20-bin
    // reference: the tripwire must raise, not zip into null PSI
    val q = StreamOps.psiDriftStream(input.toDF(), ref, watermark = "0 seconds")
      .writeStream.format("memory").queryName("psi_mismatch_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(Seq(ev(1, 0, 1L, "A", 10.0)))
      q.processAllAvailable()
      input.addData(Seq(ev(9, 60 * 48, 9L, "A", 10.0)))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x =>
          Option(x.getMessage).toSeq ++ messages(x.getCause))
      assert(messages(e).exists(_.contains("bins/binWidth mismatch")),
        s"expected the binning tripwire, got: ${messages(e)}")
    } finally q.stop()
  }

  test("streaming contamination guard matches batch c1 verdicts and passes clean docs") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // corpus: one benchmark doc (src0) + three streamed docs — doc 10
    // embeds a full 8-token benchmark shingle, doc 11 is clean, doc 12 is
    // too short to carry any shingle
    val benchText = "b1 b2 b3 b4 b5 b6 b7 b8 b9"
    val streamed = Seq(
      (10L, s"x b1 b2 b3 b4 b5 b6 b7 b8 y"),
      (11L, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10"),
      (12L, "too short"))
    val dir = tempSfDir()
    ((1L, benchText, "src0") +: streamed.map { case (id, t) => (id, t, "web") })
      .map { case (id, t, s) => (id, t, "en", s, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val bench = graft.operators.Decontamination.benchShingles(spark, dir)

    val input = MemoryStream[StreamOps.TextDoc]
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Boolean)]
    val q = StreamOps.contaminationGuardStream(input.toDF(), bench) {
      (verdicts, _) =>
        got ++= verdicts.collect().map(r =>
          (r.getLong(0), r.getLong(2), r.getBoolean(3)))
    }.start()
    try {
      def doc(id: Long) = StreamOps.TextDoc(id,
        Timestamp.valueOf("2024-01-01 00:00:00"), streamed.find(_._1 == id).get._2)
      input.addData(Seq(doc(10L), doc(11L)))
      q.processAllAvailable()
      input.addData(Seq(doc(12L)))
      q.processAllAvailable()
    } finally q.stop()

    // every streamed doc got exactly one verdict
    assert(got.map(_._1).sorted.toSeq == Seq(10L, 11L, 12L), s"got $got")
    // flagged docs agree with batch c1 (same kernel, same join key)
    val c1 = graft.operators.Decontamination.contaminated(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    got.foreach { case (id, nHit, keep) =>
      assert(c1.getOrElse(id, 0L) == nHit,
        s"doc $id: stream n_hit $nHit != batch ${c1.getOrElse(id, 0L)}")
      assert(keep == (nHit == 0L), s"doc $id: keep/$nHit inconsistent")
    }
    assert(!got.find(_._1 == 10L).get._3, "doc 10 must be flagged")
    assert(got.find(_._1 == 11L).get._3 && got.find(_._1 == 12L).get._3,
      "clean and short docs must keep")
  }

  test("streaming quality scores are bit-equal to the batch classifier") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // separable fixture (the CurationSpec cls1 shape): train batch-side,
    // stream the same docs through the scorer, compare margins exactly
    val pos = Seq("aurora", "borealis", "cascade", "dynamo")
    val neg = Seq("sludge", "clickbait", "spamword", "lorem")
    val rows = (0 until 8).map { i =>
      val vocab = if (i < 4) pos else neg
      val rot = i % 4
      (i.toLong, (vocab.drop(rot) ++ vocab.take(rot)).mkString(" "),
        if (i < 4) "hi" else "lo")
    }
    val dir = tempSfDir()
    rows.map { case (id, t, s) => (id, t, "en", s, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val wq = graft.operators.Curation.trainQualityWeights(
      spark, dir, positiveSources = Seq("hi"))
    val batch = graft.operators.Curation.qualityClassifier(
      spark, dir, positiveSources = Seq("hi"))
      .collect().map(r => (r.getLong(0),
        (r.getLong(3), r.getLong(4), r.getBoolean(5)))).toMap

    val input = MemoryStream[StreamOps.TextDoc]
    val q = StreamOps.qualityScoreStream(input.toDF(), wq)
      .writeStream.format("memory").queryName("quality_stream_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(rows.take(5).map { case (id, t, _) =>
        StreamOps.TextDoc(id, Timestamp.valueOf("2024-01-01 00:00:00"), t) })
      q.processAllAvailable()
      input.addData(rows.drop(5).map { case (id, t, _) =>
        StreamOps.TextDoc(id, Timestamp.valueOf("2024-01-01 00:01:00"), t) })
      q.processAllAvailable()
      val streamed = spark.table("quality_stream_out")
        .collect().map(r => (r.getLong(0),
          (r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
      assert(streamed.keySet == batch.keySet, "every doc scored once")
      streamed.foreach { case (id, s) =>
        assert(s == batch(id), s"doc $id: stream $s != batch ${batch(id)}")
      }
    } finally q.stop()
  }

  test("streaming Pareto verdicts are bit-equal to the batch cls2 filter") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val pos = Seq("aurora", "borealis", "cascade", "dynamo")
    val neg = Seq("sludge", "clickbait", "spamword", "lorem")
    val rows = (0 until 8).map { i =>
      val vocab = if (i < 4) pos else neg
      val rot = i % 4
      (i.toLong, (vocab.drop(rot) ++ vocab.take(rot)).mkString(" "),
        if (i < 4) "hi" else "lo")
    }
    val dir = tempSfDir()
    rows.map { case (id, t, s) => (id, t, "en", s, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val wq = graft.operators.Curation.trainQualityWeights(
      spark, dir, positiveSources = Seq("hi"))
    val batch = graft.operators.Curation.paretoFilter(
      spark, dir, positiveSources = Seq("hi"))
      .collect().map(r => (r.getLong(0),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5)))).toMap

    val input = MemoryStream[StreamOps.TextDoc]
    val q = StreamOps.paretoFilterStream(input.toDF(), wq)
      .writeStream.format("memory").queryName("pareto_stream_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(rows.take(3).map { case (id, t, _) =>
        StreamOps.TextDoc(id, Timestamp.valueOf("2024-01-01 00:00:00"), t) })
      q.processAllAvailable()
      input.addData(rows.drop(3).map { case (id, t, _) =>
        StreamOps.TextDoc(id, Timestamp.valueOf("2024-01-01 00:01:00"), t) })
      q.processAllAvailable()
      val streamed = spark.table("pareto_stream_out")
        .collect().map(r => (r.getLong(0),
          (r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5)))).toMap
      assert(streamed.keySet == batch.keySet, "every doc gets a verdict once")
      streamed.foreach { case (id, s) =>
        assert(s == batch(id), s"doc $id: stream $s != batch ${batch(id)}")
      }
    } finally q.stop()
  }

  test("streaming KS drift: stable type scores zero, shifted type pages, unknown pages") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // trusted reference: A and B both concentrated in bin 0
    val ref = StreamOps.referenceHistogram(Seq(
      (1L, Timestamp.valueOf("2024-01-01 00:00:00"), 1L, "A", 10.0),
      (2L, Timestamp.valueOf("2024-01-01 00:00:00"), 1L, "A", 10.0),
      (3L, Timestamp.valueOf("2024-01-01 00:00:00"), 1L, "A", 10.0),
      (4L, Timestamp.valueOf("2024-01-01 00:00:00"), 1L, "A", 10.0),
      (5L, Timestamp.valueOf("2024-01-01 00:00:00"), 1L, "B", 10.0),
      (6L, Timestamp.valueOf("2024-01-01 00:00:00"), 1L, "B", 10.0),
      (7L, Timestamp.valueOf("2024-01-01 00:00:00"), 1L, "B", 10.0),
      (8L, Timestamp.valueOf("2024-01-01 00:00:00"), 1L, "B", 10.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value"))
    val input = MemoryStream[Event]
    val q = StreamOps.ksDriftStream(input.toDF(), ref, watermark = "0 seconds")
      .writeStream.format("memory").queryName("ks_out")
      .outputMode(OutputMode.Append).start()
    try {
      // day one: A stays in bin 0 (D = 0), B shifts wholly to bin 9
      // (D = 1: cum gap |4*3 - 0*4| = 12 on every bin before the last),
      // C is a brand-new type with no reference row
      input.addData(Seq(
        ev(1, 0, 1L, "A", 10.0), ev(2, 10, 1L, "A", 10.0),
        ev(3, 20, 1L, "A", 10.0), ev(4, 30, 1L, "A", 10.0),
        ev(5, 0, 1L, "B", 480.0), ev(6, 10, 1L, "B", 480.0),
        ev(7, 20, 1L, "B", 480.0), ev(8, 30, 1L, "C", 10.0)))
      q.processAllAvailable()
      input.addData(Seq(ev(9, 60 * 48, 9L, "A", 10.0)))
      q.processAllAvailable()
      val rows = spark.table("ks_out").collect()
        .map(r => (r.getAs[String]("event_type"),
          if (r.isNullAt(r.fieldIndex("ks_num"))) -1L
          else r.getAs[Long]("ks_num"),
          if (r.isNullAt(r.fieldIndex("ks"))) -1.0 else r.getAs[Double]("ks"),
          r.getAs[Boolean]("unknown_reference"),
          r.getAs[Boolean]("drifted")))
        .sortBy(_._1)
      assert(rows.toSeq == Seq(
        ("A", 0L, 0.0, false, false),
        ("B", 12L, 1.0, false, true),
        ("C", -1L, -1.0, true, true)), s"got ${rows.toSeq}")
    } finally q.stop()
  }

  test("streaming KS on a grid-resolving binning equals batch drift2 exactly") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.SaveMode
    // batch drift2's crafted fixture: old window = reference, new window
    // = stream; every distinct value gets its own bin (width 10 covers
    // 10..140 in 15 bins), so the binned statistic IS the exact KS
    def rows(ids: Range, t: String, typ: String, vs: Seq[Double]) =
      ids.zip(vs).map { case (i, v) =>
        (i.toLong, Timestamp.valueOf(t), 1L, typ, v, "{}") }
    val old =
      rows(1 to 4, "2024-01-10 00:00:00", "A", Seq(10, 20, 30, 40)) ++
      rows(9 to 12, "2024-01-10 00:00:00", "B", Seq(10, 20, 30, 40)) ++
      rows(17 to 20, "2024-01-10 00:00:00", "C", Seq(10, 20, 30, 40))
    val fresh =
      rows(5 to 8, "2024-01-20 00:00:00", "A", Seq(10, 20, 30, 40)) ++
      rows(13 to 16, "2024-01-20 00:00:00", "B", Seq(110, 120, 130, 140)) ++
      rows(21 to 24, "2024-01-20 00:00:00", "C", Seq(10, 20, 50, 60))
    val dir = tempSfDir()
    (old ++ fresh)
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/events.parquet")
    val batch = graft.operators.DataOps.ksDrift(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(3), r.getDouble(4), r.getBoolean(5)))
      .toMap
    val ref = StreamOps.referenceHistogram(
      old.toDF("event_id", "ts", "user_id", "event_type", "value", "props"),
      bins = 15, binWidth = 10.0)
    val input = MemoryStream[Event]
    val q = StreamOps.ksDriftStream(input.toDF(), ref,
      watermark = "0 seconds", bins = 15, binWidth = 10.0)
      .writeStream.format("memory").queryName("ks_eq_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(fresh.map { case (id, ts, u, typ, v, _) =>
        Event(id, ts, u, typ, v) })
      q.processAllAvailable()
      input.addData(Seq(Event(99L, Timestamp.valueOf("2024-01-25 00:00:00"),
        9L, "A", 10.0)))
      q.processAllAvailable()
      val streamed = spark.table("ks_eq_out").collect()
        .filter(_.getAs[Long]("window_start_us") ==
          Timestamp.valueOf("2024-01-20 00:00:00").getTime * 1000)
        .map(r => r.getAs[String]("event_type") ->
          (r.getAs[Long]("ks_num"), r.getAs[Double]("ks"),
            r.getAs[Boolean]("drifted")))
        .toMap
      assert(streamed.keySet == Set("A", "B", "C"), s"got ${streamed.keySet}")
      streamed.foreach { case (typ, s) =>
        assert(s == batch(typ), s"type $typ: stream $s != batch ${batch(typ)}")
      }
    } finally q.stop()
  }

  test("referenceHistogram excludes null values from mass and totals") {
    import spark.implicits._
    // a null value must not clamp into the top bin nor count toward
    // n_ref — the batch drift ops apply the identical rule, which is
    // what keeps the stream-vs-batch equality pins honest on real feeds
    val ref = StreamOps.referenceHistogram(Seq(
      (1L, Timestamp.valueOf("2024-01-01 00:00:00"), 1L, "A", Some(10.0)),
      (2L, Timestamp.valueOf("2024-01-01 00:00:00"), 1L, "A", None))
      .toDF("event_id", "ts", "user_id", "event_type", "value"))
      .collect().head
    assert(ref.getAs[Long]("n_ref") == 1L, s"got ${ref.toSeq}")
    assert(ref.getSeq[Long](ref.fieldIndex("ref_counts")).toSeq ==
      (1L +: Seq.fill(9)(0L)),
      s"got ${ref.getSeq[Long](ref.fieldIndex("ref_counts")).toSeq}")
  }

  test("streaming KS drift: binning mismatch vs the reference fails loudly") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ref = StreamOps.referenceHistogram(Seq(
      (1L, Timestamp.valueOf("2024-01-01 00:00:00"), 1L, "A", 10.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value"),
      bins = 20, binWidth = 25.0)
    // a frame missing the binning columns entirely fails at the driver
    val bare = ref.drop("ref_bins", "ref_bin_width")
    val e0 = intercept[IllegalArgumentException] {
      StreamOps.ksDriftStream(spark.range(1).toDF(), bare)
    }
    assert(e0.getMessage.contains("ref_bins"), e0.getMessage)
    val input = MemoryStream[Event]
    val q = StreamOps.ksDriftStream(input.toDF(), ref, watermark = "0 seconds")
      .writeStream.format("memory").queryName("ks_mismatch_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(Seq(ev(1, 0, 1L, "A", 10.0)))
      q.processAllAvailable()
      input.addData(Seq(ev(9, 60 * 48, 9L, "A", 10.0)))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x =>
          Option(x.getMessage).toSeq ++ messages(x.getCause))
      assert(messages(e).exists(_.contains("bins/binWidth mismatch")),
        s"expected the binning tripwire, got: ${messages(e)}")
    } finally q.stop()
  }

  test("streaming chi2 drift equals batch drift3 exactly and pages unknown types") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.SaveMode
    // batch drift3's crafted fixture re-split: old window = reference,
    // new window = stream. drift3 is ALREADY binned on the default grid,
    // so the streaming statistic must be bit-equal with no grid-resolving
    // fixture tricks — A identical (chi2 0, dof 1), B disjoint bins
    // (chi2 8.0 > 3.841, drifted), C one occupied bin (dof 0, never
    // rejects). E streams with no reference row -> unknown pages.
    def rows(ids: Range, t: String, typ: String, vs: Seq[Double]) =
      ids.zip(vs).map { case (i, v) =>
        (i.toLong, Timestamp.valueOf(t), 1L, typ, v, "{}") }
    val old =
      rows(1 to 4, "2024-01-10 00:00:00", "A", Seq(10, 10, 60, 60)) ++
      rows(9 to 12, "2024-01-10 00:00:00", "B", Seq(10, 10, 10, 10)) ++
      rows(17 to 20, "2024-01-10 00:00:00", "C", Seq(10, 10, 10, 10))
    val fresh =
      rows(5 to 8, "2024-01-20 00:00:00", "A", Seq(10, 10, 60, 60)) ++
      rows(13 to 16, "2024-01-20 00:00:00", "B", Seq(110, 110, 110, 110)) ++
      rows(21 to 24, "2024-01-20 00:00:00", "C", Seq(10, 10, 10, 10))
    val dir = tempSfDir()
    (old ++ fresh)
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/events.parquet")
    val batch = graft.operators.DataOps.chi2Drift(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getInt(3),
        r.getInt(4), r.getDouble(5), r.getBoolean(6)))
      .toMap
    val ref = StreamOps.referenceHistogram(
      old.toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val input = MemoryStream[Event]
    val q = StreamOps.chi2DriftStream(input.toDF(), ref,
      watermark = "0 seconds")
      .writeStream.format("memory").queryName("chi2_eq_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(fresh.map { case (id, ts, u, typ, v, _) =>
        Event(id, ts, u, typ, v) } :+
        Event(98L, Timestamp.valueOf("2024-01-20 00:00:00"), 9L, "E", 10.0))
      q.processAllAvailable()
      input.addData(Seq(Event(99L, Timestamp.valueOf("2024-01-25 00:00:00"),
        9L, "A", 10.0)))
      q.processAllAvailable()
      val out = spark.table("chi2_eq_out").collect()
        .filter(_.getAs[Long]("window_start_us") ==
          Timestamp.valueOf("2024-01-20 00:00:00").getTime * 1000)
      val streamed = out.filter(!_.getAs[Boolean]("unknown_reference"))
        .map(r => r.getAs[String]("event_type") ->
          (r.getAs[Long]("n_ref"), r.getAs[Long]("n_window"),
            r.getAs[Int]("n_bins"), r.getAs[Int]("dof"),
            r.getAs[Double]("chi2"), r.getAs[Boolean]("drifted")))
        .toMap
      assert(streamed.keySet == Set("A", "B", "C"), s"got ${streamed.keySet}")
      streamed.foreach { case (typ, s) =>
        assert(s == batch(typ), s"type $typ: stream $s != batch ${batch(typ)}")
      }
      val unknown = out.filter(_.getAs[Boolean]("unknown_reference"))
      assert(unknown.map(_.getAs[String]("event_type")).toSeq == Seq("E"),
        s"got ${unknown.toSeq}")
      assert(unknown.head.isNullAt(unknown.head.fieldIndex("chi2")) &&
        unknown.head.getAs[Boolean]("drifted"),
        s"unknown row must page with NULL chi2: ${unknown.head.toSeq}")
    } finally q.stop()
  }

  test("streaming chi2 drift: binning mismatch vs the reference fails loudly") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ref = StreamOps.referenceHistogram(Seq(
      (1L, Timestamp.valueOf("2024-01-01 00:00:00"), 1L, "A", 10.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value"),
      bins = 20, binWidth = 25.0)
    // a frame missing the binning columns entirely fails at the driver
    val bare = ref.drop("ref_bins", "ref_bin_width")
    val e0 = intercept[IllegalArgumentException] {
      StreamOps.chi2DriftStream(spark.range(1).toDF(), bare)
    }
    assert(e0.getMessage.contains("ref_bins"), e0.getMessage)
    val input = MemoryStream[Event]
    val q = StreamOps.chi2DriftStream(input.toDF(), ref, watermark = "0 seconds")
      .writeStream.format("memory").queryName("chi2_mismatch_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(Seq(ev(1, 0, 1L, "A", 10.0)))
      q.processAllAvailable()
      input.addData(Seq(ev(9, 60 * 48, 9L, "A", 10.0)))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x =>
          Option(x.getMessage).toSeq ++ messages(x.getCause))
      assert(messages(e).exists(_.contains("bins/binWidth mismatch")),
        s"expected the binning tripwire, got: ${messages(e)}")
    } finally q.stop()
  }

  test("KS/chi2 streams: a KNOWN reference row with zero counts pages with NULL stat") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // referenceHistogram can't emit an all-zero row itself (nulls are
    // filtered before the groupBy), but a caller composing a reference
    // from a type inventory can — batch ksDrift's degenerate-window
    // convention must hold: the statistic is NULL (never 0/0 = NaN) and
    // drifted is true, since a type with zero reference mass that now
    // produces events is definitionally drifted.
    val refA = StreamOps.referenceHistogram(Seq(
      (1L, Timestamp.valueOf("2024-01-01 00:00:00"), 1L, "A", 10.0),
      (2L, Timestamp.valueOf("2024-01-01 00:00:00"), 1L, "A", 10.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value"))
    val zeroB = Seq(("B", 0L, Seq.fill(10)(0L), 10, 50.0))
      .toDF("event_type", "n_ref", "ref_counts", "ref_bins", "ref_bin_width")
    val ref = refA.unionByName(zeroB)
    Seq(
      ("ks0_out", StreamOps.ksDriftStream(_: org.apache.spark.sql.DataFrame,
        ref, watermark = "0 seconds"), "ks"),
      ("chi20_out", StreamOps.chi2DriftStream(_: org.apache.spark.sql.DataFrame,
        ref, watermark = "0 seconds"), "chi2")
    ).foreach { case (sink, mk, statCol) =>
      val input = MemoryStream[Event]
      val q = mk(input.toDF())
        .writeStream.format("memory").queryName(sink)
        .outputMode(OutputMode.Append).start()
      try {
        input.addData(Seq(
          ev(1, 0, 1L, "A", 10.0), ev(2, 10, 1L, "A", 10.0),
          ev(3, 0, 1L, "B", 10.0), ev(4, 10, 1L, "B", 480.0)))
        q.processAllAvailable()
        input.addData(Seq(ev(9, 60 * 48, 9L, "A", 10.0)))
        q.processAllAvailable()
        val rows = spark.table(sink).collect()
          .map(r => r.getAs[String]("event_type") ->
            (r.isNullAt(r.fieldIndex(statCol)),
              r.getAs[Boolean]("unknown_reference"),
              r.getAs[Boolean]("drifted")))
          .toMap
        assert(rows.keySet == Set("A", "B"), s"$sink got ${rows.keySet}")
        // stable known type: defined statistic, no page
        assert(rows("A") == ((false, false, false)), s"$sink A: ${rows("A")}")
        // zero-count KNOWN reference: NULL statistic, known, pages
        assert(rows("B") == ((true, false, true)), s"$sink B: ${rows("B")}")
      } finally q.stop()
    }
  }
}
