package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.streaming.StreamOps

/** Streaming throughput benchmark: drives the Structured Streaming operators
  * end-to-end (file source → operator → noop sink) over the driver's events
  * table split into micro-batch files, and reports sustained events/sec per
  * operator — the number to hold against the reference's single-node Flink
  * throughput. The events table is replicated (disjoint event_id ranges) so
  * per-micro-batch launch overhead amortizes into a sustained rate.
  * Usage: runMain graft.tools.StreamBench [sfDir] [chunks] [replicas] [names...]
  * (extra args = only run the rows listed; a name that matches no row
  * fails the run with exit 2)
  */
object StreamBench {

  /** Stages the stream input: `events` as up to `chunks` parquet files under
    * `dir`, each one micro-batch (maxFilesPerTrigger=1), in event-time
    * order — file i holds a ts range wholly before file i+1's, and the
    * files' mtimes increase in that order because the file source takes
    * them by mtime. Unordered batches would each span the whole input, and
    * from the second batch on the watermark would drop most rows as late.
    * Returns the files in batch order.
    */
  private[graft] def stage(events: DataFrame, chunks: Int,
                           dir: String): Seq[java.io.File] = {
    events.repartitionByRange(chunks, col("ts")).sortWithinPartitions("ts")
      .write.mode("overwrite").parquet(dir)
    val files = new java.io.File(dir).listFiles().toSeq
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .sortBy(_.getName) // part-NNNNN: the range partition index
    files.zipWithIndex.foreach { case (f, i) =>
      f.setLastModified(1700000000000L + i * 1000L)
    }
    files
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val chunks = args.lift(1).map(_.toInt).getOrElse(8)
    val replicas = args.lift(2).map(_.toInt).getOrElse(10)
    val only = args.drop(3).toSet
    // Shuffle partitions = state-store instances for stateful streams; size
    // them to state volume, not core count — every extra partition is an
    // extra store snapshot+commit per micro-batch (2-3x throughput at 8 vs
    // 32 here). Scan parallelism still uses all cores via file splits.
    val spark = graft.GraftSession.local(
      conf = Seq("spark.sql.shuffle.partitions" -> "8"))
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val in = "/tmp/graft_stream_in"
    val base = graft.Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    // Replica ids offset by max(event_id)+1, not the row count: with sparse
    // ids a count-based offset would collide replicas and stateful ops
    // would silently drop rows, deflating the reported throughput.
    val Array(baseN, idSpan) = base
      .agg(count(lit(1)), max(col("event_id")) + 1).as[(Long, Long)]
      .first() match { case (c, s) => Array(c, s) }
    val events = spark.range(replicas).toDF("rep").crossJoin(base)
      .select((col("event_id") + col("rep") * idSpan).as("event_id"),
        col("ts"), col("user_id"), col("event_type"), col("value"))
    val n = baseN * replicas
    stage(events, chunks, in)
    val schema = spark.read.parquet(in).schema

    def stream(): DataFrame = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(in)

    // Every row's name, selected or not: a listed name outside it is a typo.
    val rows = scala.collection.mutable.Set.empty[String]

    /** The best rate of `runs` runs of one row (see Bench.scala on sandbox
      * thread freezes): `n` units over the wall time from building and
      * starting the query (`start` gets a fresh checkpoint dir, deleted
      * once the run ends) until it terminates. `n` is evaluated only for a
      * selected row, once, before the first run, so a row whose staging
      * sits behind `n` (a lazy (input, size) pair) stages only when it
      * runs, and untimed.
      */
    def best(name: String, n: => Long, unit: String, runs: Int = 2)(
        start: String => StreamingQuery): Option[(String, Double)] = {
      rows += name
      if (only.nonEmpty && !only(name)) None else {
        val units = n
        val rate = Seq.fill(runs) {
          val ckpt = new org.apache.hadoop.fs.Path(
            s"/tmp/graft_stream_ckpt/$name-${System.nanoTime()}")
          val t0 = System.nanoTime()
          try {
            start(ckpt.toString).awaitTermination()
            units / ((System.nanoTime() - t0) / 1e9)
          } finally ckpt.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .delete(ckpt, true)
        }.max
        println(f"[stream-bench] $name: $rate%.0f $unit/sec ($units $unit)")
        Some(name -> rate)
      }
    }
    // the common row: an operator's frame into the noop sink
    def bestNoop(name: String, units: => Long = n, unit: String = "events")(
        out: => DataFrame) =
      best(name, units, unit)(ckpt => out.writeStream.format("noop")
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt).start())

    val results = Seq(
      bestNoop("radar_stateless")(StreamOps.speedRadar(stream())),
      bestNoop("daily_window")(StreamOps.congestionDaily(stream())),
      bestNoop("session_window")(StreamOps.sessionWindows(stream())),
      bestNoop("dedup_watermark")(StreamOps.dedupStream(stream())),
      bestNoop("accident_runs_fmgws")(
        StreamOps.accidentRuns(spark,
          stream().as[StreamOps.Event], emitPerReport = false).toDF()),
      bestNoop("interval_join")(
        StreamOps.purchaseAttribution(stream(), stream())),
      bestNoop("interval_join_outer")(
        StreamOps.purchaseAttributionOuter(stream(), stream())),
      bestNoop("psi_drift_window")(StreamOps.psiDriftStream(stream(),
        StreamOps.referenceHistogram(base))),
      bestNoop("ks_drift_window")(StreamOps.ksDriftStream(stream(),
        StreamOps.referenceHistogram(base))),
      bestNoop("chi2_drift_window")(StreamOps.chi2DriftStream(stream(),
        StreamOps.referenceHistogram(base))))

    // cdc2 twin: orders-shaped events through the foreachBatch MERGE loop;
    // the measured rate pays the full per-batch apply INCLUDING the state
    // localCheckpoint, i.e. the upsert write amplification a daily-ingest
    // dimension actually sustains. scd2ApplyStream returns a writer (it
    // owns the foreachBatch sink), so it can't go through the noop sink.
    val scd2 = best("scd2_apply_fb", n, "events") { ckpt =>
      StreamOps.scd2ApplyStream(
        stream().select(col("event_id").as("o_orderkey"),
          col("user_id").as("o_custkey"), col("value").as("o_totalprice"),
          col("ts").as("o_orderdate")), new StreamOps.Scd2State(spark))
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .start()
    }

    // The 9-token synthetic doc shape shared by every text-twin bench row
    // (contamination guard, quality score, Pareto gate): one definition so
    // a tweak can never make the rows silently measure different inputs.
    def textify(df: DataFrame) = df.select(
      col("event_id").as("doc_id"), col("ts"),
      concat_ws(" ", col("event_type"),
        concat(lit("u"), pmod(col("user_id"), lit(50000))),
        concat(lit("g"), pmod(col("event_id"), lit(5000))),
        concat(lit("v"), floor(col("value")).cast("long")),
        concat(lit("a"), pmod(col("user_id"), lit(7))),
        concat(lit("b"), pmod(col("event_id"), lit(13))),
        concat(lit("c"), pmod(col("event_id"), lit(17))),
        concat(lit("d"), pmod(col("user_id"), lit(3))),
        lit("zz")).as("text"))

    // c1 twin: events re-shaped into 9-token synthetic docs; the benchmark
    // side is the shingle set of every 10th doc (a ~10% true-hit rate), a
    // static frame materialized ONCE, untimed (best evaluates the pair's
    // count before the first run), and broadcast into each micro-batch's
    // stateless join — the measured rate pays the full
    // per-batch verdict (shingle kernel + broadcast join + per-doc rollup
    // + noop write).
    lazy val guardBench = (textify(base)
      .filter(pmod(col("doc_id"), lit(10)) === 0)
      .select(explode(array_distinct(
        graft.functions.Sketches.shingleHash64(col("text"), 8))).as("h"))
      .distinct().localCheckpoint(), n)
    val guard = best("contamination_guard_fb", guardBench._2, "events") { ckpt =>
      StreamOps.contaminationGuardStream(textify(stream()), guardBench._1) {
        (verdicts, _) =>
          verdicts.write.format("noop").mode("overwrite").save()
      }.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .start()
    }

    // cls1 twin: the trained-classifier scoring projection over the same
    // 9-token synthetic docs — stateless per-row codegen work (64-term
    // quantized dot + verdict), the ingest-time quality gate's rate. The
    // weight values don't affect the per-row cost, so a deterministic
    // synthetic vector stands in for a trained one.
    val wq = Array.tabulate(65)(j => ((j * 2654435761L) % 2000001L) - 1000000L)
    val qualityRow = bestNoop("quality_score_stateless")(
      StreamOps.qualityScoreStream(textify(stream()), wq))

    // the ingest-time Pareto acceptance gate: the same scoring projection
    // plus the LUT verdict — measures the marginal cost of the acceptance
    // rule over plain scoring
    val paretoRow = bestNoop("pareto_filter_stateless")(
      StreamOps.paretoFilterStream(textify(stream()), wq))

    // x41's ingest twin: page synthesis + the full tag-walk audit per
    // event — the parse dominates, which is the honest rate for an
    // extraction-at-ingest stage
    val htmlRow = bestNoop("html_extract_stateless")(
      StreamOps.htmlExtractStream(spark,
        textify(stream()).as[(Long, java.sql.Timestamp, String)]
          .map { case (id, ts, text) =>
            StreamOps.HtmlPage(id, ts, graft.operators.Html.buildHtml(id, text))
          }))

    // x43's frontier twin: canonicalize + first-arrival dedup on the
    // canonical key (watermark-bounded state, one row per live resource);
    // synthetic URLs reuse the x43 identity/variance split so real dedup
    // state builds up (one canonical resource per 100-id bucket)
    val frontierRow = bestNoop("url_frontier_dedup")(
      StreamOps.urlFrontierStream(spark,
        stream().select(col("event_id"), col("ts"))
          .as[(Long, java.sql.Timestamp)]
          .map { case (id, ts) =>
            StreamOps.UrlEvent(id, ts, graft.operators.Urls.buildUrl(id))
          }))

    // x42's ingest twin: one stateless codegen projection per batch
    val blockRow = bestNoop("blocklist_stateless")(
      StreamOps.blocklistFilterStream(
        textify(stream()).withColumn("source",
          concat(lit("src"), pmod(col("doc_id"), lit(20))))))

    // p2's ingest face: canonicalize + REP verdict + page parse +
    // extraction-yield + blocklist per fetch event — the composed
    // per-page gate; page synthesis reuses x41's, URLs x43's, so the
    // rate carries the full parse AND the frontier kernels
    val ingestRow = bestNoop("web_ingest_gate_stateless")(
      StreamOps.webIngestGateStream(spark,
        textify(stream()).as[(Long, java.sql.Timestamp, String)]
          .map { case (id, ts, text) =>
            StreamOps.FetchEvent(id, ts, graft.operators.Urls.buildUrl(id),
              s"src${id % 20}", graft.operators.Html.buildHtml(id, text))
          }))

    // p2's FULL-funnel streaming face: containers land as files, each
    // closed container gates through the verdict funnel and the verdict
    // table is maintained (Update semantics). The rate is docs/sec
    // admitted through the COMPLETE verdict funnel (frontier kernel +
    // keepers + content gates + contamination + the memo-shared trained
    // cls gate). Containers are staged in the CRAWL-QUEUE geometry: a
    // fetcher fleet partitions its frontier per host/queue
    // (politeness), so every fetch of one canonical URL — host and
    // path are PART of the URL — lands in one queue's containers; the
    // synthesized URL keyspace keys on doc_id%100, so the 20-bucket
    // staging below is exactly that geometry. THREE row families:
    // `web_funnel_fb` is the INCREMENTAL default (per batch, only the
    // batch-touched canon/norm groups recompute and MERGE),
    // `web_funnel_fb_full` the full per-batch recompute over
    // everything seen so far (the equality reference; O(corpus) per
    // landing batch), and `web_funnel_fb_striped` the incremental mode
    // under ADVERSARIAL doc_id-striped staging, where every container
    // holds a slice of every URL group. The CLAIM "per-batch cost
    // tracks batch-touched groups, not corpus size" is about the
    // corpus-proportional term, and at bench corpus sizes wall-clock
    // cannot see it (fixed per-batch stage count dominates row work —
    // both modes measure ~flat seconds, and the incremental closure's
    // extra stages make its ABSOLUTE rate the lower one here; the
    // crossover needs frontiers orders of magnitude past a bench
    // slice). So each family also publishes the DETERMINISTIC
    // `..._gaterows_lastfirst_pct` row: rows the gate composition ran
    // over in the last 3 batches over the first 3, in percent — the
    // work-size the wall-clock converges to as the frontier outgrows
    // fixed stage cost. Full recompute grows with the frontier (~20
    // equal landings -> ~950%); incremental under queue staging stays
    // at batch-touched-group size (~100%) however much corpus has
    // accumulated; incremental under striped staging honestly reads
    // ~950% too — every batch TOUCHES every group, the closure is the
    // cost, and the instrument says so rather than flattering the
    // default.
    val nShards = 20
    def stageFunnel(tag: String, shardIdExpr: Option[String]): (String, Long) = {
      val warcDir = s"/tmp/graft_stream_warc_funnel_$tag"
      // fresh staging per run: the file stream dedups by PATH, so a
      // stale staging from a different corpus must never leak in
      val hPath = new org.apache.hadoop.fs.Path(warcDir)
      val hFs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (hFs.exists(hPath)) hFs.delete(hPath, true)
      val nDocs = graft.Tables.documents(spark, sfDir).count()
      graft.sources.Warc.writeWarcFiles(spark, sfDir, warcDir,
        shardSize = math.max(1L, nDocs / nShards).toInt,
        shardIdExpr = shardIdExpr)
      (warcDir, nDocs)
    }
    def funnelRowFor(name: String, incremental: Boolean,
                     shardIdExpr: Option[String], runs: Int)
        : Seq[(String, Double)] = {
      lazy val staged = stageFunnel(name, shardIdExpr)
      val states = scala.collection.mutable.ArrayBuffer
        .empty[StreamOps.WebFunnelState]
      // rate: best of N (the stall-band discipline)
      best(name, staged._2, "docs", runs) { ckpt =>
        val state = new StreamOps.WebFunnelState(spark, sfDir,
          incremental = incremental)
        states += state
        StreamOps.webPipelineVerdictStream(
            graft.sources.Warc.warcRecordFileStream(spark, staged._1), state)
          .trigger(Trigger.AvailableNow())
          .option("checkpointLocation", ckpt).start()
      }.toSeq ++ states.headOption.map { _ =>
        // the gate-rows slope is a function of the landed data, not the
        // run — repeat runs must agree, and the require makes drift loud
        val slopes = states.toSeq.map { state =>
          val got = state.verdicts.count()
          require(got == staged._2,
            s"funnel stream gated $got of ${staged._2} docs")
          val gateRows = state.batchGateRows.toSeq
          require(gateRows.length >= 6, s"need >=6 batches for the slope, " +
            s"got ${gateRows.length}")
          100.0 * gateRows.takeRight(3).sum.toDouble / gateRows.take(3).sum
        }
        require(slopes.distinct.size == 1,
          s"gate-rows slope must be deterministic: $slopes")
        println(f"[stream-bench] ${name}_gaterows_lastfirst_pct: ${slopes.head}%.0f%%")
        s"${name}_gaterows_lastfirst_pct" -> slopes.head
      }
    }
    // the crawl-queue bucket: URL keyspace (doc_id%100) split across
    // the landing containers
    val queueExpr = Some(s"(doc_id % 100) div ${math.max(1, 100 / nShards)}")
    val funnelRows = Seq(
      funnelRowFor("web_funnel_fb", incremental = true, queueExpr, runs = 2),
      funnelRowFor("web_funnel_fb_full", incremental = false, queueExpr,
        runs = 2),
      // adversarial geometry: one run — only its deterministic
      // gate-rows row is the point; its rate pays closure + full-size
      // recompute and is strictly dominated
      funnelRowFor("web_funnel_fb_striped", incremental = true, None,
        runs = 1))
      .flatten

    // transformWithState ops require the RocksDB provider. firstSeenTws is
    // excluded: its ProcessingTime time mode keeps shouldRunAnotherBatch
    // true forever, so an AvailableNow run never terminates.
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val twsResults = Seq(
      bestNoop("sessionize_tws_timers")(
        StreamOps.sessionizeTws(spark, stream().as[StreamOps.Event]).toDF()),
      bestNoop("windowed_counts_tws")(
        StreamOps.windowedCountsTws(spark, stream().as[StreamOps.Event]).toDF()),
      bestNoop("heavy_hitters_tws")(
        StreamOps.heavyHittersStream(spark, stream().as[StreamOps.Event]).toDF()),
      bestNoop("pack_sequences_tws")(
        StreamOps.packSequencesStream(spark,
          stream().select(col("event_id").as("doc_id"), col("ts"),
            col("event_type").as("source"),
            (pmod(col("user_id"), lit(96)) + 5).as("n_tokens"))
            .as[StreamOps.Doc]).toDF()),
      // d2 twin: events re-shaped into small synthetic docs (mostly-unique
      // token tuples, occasional collisions -> real pair emissions); TTL
      // ZERO selects the EventTime/no-TTL mode AvailableNow can terminate
      bestNoop("minhash_lsh_tws")(
        StreamOps.minhashLshDedupStream(spark,
          stream().select(col("event_id").as("doc_id"), col("ts"),
            concat_ws(" ", col("event_type"),
              concat(lit("u"), pmod(col("user_id"), lit(50000))),
              concat(lit("g"), pmod(col("event_id"), lit(5000))),
              concat(lit("v"), floor(col("value")).cast("long"))).as("text"))
            .as[StreamOps.TextDoc],
          maxBucketSize = 64,
          ttl = java.time.Duration.ZERO).toDF()),
      // d8 twin: same synthetic docs with a 10%-new split — the standing
      // 90% seeds state without pairing, the 10% feed probes it, so the
      // measured rate is the production ingest shape (state writes
      // dominated by seeds, scoring work by feed bucket occupancy)
      bestNoop("incremental_dedup_tws")(
        StreamOps.incrementalDedupStream(spark,
          stream().select(col("event_id").as("doc_id"), col("ts"),
            concat_ws(" ", col("event_type"),
              concat(lit("u"), pmod(col("user_id"), lit(50000))),
              concat(lit("g"), pmod(col("event_id"), lit(5000))),
              concat(lit("v"), floor(col("value")).cast("long"))).as("text"),
            (pmod(col("event_id"), lit(10)) === 0).as("is_new"))
            .as[StreamOps.SeedableDoc],
          maxBucketSize = 64,
          ttl = java.time.Duration.ZERO).toDF()),
      // m9 twin: events wrapped in REAL id-derived BMP containers so the
      // measured rate pays the full ingest path — decode + aHash + band
      // fan-out + standing-index compare — with the same 10%-new split
      // and bucket cap as the d8 row (tiny near-flat images collide
      // heavily, so the cap is load-bearing here too)
      bestNoop("media_neardup_tws")(
        StreamOps.mediaNearDupStream(spark,
          stream().select(col("event_id"), col("ts"), col("user_id"),
              col("value"), (pmod(col("event_id"), lit(10)) === 0).as("is_new"))
            .as[(Long, java.sql.Timestamp, Long, Double, Boolean)]
            .map { case (id, ts, uid, v, isNew) =>
              StreamOps.SeedableMediaEvent(id, ts, "image",
                graft.operators.Multimodal.buildBmp(
                  1 + (id % 31).toInt, 1 + (id % 17).toInt,
                  s"u${uid % 50000} v${v.toLong}".getBytes("UTF-8")),
                isNew)
            },
          maxBucketSize = 64,
          ttl = java.time.Duration.ZERO).toDF()))

    // Shared staging for the two WARC-chunk rows: REAL containers
    // (documents sharded 50/container, the batch builder) split into
    // 32 KiB chunks with arbitrary boundaries, one part file per bucket
    // of WHOLE containers with chunk order intact — the file source's
    // cross-file processing order is unspecified, and the reassembler's
    // per-container in-order contract (the Kafka-partition-per-transfer
    // shape) must hold however files interleave.
    val warcChunkSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("container_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("seq",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("bytes",
        org.apache.spark.sql.types.BinaryType)))
    val stagedWarcCache =
      scala.collection.mutable.Map.empty[(Int, Boolean), (String, Long)]
    def stagedWarcChunks(chunkBytes: Int,
                         gz: Boolean = false): (String, Long) =
      stagedWarcCache.getOrElseUpdate((chunkBytes, gz), {
        import org.apache.spark.sql.Row
        val baseDocs = graft.Tables.documents(spark, sfDir)
          .select(col("doc_id"), col("text"))
          .as[(Long, String)].collect().sortBy(_._1)
        // replicate like the events rows (disjoint id ranges) so per-batch
        // launch + state-commit overhead amortizes into a sustained rate
        val docSpan = baseDocs.map(_._1).max + 1
        val docs = (0 until replicas).flatMap(r =>
          baseDocs.map { case (id, t) => (id + r * docSpan, t) })
        val nRecs = docs.length.toLong
        val perContainer: Seq[Seq[Row]] =
          docs.grouped(50).zipWithIndex.map { case (g, ci) =>
            val container =
              if (gz) graft.sources.Warc.buildGzContainer(g)
              else graft.sources.Warc.buildContainer(g)
            container.grouped(chunkBytes).zipWithIndex.map { case (b, i) =>
              Row(ci.toLong, new java.sql.Timestamp(0L), i.toLong, b)
            }.toSeq
          }.toSeq
        val buckets = perContainer.zipWithIndex
          .groupBy(_._2 % chunks).toSeq.sortBy(_._1)
          .map(_._2.flatMap(_._1))
        val warcIn =
          s"/tmp/graft_stream_warc_in_$chunkBytes${if (gz) "_gz" else ""}"
        spark.createDataFrame(
            spark.sparkContext.parallelize(buckets, buckets.length)
              .flatMap(identity),
            warcChunkSchema)
          .write.mode("overwrite").parquet(warcIn)
        (warcIn, nRecs)
      })
    def warcChunkStream(path: String) =
      spark.readStream.schema(warcChunkSchema)
        .option("maxFilesPerTrigger", 1).parquet(path)
        .as[StreamOps.WarcChunk]

    // one row per record stream over staged chunks
    def warcRow(name: String, chunkBytes: Int, gz: Boolean = false)(
        records: org.apache.spark.sql.Dataset[StreamOps.WarcChunk] =>
          org.apache.spark.sql.Dataset[_]) = {
      lazy val staged = stagedWarcChunks(chunkBytes, gz)
      bestNoop(name, staged._2, "records")(
        records(warcChunkStream(staged._1)).toDF())
    }
    // w1 twin: the measured rate pays reassembly + record framing +
    // HTTP parse + body CRC per record. Reported per RECORD, not chunk.
    val warcReassemble = warcRow("warc_reassemble_tws", 32 * 1024)(
      StreamOps.warcRecordStream(spark, _))
    // the SMALL-CHUNK stress: 1 KiB chunks mean ~75 chunks straddle a
    // typical container record instead of ~2 — the row that would
    // collapse quadratically if reassembly re-parsed the pending prefix
    // per chunk (it holds the per-record rate within a small constant
    // of the 32 KiB row because of the recordNeed resume hint)
    val warcSmall = warcRow("warc_reassemble_1k_tws", 1024)(
      StreamOps.warcRecordStream(spark, _))

    // w4 twin: the same record stream over the .warc.gz TRANSPORT —
    // per-record gzip members split into 32 KiB chunks; the rate pays
    // member-completion detection (one inflate attempt per batch per
    // container), the verified inflate, and then the identical plain
    // framing + HTTP parse + digest verify + body CRC per record.
    val warcGz = warcRow("warc_gz_reassemble_tws", 32 * 1024, gz = true)(
      StreamOps.warcGzRecordStream(spark, _))

    // w2 twin: the same chunk stream through the WET-conversion
    // processor — reassembly + framing + HTTP parse + x41 extraction +
    // WET re-frame + re-parse + payload CRC per record: the full
    // archive-conversion job as one stateful stream.
    val wet = warcRow("wet_convert_tws", 32 * 1024)(
      StreamOps.wetRecordStream(spark, _))
    spark.conf.unset("spark.sql.streaming.stateStore.providerClass")

    val qs = (results.flatten ++
      Seq(scd2, guard, qualityRow, paretoRow, htmlRow, blockRow,
        frontierRow, ingestRow, warcReassemble,
        warcSmall, warcGz, wet).flatten ++ funnelRows ++
      twsResults.flatten).map { case (k, v) => "\"" + k + "\":" + f"$v%.0f" }
      .mkString("{", ",", "}")
    val unknown = only -- rows
    if (unknown.nonEmpty) {
      System.err.println("[stream-bench] no row named: " +
        unknown.toSeq.sorted.mkString(", "))
      sys.exit(2)
    }
    println(s"""{"metric":"stream_events_per_sec","rows":$n,"ops":$qs,"sf":"$sfDir"}""")
    spark.stop()
  }
}
