package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState,
  GroupStateTimeout, MapState, OutputMode, StatefulProcessor, TTLConfig,
  TimeMode, TimerValues, ValueState}

import graft.operators.Multimodal

/** Structured Streaming twins of the reference's Flink reports. Each op
  * takes an unbounded DataFrame (from `readStream`) with the `events`
  * schema and returns a transformed streaming DataFrame — source and sink
  * agnostic, exactly like the reference's DataStream transformations.
  *
  * Mapping from the reference:
  *  - SpeedRadar (VehicleTelematics.java:59-83): stateless filter+project —
  *    `speedRadar`.
  *  - CongestionArea (CongestionArea.java:33-76): 1-day tumbling event-time
  *    window + watermark — `congestionDaily`.
  *  - Session analog of the count/global windows: `sessionWindows` on
  *    Spark's native `session_window`.
  *  - AccidentReporter (VehicleTelematics.java:290-331) — keyed run
  *    detection — `accidentRuns` via flatMapGroupsWithState (Flink's
  *    keyed state + trigger, re-expressed).
  *  - SaturatedVendor (SaturatedVendor.java:40-91) — consecutive-pair gap
  *    detection — `saturatedPairs` via flatMapGroupsWithState.
  *
  * Scale posture: state is strictly per-key (user_id) and O(1) per key —
  * a run summary or a single previous timestamp — so a 1000-executor
  * cluster shards state by key hash with no cross-key coordination;
  * watermarks bound retained window state.
  */
object StreamOps {

  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                   event_type: String, value: Double)

  /** Event time in epoch µs, exact: `Timestamp.getTime` drops the
    * sub-millisecond part that the batch twins and the oracle keep.
    */
  private def micros(ts: Timestamp): Long = DateTimeUtils.fromJavaTimestamp(ts)

  case class RunState(eventType: String, startUs: Long, endUs: Long, n: Long)

  case class AccidentRun(user_id: Long, event_type: String,
                         t_start_us: Long, t_end_us: Long, n_events: Long)

  case class PairState(lastUs: Long)

  case class SaturatedPair(user_id: Long, t1_us: Long, t2_us: Long, n_trips: Long)

  /** Stateless speeding filter — identical plan shape batch or streaming. */
  def speedRadar(events: DataFrame, limit: Double = 90.0): DataFrame =
    events.filter(col("value") >= limit)
      .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("user_id"), col("event_type"), col("value"))

  /** 1-day tumbling event-time window over qualifying events; the watermark
    * bounds state and closes windows for append-mode sinks.
    */
  def congestionDaily(events: DataFrame, watermark: String = "1 day"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .filter(col("event_type") === "purchase" && col("value") > 0.0)
      .groupBy(window(col("ts"), "1 day").as("w"))
      .agg(count(lit(1)).as("n_trips"),
        sum(col("value").cast("decimal(18,2)")).as("amount_sum"))
      .select(
        date_format(col("w.start"), "yyyy/MM/dd").as("day"),
        col("n_trips"),
        round(col("amount_sum").cast("double") / col("n_trips"), 2).as("avg_amount"))

  /** Native event-time session windows (30-minute gap) per user. */
  def sessionWindows(events: DataFrame, gap: String = "30 minutes",
                     watermark: String = "1 day"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(
        col("user_id"),
        unix_micros(col("w.start")).as("t_start_us"),
        unix_micros(col("w.end")).as("t_end_us"),
        col("n_events"), col("sum_value"))

  case class RateState(tFirstUs: Long, vFirst: Double, tLastUs: Long, vLast: Double)

  case class RateUpdate(user_id: Long, event_type: String,
                        t_first_us: Long, t_last_us: Long, rate_per_hour: Double)

  /** Streaming twin of t2 (AverageSpeedControl): per (user, type), the rate
    * of change of `value` between the first and latest observation, emitted
    * as an update every time the key sees new data — `mapGroupsWithState`
    * (exactly one output per updated key per batch, Update output mode).
    */
  def rateOfChange(spark: SparkSession, events: Dataset[Event])
    : Dataset[RateUpdate] = {
    import spark.implicits._
    events
      .groupByKey(e => (e.user_id, e.event_type))
      .mapGroupsWithState[RateState, RateUpdate](GroupStateTimeout.NoTimeout) {
        case ((user, typ), it, state) =>
          val sorted = it.toSeq.sortBy(e => micros(e.ts))
          var s = state.getOption.getOrElse {
            val h = sorted.head
            RateState(micros(h.ts), h.value, micros(h.ts), h.value)
          }
          sorted.foreach { e =>
            val us = micros(e.ts)
            if (us < s.tFirstUs) s = s.copy(tFirstUs = us, vFirst = e.value)
            if (us >= s.tLastUs) s = s.copy(tLastUs = us, vLast = e.value)
          }
          state.update(s)
          val rate =
            if (s.tLastUs == s.tFirstUs) 0.0
            else (s.vLast - s.vFirst) / ((s.tLastUs - s.tFirstUs) / 3600e6)
          RateUpdate(user, typ, s.tFirstUs, s.tLastUs, rate)
      }
  }

  /** Stream–stream interval join: purchases joined to the same user's
    * clicks within the preceding `intervalMinutes` — Flink's interval join
    * re-expressed with two watermarked streams and a time-range predicate;
    * Spark bounds both join buffers from the watermark + range.
    */
  def purchaseAttribution(purchases: DataFrame, clicks: DataFrame,
                          intervalMinutes: Int = 10,
                          watermark: String = "1 hour"): DataFrame = {
    val p = purchases.filter(col("event_type") === "purchase")
      .withWatermark("ts", watermark)
      .select(col("user_id"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"), col("value"))
    val c = clicks.filter(col("event_type") === "click")
      .withWatermark("ts", watermark)
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("click_id"))
    p.join(c,
      col("user_id") === col("c_user") &&
        col("c_ts") <= col("p_ts") &&
        col("c_ts") >= col("p_ts") - expr(s"INTERVAL $intervalMinutes MINUTES"))
      .select(col("user_id"), col("purchase_id"), col("click_id"),
        unix_micros(col("p_ts")).as("p_ts_us"),
        unix_micros(col("c_ts")).as("c_ts_us"), col("value"))
  }

  /** Left-outer stream–stream interval join: every purchase emits, the
    * unattributed ones with a null click — but only once the watermark
    * passes the purchase's join window, because until then a matching
    * click could still arrive. The inner join's correctness story plus the
    * outer-emission timing is exactly what distinguishes streaming outer
    * joins from batch; state stays bounded by the same watermark + range
    * bounds as the inner form.
    */
  def purchaseAttributionOuter(purchases: DataFrame, clicks: DataFrame,
                               intervalMinutes: Int = 10,
                               watermark: String = "1 hour"): DataFrame = {
    val p = purchases.filter(col("event_type") === "purchase")
      .withWatermark("ts", watermark)
      .select(col("user_id"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"), col("value"))
    val c = clicks.filter(col("event_type") === "click")
      .withWatermark("ts", watermark)
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("click_id"))
    p.join(c,
        col("user_id") === col("c_user") &&
          col("c_ts") <= col("p_ts") &&
          col("c_ts") >= col("p_ts") - expr(s"INTERVAL $intervalMinutes MINUTES"),
        "left_outer")
      .select(col("user_id"), col("purchase_id"), col("click_id"),
        unix_micros(col("p_ts")).as("p_ts_us"),
        unix_micros(col("c_ts")).as("c_ts_us"), col("value"))
  }

  /** Streaming exact dedup: first event per (user_id, event_type, value)
    * wins; watermark bounds the dedup state (the streaming twin of d1).
    */
  def dedupStream(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("user_id", "event_type", "value")

  /** An arriving media blob on the ingest stream (the unbounded shape of
    * Multimodal.MediaBlob, with the event time every watermark needs).
    */
  case class MediaEvent(doc_id: Long, ts: Timestamp, media_type: String,
                        payload: Array[Byte])

  /** m6's streaming twin: exact media dedup on the ingest stream — emit
    * each blob's FIRST arrival, drop byte-identical re-uploads inside the
    * watermark horizon. The payload reduces to the same
    * (media_type, byte_len, crc32) digest key the batch operator groups
    * on BEFORE the stateful operator, so dedup state is a digest row per
    * distinct blob (never payload bytes — the same
    * nothing-heavy-shuffles posture as batch m6), bounded by the
    * watermark exactly like `dedupStream`. A digest collision merges two
    * distinct payloads (the documented m6 caveat; production swaps a
    * cryptographic digest, same plan).
    */
  def mediaDedupStream(spark: SparkSession, blobs: Dataset[MediaEvent],
                       watermark: String = "1 hour"): DataFrame = {
    import spark.implicits._
    blobs
      .map { b =>
        // the SAME digest function batch m6 groups on — one definition
        val (len, crc) = graft.operators.Multimodal.payloadDigest(b.payload)
        (b.doc_id, b.ts, b.media_type, len, crc)
      }
      .toDF("doc_id", "ts", "media_type", "byte_len", "crc32")
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("media_type", "byte_len", "crc32")
  }

  /** A raw fetched page on the ingest stream — x41's unbounded input
    * shape (at 100 TB the HTML is the input column; extraction is the
    * first narrow stage of the pipeline).
    */
  case class HtmlPage(doc_id: Long, ts: Timestamp, html: String)

  /** x41's streaming twin: boilerplate extraction at ingest — each
    * arriving page runs the SAME parse/classify/account audit as batch
    * x41 (`Html.auditRow`, one shared definition, so verdicts are
    * bit-equal by construction and StreamOpsSpec pins it). Stateless
    * narrow map: no watermark, no state store, no join; only the
    * fixed-width audit row leaves the stage — page bodies never shuffle.
    */
  def htmlExtractStream(spark: SparkSession, pages: Dataset[HtmlPage],
                        minLen: Int = 25,
                        blocker: graft.operators.Html.HtmlBlocker =
                          graft.operators.Html.TagWalkBlocker): DataFrame = {
    import spark.implicits._
    pages
      .map { p =>
        val r = graft.operators.Html.auditRow(p.doc_id, p.html, minLen, blocker)
        (p.doc_id, p.ts, r.html_len, r.html_crc32, r.n_blocks, r.n_content,
          r.n_boiler, r.main_len, r.main_crc32, r.boiler_len)
      }
      .toDF("doc_id", "ts", "html_len", "html_crc32", "n_blocks",
        "n_content", "n_boiler", "main_len", "main_crc32", "boiler_len")
  }

  /** x42's streaming twin: the blocklist gate at ingest — the SAME
    * first-failing-rule Column as batch x42
    * (`Curation.blocklistReason`, one shared definition) applied per
    * micro-batch. Stateless codegen projection over (doc_id, ts, source,
    * text) — the blocklists ride the plan as literal sets exactly like
    * the batch scan.
    */
  def blocklistFilterStream(docs: DataFrame): DataFrame =
    docs
      .withColumn("reason", graft.operators.Curation.blocklistReason)
      .select(col("doc_id"), col("ts"),
        (col("reason") === "ok").as("keep"), col("reason"))

  /** A fetched page on the crawl stream — p2's unbounded input shape:
    * the URL as fetched plus the raw page bytes (source tags the feed,
    * the x42 domain-rule key).
    */
  case class FetchEvent(doc_id: Long, ts: Timestamp, url: String,
                        source: String, html: String)

  /** p2's INGEST face: every per-page stage of the composed web pipeline
    * as ONE stateless pass over the fetch stream, in p2's
    * first-failing-rule order — x44's REP verdict on the x43 canonical
    * URL, the x41 extraction-yield gate (zero content blocks → drop),
    * then the x42 blocklist over the FULL parsed text — every block the
    * parser yields, content AND boilerplate-classified (at ingest the
    * parsed text IS the document — batch p2 gates the stored corpus
    * column, which the page synthesis embeds; a blocked word that lands
    * in a short boilerplate-classified chunk must still reject the page,
    * the safety direction for an ingest gate: admit-what-batch-blocks is
    * the divergence that matters). Blocks join with a SPACE for the
    * blocklist view — blocklistReason tokenizes on spaces, so a newline
    * join would fuse the last word of one block with the first of the
    * next and let a boundary-straddling blocked word escape the gate
    * (x41's audit mainText keeps its '\n' join; this is the gate's
    * tokenization view, not the audit CRC's). Every
    * kernel is the ONE shared definition (`canonicalizeUrl`/
    * `canonDomainPath`/`robotsVerdict`, `HtmlBlocker.blocks` +
    * `Html.isContent`, `Curation.blocklistReason`), so the per-page
    * verdicts track batch; the one stream-native caveat is the
    * extraction chunker itself, which can split a token at a block
    * boundary. The KEYED stages stay where they belong:
    * canonical-URL dedup is [[urlFrontierStream]]'s watermark state
    * (upstream — a disallowed URL never reaches the fetcher), and the
    * norm-dedup/contamination/classifier gates are corpus-level batch
    * passes. No watermark, no state store; only the verdict row leaves
    * the stage — page bodies never shuffle.
    */
  def webIngestGateStream(spark: SparkSession, fetches: Dataset[FetchEvent],
                          minBlockLen: Int = 25,
                          blocker: graft.operators.Html.HtmlBlocker =
                            graft.operators.Html.TagWalkBlocker): DataFrame = {
    import spark.implicits._
    fetches
      .map { f =>
        val canon = graft.operators.Urls.canonicalizeUrl(f.url)
        val (domain, path) = graft.operators.Urls.canonDomainPath(canon)
        val allowed = graft.operators.Urls.robotsVerdict(domain, path)._2
        val bs = blocker.blocks(f.html)
        val nContent =
          bs.count(graft.operators.Html.isContent(_, minBlockLen)).toLong
        val gateText = bs.iterator.map(_.text).mkString(" ")
        (f.doc_id, f.ts, canon, allowed, nContent, f.source, gateText)
      }
      .toDF("doc_id", "ts", "canon_url", "allowed", "n_content",
        "source", "text")
      .withColumn("block_reason", graft.operators.Curation.blocklistReason)
      .withColumn("reason",
        when(!col("allowed"), "robots_disallowed")
          .when(col("n_content") === 0, "no_content")
          .when(col("block_reason") =!= "ok", col("block_reason"))
          .otherwise("ok"))
      .select(col("doc_id"), col("ts"), col("canon_url"),
        (col("reason") === "ok").as("keep"), col("reason"))
  }

  /** Accumulated state for the STREAMING composed funnel — p2's verdict
    * frame maintained as containers land (the Scd2State foreachBatch
    * discipline): each closed container's records run the SHARED
    * per-record frontier kernel (`Curation.frontierFromRecords` — one
    * definition with batch file-backed p2), the four frontier columns
    * accumulate (page bodies never persist), and the verdict frame
    * recomputes over every doc seen so far through the SHARED gate
    * composition (`Curation.webVerdictsOverFrontier`). Because the
    * keepers are recomputed over the accumulated corpus each batch, the
    * frame after ANY batch equals batch file-backed p2 over exactly the
    * containers closed so far — row-identical regardless of file
    * arrival order (a late-landing smaller-id duplicate DEMOTES the
    * earlier keeper, exactly as batch would), which an emit-once stream
    * cannot promise. That is the honest cost of corpus-level keeper
    * semantics on a stream: verdicts are a maintained TABLE (Update
    * mode), not an append log.
    *
    * Scale shape: per closed container, one narrow kernel pass over its
    * records + INCREMENTAL keeper maintenance (the default): the gate
    * composition reruns only over the (canon_url / norm) groups the
    * batch touches ([[graft.operators.Curation.webVerdictsIncrement]] —
    * two key-only semi-join closures pick the affected rows, the
    * recompute MERGEs into the maintained verdict frame), so per-batch
    * cost tracks batch-touched groups, not the accumulated corpus;
    * `incremental = false` keeps the full-frontier recompute as the
    * spec-pinned equality reference. The cls gate's training is
    * memo-shared on the session, paid once. State = 4 columns x docs
    * seen plus the verdict frame, localCheckpointed — at fleet scale a
    * Delta/Iceberg table keyed on doc_id with the same MERGE per
    * landing batch.
    *
    * SESSION-LOCAL state, like [[Scd2State]]: the accumulated frontier
    * lives in this object, NOT in the streaming checkpoint. Start each
    * state instance with a FRESH checkpoint — restarting an OLD
    * checkpoint against a new (empty) state would let the file source
    * skip every already-committed container while the state knows none
    * of them, silently breaking the batch-equality contract. Within a
    * run the contract survives foreachBatch's at-least-once edge:
    * applyBatch anti-joins rows already present under ALL FOUR frontier
    * columns (a replayed file yields byte-identical rows), so a
    * replayed batch is a no-op while a genuinely different record
    * sharing a doc_id keeps its row — batch semantics either way. The durable form of this state is the fleet posture
    * above (a doc_id-keyed table MERGEd per batch), not a bigger
    * in-memory frame.
    */
  final class WebFunnelState(spark: SparkSession, dir: String,
                             minWords: Int = 5, maxWords: Int = 1000,
                             minQuality: Double = 0.55,
                             minBlockLen: Int = 25,
                             positiveSources: Seq[String] =
                               Seq("src0", "src1", "src2", "src3", "src4"),
                             maxFrontierRows: Long = 10L * 1000 * 1000,
                             incremental: Boolean = true) {
    import spark.implicits._
    @volatile private var frontier: DataFrame =
      Seq.empty[(Long, String, Boolean, Long)]
        .toDF("doc_id", "canon_url", "allowed", "n_content")
    @volatile private var latest: Option[DataFrame] = None
    /** Rows the gate composition RAN OVER per applied batch, in
      * arrival order — the deterministic instrument behind the
      * StreamBench corpus-independence rows: under incremental
      * maintenance this is |R| (the batch-touched canon/norm group
      * closure), ~flat as the frontier accumulates; under full
      * recompute it is the frontier size, growing with every landed
      * container. (Wall-clock per batch is NOT the instrument: at
      * bench corpus sizes fixed per-batch stage count dominates
      * row-proportional work and both modes measure ~flat seconds.)
      * One Long per landed container — growth is bounded in practice
      * by the maxFrontierRows cap ending the stream first.
      */
    private[graft] val batchGateRows =
      scala.collection.mutable.ArrayBuffer.empty[Long]
    private[graft] def applyBatch(records: DataFrame): Unit = synchronized {
      val add = graft.operators.Curation.frontierFromRecords(
        spark, records, minBlockLen)
      // replay-idempotent (foreachBatch is at-least-once): a batch
      // re-delivered after a crash-between-apply-and-commit must not
      // double-union its docs. The anti-join keys on ALL FOUR frontier
      // columns, not just doc_id: a replayed file yields byte-identical
      // rows (the kernel is deterministic in the record), so replays
      // vanish, while a genuinely different record that happens to
      // share a doc_id keeps its row — exactly what batch over the
      // same files would hold.
      val newRows = add.join(frontier,
          Seq("doc_id", "canon_url", "allowed", "n_content"),
          "left_anti")
        .localCheckpoint()
      frontier = frontier.unionByName(newRows).localCheckpoint()
      // bounded-state discipline (the reassembler's contract, applied
      // to the session-local frontier): this state is driver-resident
      // by design, so a long-lived stream must degrade LOUDLY at the
      // configured bound instead of creeping toward a driver OOM — the
      // fleet posture past the cap is the doc_id-keyed MERGE table the
      // class scaladoc names, not a bigger in-memory frame. The count
      // is a cheap scan of the just-materialized localCheckpoint.
      val n = frontier.count()
      require(n <= maxFrontierRows,
        s"WebFunnelState frontier holds $n rows, past the configured " +
          s"bound $maxFrontierRows — the session-local state form does " +
          "not scale to this stream; move to the doc_id-keyed MERGE " +
          "table posture (see class scaladoc) or raise maxFrontierRows")
      // INCREMENTAL keeper maintenance (the default): recompute only
      // the (canon_url / norm) groups this batch touches and MERGE into
      // the maintained verdict frame — per-batch cost tracks the
      // batch-touched groups, not the accumulated corpus (spec-pinned
      // row-identical to the full recompute after every batch prefix).
      // `incremental = false` keeps the full-recompute path as the
      // equality reference.
      // gateInput = the frame the gate composition ran over this
      // batch (R under incremental maintenance, the whole frontier
      // under full recompute and on the very first landing) — counted
      // into batchGateRows once the verdicts have materialized
      val gateInput = (latest match {
        case Some(prev) if incremental =>
          val (aIds, verdA, r) = graft.operators.Curation.webVerdictsIncrement(
            spark, dir, frontier, newRows, minWords, maxWords, minQuality,
            positiveSources)
          latest = Some(prev
            .join(org.apache.spark.sql.functions.broadcast(aIds),
              Seq("doc_id"), "left_anti")
            .unionByName(verdA).localCheckpoint())
          Some(r)
        case _ =>
          latest = Some(graft.operators.Curation.webVerdictsOverFrontier(
            spark, dir, frontier, minWords, maxWords, minQuality,
            positiveSources).localCheckpoint())
          None
      })
      batchGateRows += gateInput.map(_.count()).getOrElse(n)
    }
    /** p2's verdict frame over every container closed so far. */
    def verdicts: DataFrame = latest.getOrElse(
      Seq.empty[(Long, String, Boolean, String)]
        .toDF("doc_id", "canon_url", "keep", "reason"))
  }

  /** Wire a parsed-record file stream (`Warc.warcRecordFileStream`)
    * into the composed-funnel apply loop; caller `.start()`s the
    * returned writer and reads `state.verdicts` after any processed
    * batch — the streaming face of the full p2 verdict funnel.
    */
  def webPipelineVerdictStream(records: DataFrame, state: WebFunnelState)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    records.writeStream.outputMode(OutputMode.Update)
      .foreachBatch { (batch: DataFrame, _: Long) => state.applyBatch(batch) }

  /** A chunk of a WARC container on the ingest stream — the shape an
    * archive transfer actually arrives in: the container's identity, a
    * per-container sequence number, and an arbitrary byte slice (chunk
    * boundaries fall ANYWHERE — mid-header, mid-payload).
    */
  case class WarcChunk(container_id: Long, ts: Timestamp, seq: Long,
                       bytes: Array[Byte])

  /** One reassembled, parsed response record — w1's audit row with the
    * container identity in place of the batch shard id.
    */
  case class WarcRecordRow(container_id: Long, doc_id: Long,
                           rec_offset: Long, rec_len: Long,
                           target_uri: String, http_status: Int,
                           html_len: Long, html_crc32: Long)

  /** Reassembly state for one container: the next expected chunk seq,
    * the absolute container offset the pending bytes start at, the
    * pending prefix of the next (incomplete) record, and that record's
    * known total frame length (`need`, -1 while its header block is
    * still incomplete — the parse-resume hint that makes a large record
    * arriving in many chunks cost O(N), not O(N·chunks)). Bounded by
    * ONE record's size — completed records leave state immediately.
    *
    * STATE-SCHEMA NOTE: `need` was added after the first release of the
    * reassembler, so a checkpoint written by the 3-field WarcBuf does
    * not decode under the default UnsafeRow state encoding — restart
    * long-lived reassembly queries from a fresh checkpoint across this
    * upgrade (or run the query with Avro state encoding, which evolves
    * added-with-default fields). [[warnIfUnsaferowState]] surfaces this
    * at QUERY SETUP, not just in prose.
    */
  case class WarcBuf(nextSeq: Long, baseOffset: Long, pending: Array[Byte],
                     need: Long = -1L)

  /** The setup-path face of the WarcBuf state-schema note above: the
    * default UnsafeRow state encoding cannot decode a checkpoint written
    * before a state case class gained a field, and the failure surfaces
    * at RESTART as an opaque state-decode error. A scaladoc can't stop
    * that; the query setup path can at least name it — when the session
    * is configured with the non-evolving encoding, log the upgrade
    * contract (fresh checkpoint across state-schema changes, or switch
    * `spark.sql.streaming.stateStore.encodingFormat` to `avro`, which
    * evolves added-with-default fields) once per setup call.
    */
  private def warnIfUnsaferowState(spark: SparkSession, op: String): Unit = {
    val fmt = spark.conf.getOption(
      "spark.sql.streaming.stateStore.encodingFormat").getOrElse("unsaferow")
    if (fmt.toLowerCase(java.util.Locale.ROOT) != "avro")
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"$op runs with UnsafeRow state encoding ($fmt): checkpoints do " +
          "NOT survive state-schema evolution (e.g. the 3-field->4-field " +
          "WarcBuf upgrade). Restart from a fresh checkpoint across graft " +
          "upgrades, or set " +
          "spark.sql.streaming.stateStore.encodingFormat=avro before " +
          "starting long-lived queries.")
  }

  /** w1's streaming twin — stateful WARC record reassembly over an
    * arbitrary-boundary chunk stream (`transformWithState`): per container, arriving chunks
    * append to the pending buffer, `Warc.parseWarcPrefix` drains every
    * COMPLETE record (the SAME Content-Length framing seam as batch —
    * a chunk boundary inside `\r\n\r\n` or the magic cannot mis-split),
    * and only the incomplete tail stays in state, so per-key state is
    * bounded by one record regardless of container size. Chunk seqs
    * must arrive in order per container (the Kafka-partition-per-
    * transfer contract); a gap fails LOUDLY rather than parsing bytes
    * out of order. Emits w1's audit row per record as each record
    * completes — the archive-ingest face of the batch source.
    */
  /** Header allowance on top of MaxRecordBytes for the pending-buffer
    * bound: a record's non-payload bytes (version line + headers +
    * blank line + trailer) in any sane archive fit well under this.
    */
  private val MaxWarcHeaderBytes: Long = 64L * 1024

  /** Completed records → w1's audit rows, responses only: real
    * containers interleave warcinfo/request/metadata/revisit records
    * with the responses — reassembly frames them all (the pending-
    * buffer bound needs every record to complete), the AUDIT consumes
    * only responses (Warc.isResponse, the batch file readers'
    * discipline). ONE definition shared by the plain and gz stream
    * processors, so the two transports can never audit differently.
    */
  private def auditReassembled(cid: Long,
                               recs: Seq[graft.sources.Warc.WarcRecord])
      : Seq[WarcRecordRow] =
    recs.filter(graft.sources.Warc.isResponse).map { r =>
      val id = graft.sources.Warc.docIdOf(r)
      val (status, body) = graft.sources.Warc.parseHttpVerified(r)
      val crc = new java.util.zip.CRC32()
      crc.update(body)
      WarcRecordRow(cid, id, r.offset, r.recLen,
        r.headers("warc-target-uri"), status, body.length.toLong,
        crc.getValue)
    }

  /** A processor's state TTL from its `ttl` dial: Duration.ZERO selects
    * no TTL (the AvailableNow/spec mode), any other duration expires idle
    * state after it. */
  private def ttlConfig(ttl: java.time.Duration): TTLConfig =
    if (ttl.isZero) TTLConfig.NONE else TTLConfig(ttl)

  class WarcReassembleProcessor(ttl: java.time.Duration)
      extends StatefulProcessor[Long, WarcChunk, WarcRecordRow] {
    @transient private var buf: ValueState[WarcBuf] = _

    // A completed container's state cannot self-clear (an empty pending
    // buffer does not mean the transfer is over, and clearing nextSeq
    // would let a late chunk restart at 0 instead of failing the order
    // contract), so long-running ingest retires finished containers via
    // the state TTL ([[ttlConfig]]).
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      buf = getHandle.getValueState[WarcBuf](
        "buf", Encoders.product[WarcBuf], ttlConfig(ttl))

    override def handleInputRows(cid: Long, rows: Iterator[WarcChunk],
                                 tv: TimerValues): Iterator[WarcRecordRow] = {
      val st = if (buf.exists()) buf.get() else WarcBuf(0L, 0L, Array.empty)
      val (recs, st2) = drainWarcChunks(cid, st, rows)
      buf.update(st2)
      auditReassembled(cid, recs).iterator
    }
  }

  /** Reassembly state for one `.warc.gz` chunk stream: the compressed
    * pending bytes of the member currently in flight plus the PLAIN
    * reassembly state its inflated bytes feed (the same WarcBuf the
    * plain transport uses — gz is pure transport, so the record framing
    * downstream of the member walk is literally the same code). Bounded
    * by one compressed member + one plain record.
    */
  case class GzWarcBuf(nextSeq: Long, compPending: Array[Byte],
                       plain: WarcBuf)

  /** w4's streaming twin — gz member reassembly on an arbitrary-
    * boundary chunk stream of a `.warc.gz` transfer (chunk boundaries
    * fall ANYWHERE: mid gzip header, mid deflate block, inside the
    * 8-byte trailer). Arriving chunks append to the compressed pending
    * buffer; each member that COMPLETES (its CRC32/ISIZE trailer in
    * hand and verified — `Warc.tryInflateMemberAt`, the streaming face
    * of the batch member walk) inflates exactly once into the plain
    * record framing the plain-transport reassembler uses, so plain and
    * gz chunk streams of the same container emit IDENTICAL audit rows
    * (offsets describe the uncompressed stream — the WARC frame).
    * Corruption stays loud mid-stream (bad magic/method/flags, broken
    * deflate, trailer mismatch); incompleteness buffers.
    *
    * Cost shape: member completion is detected by attempting the
    * inflate, so a member spanning k MICRO-BATCHES re-attempts its
    * prefix once per batch — O(member x batches), never O(member x
    * chunks): within a batch all chunks append before the single walk.
    * State is bounded by one compressed member (+ one plain record);
    * a member that cannot complete within the compressed corruption
    * bound fails loudly rather than buffering forever.
    */
  class GzWarcReassembleProcessor(ttl: java.time.Duration)
      extends StatefulProcessor[Long, WarcChunk, WarcRecordRow] {
    @transient private var buf: ValueState[GzWarcBuf] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      buf = getHandle.getValueState[GzWarcBuf](
        "gzbuf", Encoders.product[GzWarcBuf], ttlConfig(ttl))

    override def handleInputRows(cid: Long, rows: Iterator[WarcChunk],
                                 tv: TimerValues): Iterator[WarcRecordRow] = {
      val st = if (buf.exists()) buf.get()
        else GzWarcBuf(0L, Array.empty, WarcBuf(0L, 0L, Array.empty))
      var nextSeq = st.nextSeq
      // append ALL of the batch's chunks (in seq order) before the
      // member walk — one inflate attempt per batch, not per chunk
      val comp = new java.io.ByteArrayOutputStream(
        math.max(64, st.compPending.length + 64))
      comp.write(st.compPending)
      rows.toSeq.sortBy(_.seq).foreach { c =>
        require(c.seq == nextSeq,
          s"container $cid chunk gap: expected seq $nextSeq, got ${c.seq}")
        nextSeq = c.seq + 1
        comp.write(c.bytes)
      }
      // walk complete members off the front; the incomplete tail stays
      val compBytes = comp.toByteArray
      val inflated = new java.io.ByteArrayOutputStream(64 * 1024)
      var pos = 0
      var done = false
      while (!done && pos < compBytes.length) {
        val sink = new java.io.ByteArrayOutputStream(64 * 1024)
        val next = graft.sources.Warc.tryInflateMemberAt(compBytes, pos, sink)
        if (next < 0) done = true
        else { sink.writeTo(inflated); pos = next }
      }
      val compPending = java.util.Arrays.copyOfRange(
        compBytes, pos, compBytes.length)
      // the state bound, gz side: a pending member larger than the
      // record corruption bound plus Warc.MaxGzSlackBytes (which
      // already covers the WARC head AND the deflate stored-block
      // overhead — incompressible data legally deflates larger than it
      // is) can never complete — fail loudly, the batch parser's
      // contract; IDENTICAL bound to the point-read serve's
      // fetchGzMember
      require(compPending.length <=
        graft.sources.Warc.MaxRecordBytes +
          graft.sources.Warc.MaxGzSlackBytes,
        s"container $cid compressed pending buffer ${compPending.length} B " +
          "holds no complete gzip member within the record bound: " +
          "unframeable/corrupt stream")
      // inflated bytes feed the SAME framing gate as the plain
      // transport, as one slice per batch
      val (recs, plain2) = frameWarcBytes(cid, st.plain,
        Seq(inflated.toByteArray))
      buf.update(GzWarcBuf(nextSeq, compPending, plain2))
      auditReassembled(cid, recs).iterator
    }
  }

  /** The reassembly drain shared by the audit and WET-conversion
    * processors: enforce the per-container chunk-order contract, then
    * feed the chunks in seq order through [[frameWarcBytes]]. Returns the
    * completed records (container offsets already absolute) plus the new
    * state.
    */
  private def drainWarcChunks(cid: Long, st0: WarcBuf,
                              rows: Iterator[WarcChunk]):
      (Seq[graft.sources.Warc.WarcRecord], WarcBuf) = {
    var nextSeq = st0.nextSeq
    val slices = rows.toSeq.sortBy(_.seq).map { c =>
      require(c.seq == nextSeq,
        s"container $cid chunk gap: expected seq $nextSeq, got ${c.seq}")
      nextSeq = c.seq + 1
      c.bytes
    }
    val (recs, st) = frameWarcBytes(cid, st0, slices)
    (recs, st.copy(nextSeq = nextSeq))
  }

  /** The WARC framing gate, one copy for the plain and gz transports:
    * append each byte slice to the pending buffer, let `parseWarcPrefix`
    * frame every COMPLETE record, keep only the incomplete tail. Returns
    * the completed records plus the state with the new pending tail, base
    * offset and `need`.
    */
  private def frameWarcBytes(cid: Long, st0: WarcBuf,
                             slices: Seq[Array[Byte]]):
      (Seq[graft.sources.Warc.WarcRecord], WarcBuf) = {
    var base = st0.baseOffset
    var need = st0.need
    val out = Seq.newBuilder[graft.sources.Warc.WarcRecord]
    // Growable pending buffer: appending a slice is amortized O(slice),
    // never a full `pending ++ slice` copy — together with the `need`
    // resume hint below, a record of size N arriving in k chunks costs
    // O(N) in copies and parse work instead of the old O(N·k) re-parse
    // of the pending prefix on every chunk.
    val buf = new java.io.ByteArrayOutputStream(
      math.max(64, st0.pending.length + 64))
    buf.write(st0.pending)
    slices.foreach { add =>
      buf.write(add)
      // Parse only when the pending bytes CAN complete a record: while
      // the head is still arriving (`need` unknown) any slice may finish
      // it, and that phase is bounded by MaxWarcHeaderBytes; once the
      // total frame length is known, slices append without a parse until
      // enough bytes exist.
      if (need < 0 || buf.size() >= need) {
        val joined = buf.toByteArray
        val (recs, leftover) = graft.sources.Warc.parseWarcPrefix(
          joined, base)
        out ++= recs
        base += joined.length - leftover.length
        buf.reset()
        buf.write(leftover)
        need = graft.sources.Warc.recordNeed(leftover, base)
      }
      // "State bounded by one record" holds only when the parser can
      // eventually frame one: a pending record's payload is capped by
      // the Content-Length corruption bound (recordNeed throws past
      // MaxRecordBytes), and a head that never completes within
      // MaxWarcHeaderBytes is CORRUPTION, not incompleteness — no sane
      // archive carries 64 KiB of record headers — so fail loudly (the
      // batch parser's corruption-vs-incompleteness contract, applied
      // to the stream's framing state).
      require(need >= 0 || buf.size() <= MaxWarcHeaderBytes,
        s"container $cid pending buffer ${buf.size()} B holds no complete " +
          s"header block within $MaxWarcHeaderBytes B: unframeable/corrupt " +
          "stream")
    }
    (out.result(), st0.copy(baseOffset = base, pending = buf.toByteArray,
      need = need))
  }

  /** One streaming WET `conversion` row — w2's audit shape with the
    * container identity in place of the batch shard id.
    */
  case class WetRecordRow(container_id: Long, doc_id: Long,
                          rec_offset: Long, rec_len: Long,
                          target_uri: String, text_len: Long,
                          text_crc32: Long)

  /** w2's streaming twin — the WARC→WET conversion chained DIRECTLY
    * onto the reassembly drain: each response record that completes
    * runs the SHARED per-record conversion (`Warc.wetRecordFor` — the
    * x41 extraction + byte-valid WET re-frame, ONE definition with
    * batch w2), the converted record parses back through the SAME
    * reader, and the row carries the record's offset in the container's
    * WET OUTPUT stream — a per-container running sum held in state, so
    * the emitted audit equals what a WET container written in record-
    * completion order would frame. State = one WarcBuf (bounded by one
    * record, the reassembler's contract) + one Long offset per
    * container.
    */
  class WetConvertProcessor(ttl: java.time.Duration,
                            minBlockLen: Int = 25)
      extends StatefulProcessor[Long, WarcChunk, WetRecordRow] {
    @transient private var buf: ValueState[WarcBuf] = _
    @transient private var wetOff: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      buf = getHandle.getValueState[WarcBuf](
        "buf", Encoders.product[WarcBuf], ttlConfig(ttl))
      wetOff = getHandle.getValueState[Long](
        "wetOff", Encoders.scalaLong, ttlConfig(ttl))
    }

    override def handleInputRows(cid: Long, rows: Iterator[WarcChunk],
                                 tv: TimerValues): Iterator[WetRecordRow] = {
      val st = if (buf.exists()) buf.get() else WarcBuf(0L, 0L, Array.empty)
      var off = if (wetOff.exists()) wetOff.get() else 0L
      val out = Seq.newBuilder[WetRecordRow]
      val (recs, st2) = drainWarcChunks(cid, st, rows)
      // conversion consumes only response records (the batch w2 shape);
      // other record types complete reassembly and are skipped
      recs.filter(graft.sources.Warc.isResponse).foreach { r =>
        val id = graft.sources.Warc.docIdOf(r)
        val wet = graft.sources.Warc.wetRecordFor(r, minBlockLen)
        // parse the built record back through the reader (the batch w2
        // round-trip discipline): the audit must describe FRAMED bytes
        val parsed = graft.sources.Warc.parseWarc(wet)
        require(parsed.length == 1, s"WET re-frame of doc $id mis-split")
        val p = parsed.head
        graft.sources.Warc.verifyDigests(p, p.payload)
        val crc = new java.util.zip.CRC32()
        crc.update(p.payload)
        out += WetRecordRow(cid, id, off, p.recLen,
          p.headers("warc-target-uri"), p.payload.length.toLong,
          crc.getValue)
        off += p.recLen
      }
      buf.update(st2)
      wetOff.update(off)
      out.result().iterator
    }
  }

  /** Streaming WARC→WET conversion on the chunk stream (see
    * WetConvertProcessor). Requires the RocksDB state store provider on
    * the running query, like the other transformWithState ops.
    */
  def wetRecordStream(spark: SparkSession, chunks: Dataset[WarcChunk],
                      minBlockLen: Int = 25,
                      ttl: java.time.Duration =
                        java.time.Duration.ZERO): Dataset[WetRecordRow] = {
    import spark.implicits._
    warnIfUnsaferowState(spark, "wetRecordStream")
    chunks
      .groupByKey(_.container_id)
      .transformWithState(new WetConvertProcessor(ttl, minBlockLen),
        if (ttl.isZero) TimeMode.None() else TimeMode.ProcessingTime(),
        OutputMode.Append())
  }

  /** WARC record reassembly on the chunk stream (see
    * WarcReassembleProcessor). Requires the RocksDB state store provider
    * on the running query, like the other transformWithState ops.
    */
  def warcRecordStream(spark: SparkSession, chunks: Dataset[WarcChunk],
                       ttl: java.time.Duration =
                         java.time.Duration.ZERO): Dataset[WarcRecordRow] = {
    import spark.implicits._
    warnIfUnsaferowState(spark, "warcRecordStream")
    chunks
      .groupByKey(_.container_id)
      // TTL state requires TimeMode.ProcessingTime — a non-NONE
      // TTLConfig under TimeMode.None fails at query start with
      // StatefulProcessorCannotAssignTTLInTimeMode
      .transformWithState(new WarcReassembleProcessor(ttl),
        if (ttl.isZero) TimeMode.None() else TimeMode.ProcessingTime(),
        OutputMode.Append())
  }

  /** `.warc.gz` record reassembly on the chunk stream (see
    * GzWarcReassembleProcessor) — the transport real archive transfers
    * actually ship. Same contracts as warcRecordStream: per-container
    * in-order chunk seqs, RocksDB state store, Append output.
    */
  def warcGzRecordStream(spark: SparkSession, chunks: Dataset[WarcChunk],
                         ttl: java.time.Duration =
                           java.time.Duration.ZERO): Dataset[WarcRecordRow] = {
    import spark.implicits._
    warnIfUnsaferowState(spark, "warcGzRecordStream")
    chunks
      .groupByKey(_.container_id)
      .transformWithState(new GzWarcReassembleProcessor(ttl),
        if (ttl.isZero) TimeMode.None() else TimeMode.ProcessingTime(),
        OutputMode.Append())
  }

  /** A discovered URL on the crawl stream — x43's unbounded input shape. */
  case class UrlEvent(doc_id: Long, ts: Timestamp, url: String)

  /** x43+x44's streaming twin: the LIVE crawl frontier — canonicalize
    * each arriving URL with the SAME zero-dep canonicalizer as batch x43
    * (one shared definition), gate it through x44's REP longest-match
    * verdict on the canonical (domain, path) — a URL a crawler may not
    * fetch must never reach the fetch queue NOR occupy a row of dedup
    * state — then admit only the FIRST arrival per canonical resource
    * inside the watermark horizon (`dropDuplicatesWithinWatermark` keyed
    * on the canonical form, the dedupStream discipline; state is one
    * canonical string — at fleet scale its 128-bit digest — per admitted
    * resource). Batch x43 keeps the smallest doc_id per group; a frontier
    * keeps the first ARRIVAL — the stream-native keeper rule, which
    * coincides with batch whenever discovery order follows ids (the spec
    * pins both the coincidence and a deliberate divergence case). The
    * robots rules ride the closure as a constant, exactly like batch x44
    * (at fleet scale, a broadcast frame keyed on domain, refreshed on the
    * robots.txt recrawl cadence).
    */
  def urlFrontierStream(spark: SparkSession, urls: Dataset[UrlEvent],
                        watermark: String = "1 hour"): DataFrame = {
    import spark.implicits._
    urls
      .map { u =>
        val canon = graft.operators.Urls.canonicalizeUrl(u.url)
        val (domain, path) = graft.operators.Urls.canonDomainPath(canon)
        val allowed = graft.operators.Urls.robotsVerdict(domain, path)._2
        (u.doc_id, u.ts, u.url, canon, allowed)
      }
      .toDF("doc_id", "ts", "url", "canon_url", "allowed")
      .filter(col("allowed"))
      .drop("allowed")
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("canon_url")
  }

  /** An arriving media blob carrying d8's corpus/feed role flag — the
    * ingest shape of [[mediaNearDupStream]]: `is_new = false` rows seed
    * the standing fingerprint index silently, `is_new = true` rows are
    * the guarded feed.
    */
  case class SeedableMediaEvent(doc_id: Long, ts: Timestamp,
                                media_type: String, payload: Array[Byte],
                                is_new: Boolean)

  /** One perceptual collision detection: exact hamming + the ≤ maxHamming
    * verdict (sub-threshold candidates emit too — batch m9's tuning-table
    * contract), with d8's role flags.
    */
  case class MediaNearDupHit(a_id: Long, b_id: Long, hamming: Long,
                             near_dup: Boolean, a_new: Boolean,
                             b_new: Boolean, ts: Timestamp)

  /** m9's streaming twin: perceptual near-dup ingest guard against a
    * standing fingerprint index — [[BandIndexProcessor]], the d2/d8 twins'
    * processor, on image fingerprints. Arriving image payloads decode
    * through the SAME pixel seam and aHash kernel as batch m4/m9 — one
    * narrow flatMap, so payload bytes never shuffle and never enter state,
    * only the 64-bit aHash does — then fan out to the SAME 4×16-bit bands
    * as `Multimodal.bandedHashPairs` (pigeonhole: every pair at hamming ≤ 3
    * shares a band) and compare against the per-band standing index with
    * exact hamming, every candidate kept. The processor's bucket cap is
    * the streaming face of m9's over-full-bucket recall trade: one flat
    * band value can never make per-arrival work unbounded. Emissions
    * carry the sub-threshold candidates and role flags exactly like batch
    * m9 / stream d8; one detection per colliding band — chain
    * `dropDuplicatesWithinWatermark("a_id","b_id")` for one-row-per-pair.
    * On the shared corpus (all rows `is_new`, fed in id order) the
    * deduped pair set is batch `mediaNearDup`'s, which StreamOpsSpec
    * pins.
    */
  def mediaNearDupStream(spark: SparkSession, blobs: Dataset[SeedableMediaEvent],
                         maxHamming: Int = 3, maxBucketSize: Int = 2000,
                         decoder: Multimodal.PixelDecoder = Multimodal.BmpPixelDecoder,
                         ttl: java.time.Duration = java.time.Duration.ofHours(1),
                         watermark: String = "10 seconds"): Dataset[MediaNearDupHit] = {
    import spark.implicits._
    val banded = blobs
      .filter(_.media_type == "image")
      .flatMap { b =>
        decoder.decode(b.payload).toSeq.flatMap { img =>
          val h = Array(Multimodal.aHash64(img))
          (0 until 4).map { band =>
            SeededBandedSig(s"$band:${(h(0) >>> (band * 16)) & 0xFFFFL}",
              b.doc_id, b.ts, b.is_new, h)
          }
        }
      }
      .toDF()
      .withWatermark("ts", watermark)
      .as[SeededBandedSig]
    val hamming = (a: Array[Long], b: Array[Long]) =>
      Some(java.lang.Long.bitCount(a(0) ^ b(0)).toDouble)
    bandIndexStream(spark, banded, hamming, maxBucketSize, ttl)
      .select(col("a_id"), col("b_id"), col("score").cast("long").as("hamming"),
        (col("score") <= maxHamming).as("near_dup"), col("a_new"),
        col("b_new"), col("ts"))
      .as[MediaNearDupHit]
  }

  /** One micro-batch of the ingest-time contamination guard — the pure
    * per-batch transform `contaminationGuardStream` applies: every doc in
    * the batch gets a keep/flag verdict against the static benchmark
    * shingle-hash set (c1's any-hit rule). Same kernel, same k, same
    * 64-bit hash join key as batch c1, so verdicts agree bit-for-bit
    * (StreamOpsSpec pins it); docs too short to carry a k-shingle — and
    * docs with zero overlap — keep their row with `keep = true` (the c2
    * LEFT-join convention; an inner join would silently drop exactly the
    * docs a guard must pass through). Stateless: the benchmark side is a
    * broadcast hash join per batch, no watermark, no state store.
    */
  def contaminationCheck(batch: DataFrame, bench: DataFrame,
                         k: Int = 8): DataFrame = {
    val hits = batch
      .filter(size(split(col("text"), " ")) >= k)
      .select(col("doc_id"),
        explode(array_distinct(
          graft.functions.Sketches.shingleHash64(col("text"), k))).as("h"))
      .join(broadcast(bench), Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("hit"))
    batch.select(col("doc_id"), col("ts"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("ts"),
        coalesce(col("hit"), lit(0L)).as("n_hit_shingles"),
        (coalesce(col("hit"), lit(0L)) === 0L).as("keep"))
  }

  /** cls1's streaming twin: ingest-time quality scoring — every arriving
    * document gets the trained classifier's margin/probability/verdict as
    * it lands, from the SAME `Curation.scoreQuality` codegen projection
    * the batch operator applies (train once with
    * `Curation.trainQualityWeights`, broadcast the 65-long weight vector
    * inside the plan, score forever). Stateless per-row work — no
    * watermark, no state store, no join — so it composes with any
    * downstream sink or the contamination guard in the same query.
    * StreamOpsSpec pins stream scores bit-equal to the batch operator's.
    */
  def qualityScoreStream(docs: DataFrame, wq: Array[Long],
                         dim: Int = 64): DataFrame =
    graft.operators.Curation.scoreQuality(docs, wq, dim)
      .select(col("doc_id"), col("ts"), col("margin_p12"),
        col("prob_micros"), col("pred_high"))

  /** cls2's streaming twin: ingest-time Pareto acceptance — every
    * arriving doc is scored with the trained cls1 weights and passed
    * through the SAME exact-integer acceptance projection the batch
    * operator applies (`Curation.acceptPareto`: x28's LCG uniform, the
    * 1001-slot ceil-division LUT, `u15 < t_keep`), so stream and batch
    * verdicts agree bit-for-bit (StreamOpsSpec pins it). Stateless
    * per-row work — no watermark, no state store, no join — the
    * keep/flag routing a live curation pipeline runs at ingest, one
    * codegen span per micro-batch.
    */
  def paretoFilterStream(docs: DataFrame, wq: Array[Long],
                         dim: Int = 64): DataFrame =
    graft.operators.Curation.acceptPareto(
      graft.operators.Curation.scoreQuality(docs, wq, dim)
        .select(col("doc_id"), col("ts"), col("prob_micros")))

  /** c1's streaming twin: the ingest-time decontamination guard a live
    * pipeline runs — each arriving document is checked against the
    * benchmark shingle-hash set (`Decontamination.benchShingles`, MBs by
    * construction) and emitted with a keep/flag verdict before it can
    * enter the corpus. foreachBatch + a stateless broadcast join per
    * micro-batch (the scd2ApplyStream wiring pattern): no watermark or
    * state store — the benchmark is static, so the verdict for a doc
    * depends on nothing but its own batch. `onBatch` receives the
    * verdict frame and the batch id (route keeps to the corpus sink,
    * flags to quarantine); caller `.start()`s the returned writer.
    */
  def contaminationGuardStream(docs: DataFrame, bench: DataFrame, k: Int = 8)(
      onBatch: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        onBatch(contaminationCheck(batch, bench, k), id) }

  /** Keyed run detection over >= minRun consecutive events of the same
    * event_type for one user. Two emission modes:
    *
    *  - `emitPerReport = false` (default): emit once, when the run breaks —
    *    the batch-friendly summary.
    *  - `emitPerReport = true`: emit a row for EVERY event that extends a
    *    run at/past minRun, as it arrives — the reference's sliding
    *    countWindow(4,1) behavior (VehicleTelematics.java:290-331), where
    *    a still-stopped car keeps reporting.
    *
    * Within a micro-batch events are processed in event-time order; state
    * carries the open run across batches.
    */
  def accidentRuns(spark: SparkSession, events: Dataset[Event],
                   minRun: Int = 4,
                   emitPerReport: Boolean = false): Dataset[AccidentRun] = {
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[RunState, AccidentRun](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, it: Iterator[Event], state: GroupState[RunState]) =>
          val sorted = it.toSeq.sortBy(e => micros(e.ts))
          var cur = state.getOption
          val out = Seq.newBuilder[AccidentRun]
          sorted.foreach { e =>
            val us = micros(e.ts)
            cur match {
              case Some(r) if r.eventType == e.event_type =>
                cur = Some(r.copy(endUs = us, n = r.n + 1))
                if (emitPerReport && r.n + 1 >= minRun)
                  out += AccidentRun(userId, r.eventType, r.startUs, us, r.n + 1)
              case Some(r) =>
                if (!emitPerReport && r.n >= minRun)
                  out += AccidentRun(userId, r.eventType, r.startUs, r.endUs, r.n)
                cur = Some(RunState(e.event_type, us, us, 1))
              case None =>
                cur = Some(RunState(e.event_type, us, us, 1))
            }
          }
          cur.foreach(state.update)
          out.result().iterator
      }
  }

  case class SessionAgg(startUs: Long, endUs: Long, n: Long, sum: Double)

  case class UserSession(user_id: Long, t_start_us: Long, t_end_us: Long,
                         n_events: Long, sum_value: Double)

  /** Timer-driven sessionization on transformWithState — the event-time
    * TIMER path (vs. the declarative `session_window` in `sessionWindows`):
    * each key holds one open-session aggregate and one registered timer at
    * (session end + gap). When the watermark passes the timer, the closed
    * session is emitted and state cleared — so an idle key's session closes
    * WITHOUT waiting for that key's next event, and per-key state is O(1)
    * regardless of session length. This is the state+timer pattern every
    * custom windowing operator builds on.
    */
  class SessionizeProcessor(gapMs: Long)
      extends StatefulProcessor[Long, Event, UserSession] {
    @transient private var sess: ValueState[SessionAgg] = _
    private val gapUs = gapMs * 1000L

    /** Timer time (ms, rounded up) at which no event can extend `s`. */
    private def horizonMs(s: SessionAgg): Long =
      Math.floorDiv(s.endUs + gapUs + 999L, 1000L)

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      sess = getHandle.getValueState[SessionAgg](
        "sess", Encoders.product[SessionAgg], TTLConfig.NONE)

    override def handleInputRows(userId: Long, rows: Iterator[Event],
                                 tv: TimerValues): Iterator[UserSession] = {
      val sorted = rows.toSeq.sortBy(e => micros(e.ts))
      var cur = if (sess.exists()) Some(sess.get()) else None
      val out = Seq.newBuilder[UserSession]
      sorted.foreach { e =>
        val us = micros(e.ts)
        cur match {
          case Some(s) if us - s.endUs <= gapUs =>
            cur = Some(SessionAgg(s.startUs, math.max(s.endUs, us),
              s.n + 1, s.sum + e.value))
          case Some(s) =>
            // gap exceeded inside the batch: close in-line, open a new one
            out += UserSession(userId, s.startUs, s.endUs, s.n, s.sum)
            cur = Some(SessionAgg(us, us, 1, e.value))
          case None =>
            cur = Some(SessionAgg(us, us, 1, e.value))
        }
      }
      cur.foreach { s =>
        sess.update(s)
        // one live timer per key: re-arm at the new session horizon
        getHandle.listTimers().foreach(getHandle.deleteTimer)
        getHandle.registerTimer(horizonMs(s))
      }
      out.result().iterator
    }

    override def handleExpiredTimer(userId: Long, tv: TimerValues,
                                    info: ExpiredTimerInfo): Iterator[UserSession] =
      if (sess.exists()) {
        val s = sess.get()
        if (info.getExpiryTimeInMs() >= horizonMs(s)) {
          sess.clear()
          Iterator.single(UserSession(userId, s.startUs, s.endUs, s.n, s.sum))
        } else Iterator.empty // stale timer from a since-extended session
      } else Iterator.empty
  }

  /** Sessionization via state + event-time timers (see SessionizeProcessor).
    * The watermark drives timer expiry; `gap` is the session idle gap.
    */
  def sessionizeTws(spark: SparkSession, events: Dataset[Event],
                    gapMs: Long = 1800000L,
                    watermark: String = "10 seconds"): Dataset[UserSession] = {
    import spark.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .transformWithState(new SessionizeProcessor(gapMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** TTL-expiring first-seen filter on transformWithState: emits only each
    * key's first event while the key's state is live; the per-state TTL
    * (processing time, RocksDB-native) then expires idle keys
    * automatically, so the operator is a streaming `dropDuplicates` whose
    * state NEVER grows beyond the active-key working set — no watermark
    * bookkeeping, no unbounded seen-set. The 100 TB posture for
    * infinite-retention streams.
    */
  class FirstSeenProcessor(ttl: java.time.Duration)
      extends StatefulProcessor[Long, Event, Event] {
    @transient private var seen: ValueState[Boolean] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      seen = getHandle.getValueState[Boolean](
        "seen", Encoders.scalaBoolean, TTLConfig(ttl))

    override def handleInputRows(userId: Long, rows: Iterator[Event],
                                 tv: TimerValues): Iterator[Event] =
      if (rows.hasNext && !seen.exists()) {
        seen.update(true)
        Iterator.single(rows.next())
      } else Iterator.empty
  }

  /** First event per key per TTL horizon (see FirstSeenProcessor). */
  def firstSeenTws(spark: SparkSession, events: Dataset[Event],
                   ttl: java.time.Duration): Dataset[Event] = {
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(new FirstSeenProcessor(ttl),
        TimeMode.ProcessingTime(), OutputMode.Append())
  }

  case class WindowAgg(n: Long, sum: Double)

  case class UserWindow(user_id: Long, w_start_us: Long,
                        n_events: Long, sum_value: Double)

  /** Custom tumbling-window aggregation on transformWithState MAP state —
    * the pattern for windowed state the declarative `window()` cannot
    * express (per-key dynamic windows, custom eviction, windows enriched
    * mid-flight). Each key holds windowStart → (n, sum) in a MapState —
    * O(open windows per key) entries, each O(1) — and one event-time timer
    * per open window; when the watermark passes a window's end the timer
    * fires, that entry alone is emitted and evicted (a second timer for an
    * already-evicted window is a no-op, so duplicate registrations are
    * harmless). RocksDB stores each map entry as its own key, so an update
    * touches one entry, never the whole map.
    */
  class WindowedCountsProcessor(sizeMs: Long)
      extends StatefulProcessor[Long, Event, UserWindow] {
    @transient private var wins: MapState[Long, WindowAgg] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      wins = getHandle.getMapState[Long, WindowAgg](
        "wins", Encoders.scalaLong, Encoders.product[WindowAgg], TTLConfig.NONE)

    override def handleInputRows(userId: Long, rows: Iterator[Event],
                                 tv: TimerValues): Iterator[UserWindow] = {
      rows.foreach { e =>
        val ws = Math.floorDiv(e.ts.getTime, sizeMs) * sizeMs
        val cur = if (wins.containsKey(ws)) wins.getValue(ws) else WindowAgg(0L, 0.0)
        wins.updateValue(ws, WindowAgg(cur.n + 1, cur.sum + e.value))
        getHandle.registerTimer(ws + sizeMs)
      }
      Iterator.empty
    }

    override def handleExpiredTimer(userId: Long, tv: TimerValues,
                                    info: ExpiredTimerInfo): Iterator[UserWindow] = {
      val ws = info.getExpiryTimeInMs() - sizeMs
      if (wins.containsKey(ws)) {
        val a = wins.getValue(ws)
        wins.removeKey(ws)
        Iterator.single(UserWindow(userId, ws * 1000L, a.n, a.sum))
      } else Iterator.empty
    }
  }

  /** Per-user tumbling-window counts via MapState + timers (see
    * WindowedCountsProcessor). `size` is the tumble width.
    */
  def windowedCountsTws(spark: SparkSession, events: Dataset[Event],
                        sizeMs: Long = 600000L,
                        watermark: String = "10 seconds"): Dataset[UserWindow] = {
    import spark.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .transformWithState(new WindowedCountsProcessor(sizeMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  // --- Streaming twins of the round-2 curation analytics ---------------

  case class Doc(doc_id: Long, ts: Timestamp, source: String, n_tokens: Long)

  case class PackState(binId: Long, cumTokens: Long, nDocs: Long,
                       binTokens: Long)

  case class PackedBin(source: String, bin_id: Long, n_docs: Long,
                       bin_tokens: Long, fill_ratio: Double)

  /** Streaming sequence packing (the x20 twin): documents arriving per
    * source accumulate into fixed-token-budget bins by cumulative token
    * count — a doc's bin is ⌊prior/B⌋ exactly like the batch window form,
    * so a replay of the same per-source doc order reproduces the batch
    * bins. A bin is emitted the moment the cumulative count crosses into
    * a later bin; the final open bin flushes when the event-time timer at
    * (last event + flushGap) passes the watermark, so an idle source
    * drains without waiting for its next document. State per key is one
    * O(1) PackState — the 100 TB posture: keys shard by (source) or
    * (source, shard) with no cross-key coordination, identical to the
    * batch operator's partitioning note.
    */
  class PackSequencesProcessor(binTokens: Long, flushGapMs: Long)
      extends StatefulProcessor[String, Doc, PackedBin] {
    @transient private var pack: ValueState[PackState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      pack = getHandle.getValueState[PackState](
        "pack", Encoders.product[PackState], TTLConfig.NONE)

    private def emit(source: String, s: PackState): PackedBin =
      PackedBin(source, s.binId, s.nDocs, s.binTokens,
        math.round(s.binTokens.toDouble / binTokens * 10000.0) / 10000.0)

    override def handleInputRows(source: String, rows: Iterator[Doc],
                                 tv: TimerValues): Iterator[PackedBin] = {
      // within a batch, docs pack in doc_id order (the batch op's window
      // order); across batches, arrival order IS the pack order
      val sorted = rows.toSeq.sortBy(_.doc_id)
      var cur = if (pack.exists()) Some(pack.get()) else None
      val out = Seq.newBuilder[PackedBin]
      var lastMs = 0L
      sorted.foreach { d =>
        val prior = cur.map(_.cumTokens).getOrElse(0L)
        val bin = Math.floorDiv(prior, binTokens)
        cur match {
          case Some(s) if s.nDocs == 0L => // flushed cursor: bin reserved
            cur = Some(PackState(bin, prior + d.n_tokens, 1L, d.n_tokens))
          case Some(s) if s.binId == bin =>
            cur = Some(PackState(bin, prior + d.n_tokens, s.nDocs + 1,
              s.binTokens + d.n_tokens))
          case Some(s) =>
            out += emit(source, s)
            cur = Some(PackState(bin, prior + d.n_tokens, 1L, d.n_tokens))
          case None =>
            cur = Some(PackState(bin, d.n_tokens, 1L, d.n_tokens))
        }
        lastMs = math.max(lastMs, d.ts.getTime)
      }
      cur.foreach { s =>
        pack.update(s)
        // one live flush timer per key, re-armed at the new horizon
        getHandle.listTimers().foreach(getHandle.deleteTimer)
        getHandle.registerTimer(lastMs + flushGapMs)
      }
      out.result().iterator
    }

    override def handleExpiredTimer(source: String, tv: TimerValues,
                                    info: ExpiredTimerInfo): Iterator[PackedBin] =
      if (pack.exists() && pack.get().nDocs > 0) {
        val s = pack.get()
        // close the idle bin but KEEP the cursor at the next bin boundary,
        // so bin ids stay monotone per source across flushes (an idle
        // flush is the one deliberate divergence from the batch window
        // form, which has no idleness to drain)
        pack.update(
          PackState(s.binId + 1, (s.binId + 1) * binTokens, 0L, 0L))
        Iterator.single(emit(source, s))
      } else Iterator.empty
  }

  /** x20 as a stream: per-source token-budget packing with idle flush. */
  def packSequencesStream(spark: SparkSession, docs: Dataset[Doc],
                          binTokens: Long = 512L,
                          flushGapMs: Long = 60000L,
                          watermark: String = "10 seconds"): Dataset[PackedBin] = {
    import spark.implicits._
    docs
      .withWatermark("ts", watermark)
      .groupByKey(_.source)
      .transformWithState(new PackSequencesProcessor(binTokens, flushGapMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  case class HeavyHitter(event_type: String, user_id: Long, est_count: Long,
                         type_total: Long, est_share: Double)

  /** Streaming heavy hitters (the h1 twin) as a Misra–Gries summary per
    * key — the fixed-state sketch form the batch operator's Scaladoc
    * names as its streaming upgrade. Per event type the state is at most
    * `k` candidate counters plus the running type total, REGARDLESS of
    * how many distinct users the stream ever sees — the 100 TB posture
    * for unbounded-cardinality frequency tracking (an exact streaming
    * groupBy count would grow state with every new user forever).
    *
    * Misra–Gries guarantee: any user with true count > n/k is always
    * among the candidates, and estimates undercount by at most n/k.
    * After each batch the processor emits the candidates currently at or
    * above `minShare` of the type total — a per-batch monitor stream
    * (the latest emission per (type, user) is the current estimate), not
    * an append-only fact stream.
    */
  class HeavyHittersProcessor(k: Int, minShare: Double)
      extends StatefulProcessor[String, Event, HeavyHitter] {
    @transient private var counts: MapState[Long, Long] = _
    @transient private var total: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      counts = getHandle.getMapState[Long, Long](
        "counts", Encoders.scalaLong, Encoders.scalaLong, TTLConfig.NONE)
      total = getHandle.getValueState[Long](
        "total", Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(eventType: String, rows: Iterator[Event],
                                 tv: TimerValues): Iterator[HeavyHitter] = {
      // batch-local mirror of the (≤ k-entry) counter map: one state read
      // per key per batch, one write per surviving counter
      val local = scala.collection.mutable.Map.empty[Long, Long]
      counts.iterator().foreach { p => local(p._1) = p._2 }
      var n = if (total.exists()) total.get() else 0L
      rows.foreach { e =>
        n += 1
        local.get(e.user_id) match {
          case Some(c) => local(e.user_id) = c + 1
          case None if local.size < k => local(e.user_id) = 1L
          case None => // decrement-all: the Misra–Gries eviction step
            local.keys.toSeq.foreach { u =>
              val c = local(u) - 1
              if (c == 0) local.remove(u) else local(u) = c
            }
        }
      }
      total.update(n)
      counts.clear()
      local.foreach { case (u, c) => counts.updateValue(u, c) }
      local.toSeq.sortBy(_._1).iterator
        .filter { case (_, c) => c.toDouble / n >= minShare }
        .map { case (u, c) =>
          HeavyHitter(eventType, u, c, n,
            math.round(c.toDouble / n * 1e6) / 1e6)
        }
    }
  }

  /** h1 as a stream: Misra–Gries candidates at `minShare` of each type's
    * running total, re-emitted per batch.
    */
  def heavyHittersStream(spark: SparkSession, events: Dataset[Event],
                         k: Int = 32,
                         minShare: Double = 0.008): Dataset[HeavyHitter] = {
    import spark.implicits._
    events
      .groupByKey(_.event_type)
      .transformWithState(new HeavyHittersProcessor(k, minShare),
        TimeMode.None(), OutputMode.Append())
  }

  // --- Streaming near-dup detection on one standing band index ----------
  // (the d2, d8 and m9 twins)

  case class TextDoc(doc_id: Long, ts: Timestamp, text: String)

  case class NearDupPair(a_id: Long, b_id: Long, est_jaccard: Double,
                         ts: Timestamp)

  /** A document tagged with its corpus role: `is_new = false` rows SEED
    * the standing corpus (store-only), `is_new = true` rows are the live
    * ingest feed that probes it. */
  case class SeedableDoc(doc_id: Long, ts: Timestamp, text: String,
                         is_new: Boolean)

  /** One banded-entry row of [[BandIndexProcessor]]: a doc's signature
    * under one band-bucket key, with its corpus role. The signature is the
    * MinHash signature for d2/d8 and the one-element aHash for m9. */
  case class SeededBandedSig(bkey: String, doc_id: Long, ts: Timestamp,
                             is_new: Boolean, sig: Array[Long])

  case class SeededSigEntry(sig: Array[Long], is_new: Boolean)

  /** One detection of the band index: the id-ordered pair, the score the
    * twin's score function kept, both roles and the probe's event time. */
  case class BandHit(a_id: Long, b_id: Long, score: Double,
                     a_new: Boolean, b_new: Boolean, ts: Timestamp)

  case class IncNearDupPair(a_id: Long, b_id: Long, est_jaccard: Double,
                            a_new: Boolean, b_new: Boolean, ts: Timestamp)

  /** The standing band index all three near-dup twins run on (d2, d8, m9):
    * one band bucket is one transformWithState key, and its residents
    * live in MapState (doc_id → signature + role), never payloads or
    * text. An arriving `is_new` row scores against every resident and
    * emits one [[BandHit]] per resident `score` keeps, then joins the
    * residency — so pairs surface ACROSS micro-batches, the property the
    * batch operators cannot give a live ingest feed. Corpus seeds
    * (`is_new = false`) join the residency without scoring, so a
    * historical corpus is never re-paired with itself however it is
    * replayed into state (batch d8's batch×corpus asymmetry, given to a
    * live feed, with candidate work ∝ the feed's bucket occupancy). The
    * twins differ only in `score`.
    *
    * The policy, one copy for all three twins:
    *  - Order within a micro-batch: seeds store first, then new rows probe
    *    in doc_id order. A replay of the same batch boundaries reproduces
    *    the same detections, and a seed and a probe arriving in the same
    *    batch DO pair, exactly like the batch operators. A seed arriving
    *    after a probe (out-of-order corpus backfill) pairs with nothing —
    *    seed the corpus before, or at latest alongside, the feed.
    *  - The bucket CAP: once a bucket holds `maxBucketSize` residents
    *    (both roles counted — batch d8 likewise caps on the full corpus
    *    bucket) it goes dark: no store, no emit. A hot bucket is
    *    stop-shingle or flat-band territory whose O(n²) pair volume the
    *    cap exists to prevent; recall is preserved by the doc's other
    *    bands. Batch drops an over-full bucket retroactively; a stream
    *    cannot retract, so the cap is reached-then-dark — the first
    *    `maxBucketSize` arrivals still pair. The size is recounted LIVE at
    *    batch start: an admission counter in ValueState would never
    *    decrement when TTL expires residents, leaving a once-full bucket
    *    permanently closed after its index drained.
    *  - Per-state TTL (processing-time, RocksDB-native) expires idle
    *    buckets, bounding total state to the active working set like
    *    FirstSeenProcessor's infinite-retention posture. TTL state requires
    *    TimeMode.ProcessingTime, whose maintenance work keeps
    *    shouldRunAnotherBatch true perpetually (the constraint
    *    FirstSeenProcessor documents) — so `ttl = ZERO` selects EventTime
    *    mode with no TTL instead: watermark-bounded harness/bench runs
    *    terminate under AvailableNow, and a production deployment opts
    *    into TTL with a nonzero duration ([[bandIndexStream]] wires both).
    *
    * State per bucket is ≤ cap signatures — with d2/d8's 32-hash default
    * and the 2000 cap, ≤ 512 KB worst case — shardable by bucket key with
    * no cross-key coordination.
    */
  class BandIndexProcessor(score: (Array[Long], Array[Long]) => Option[Double],
                           maxBucketSize: Int, ttl: java.time.Duration)
      extends StatefulProcessor[String, SeededBandedSig, BandHit] {
    @transient private var sigs: MapState[Long, SeededSigEntry] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      sigs = getHandle.getMapState[Long, SeededSigEntry](
        "sigs", Encoders.scalaLong, Encoders.product[SeededSigEntry],
        ttlConfig(ttl))

    override def handleInputRows(bkey: String, rows: Iterator[SeededBandedSig],
                                 tv: TimerValues): Iterator[BandHit] = {
      // the live recount stops at the cap: past it the bucket is closed,
      // and iterating the rest of the state store is wasted work
      var n = 0L
      val live = sigs.iterator()
      while (n < maxBucketSize && live.hasNext) { live.next(); n += 1 }
      val out = Seq.newBuilder[BandHit]
      rows.toSeq.sortBy(d => (d.is_new, d.doc_id)).foreach { d =>
        if (n < maxBucketSize && !sigs.containsKey(d.doc_id)) {
          if (d.is_new) {
            sigs.iterator().foreach { case (otherId, e) =>
              score(e.sig, d.sig).foreach { s =>
                out += (if (otherId < d.doc_id)
                    BandHit(otherId, d.doc_id, s, e.is_new, true, d.ts)
                  else BandHit(d.doc_id, otherId, s, true, e.is_new, d.ts))
              }
            }
          }
          sigs.updateValue(d.doc_id, SeededSigEntry(d.sig, d.is_new))
          n += 1
        }
      }
      out.result().iterator
    }
  }

  /** Banded rows → [[BandIndexProcessor]] detections, keyed by band
    * bucket; `ttl = ZERO` runs in EventTime mode, any other TTL in
    * ProcessingTime mode (see the processor's policy). */
  private def bandIndexStream(spark: SparkSession,
                              banded: Dataset[SeededBandedSig],
                              score: (Array[Long], Array[Long]) => Option[Double],
                              maxBucketSize: Int,
                              ttl: java.time.Duration): Dataset[BandHit] = {
    import spark.implicits._
    banded
      .groupByKey(_.bkey)
      .transformWithState(
        new BandIndexProcessor(score, maxBucketSize, ttl),
        if (ttl.isZero) TimeMode.EventTime() else TimeMode.ProcessingTime(),
        OutputMode.Append())
  }

  /** d2 as a stream: the d8 twin ([[incrementalDedupStream]]) with every
    * document a feed row (`is_new = true`), so every resident is a
    * candidate — the same kernel, bucket identity and
    * [[BandIndexProcessor]] — projected to [[NearDupPair]].
    *
    * Output is one detection per COLLIDING BAND: a pair caught by several
    * bands emits once per band (identically scored). The batch operator
    * dedups bands with a shuffle `distinct`; a consumer that needs
    * exactly-one-row-per-pair chains `dropDuplicatesWithinWatermark
    * ("a_id", "b_id")` — kept out of this operator so the detection
    * stream stays append-only and timer-free.
    */
  def minhashLshDedupStream(spark: SparkSession, docs: Dataset[TextDoc],
                            shingleSize: Int = 1, numHashes: Int = 32,
                            bands: Int = 8, minEstJaccard: Double = 0.8,
                            maxBucketSize: Int = 2000,
                            ttl: java.time.Duration = java.time.Duration.ofHours(1),
                            watermark: String = "10 seconds"): Dataset[NearDupPair] = {
    import spark.implicits._
    incrementalDedupStream(spark,
        docs.toDF().withColumn("is_new", lit(true)).as[SeedableDoc],
        shingleSize, numHashes, bands, minEstJaccard, maxBucketSize, ttl,
        watermark)
      .select("a_id", "b_id", "est_jaccard", "ts")
      .as[NearDupPair]
  }

  /** d8 as a stream: MinHash signatures band into bucket keys exactly like
    * the batch operators (same kernel, same raw-slice bucket identity, here
    * rendered to a string key), and [[BandIndexProcessor]] holds the
    * standing corpus in state, scoring by the equal-count Jaccard estimate
    * (kept at ≥ `minEstJaccard`, rounded to 1e-6). Emissions carry batch
    * d8's is-new flags, one detection per colliding band — chain
    * `dropDuplicatesWithinWatermark("a_id","b_id")` for one-row-per-pair,
    * as with the d2 twin.
    */
  def incrementalDedupStream(spark: SparkSession, docs: Dataset[SeedableDoc],
                             shingleSize: Int = 1, numHashes: Int = 32,
                             bands: Int = 8, minEstJaccard: Double = 0.8,
                             maxBucketSize: Int = 2000,
                             ttl: java.time.Duration = java.time.Duration.ofHours(1),
                             watermark: String = "10 seconds"): Dataset[IncNearDupPair] = {
    import spark.implicits._
    val rows = numHashes / bands
    val banded = docs.toDF()
      .withWatermark("ts", watermark)
      .filter(size(split(col("text"), " ")) >= shingleSize)
      .select(col("doc_id"), col("ts"), col("is_new"),
        graft.operators.Dedup.minHashSignature(
          graft.operators.Dedup.shingles(col("text"), shingleSize),
          numHashes).as("sig"))
      .select(
        explode(transform(sequence(lit(0), lit(bands - 1)),
          b => concat_ws(":", b.cast("string"),
            slice(col("sig"), b * rows + 1, lit(rows)).cast("string"))))
          .as("bkey"),
        col("doc_id"), col("ts"), col("is_new"), col("sig"))
      .as[SeededBandedSig]
    val jaccard = (a: Array[Long], b: Array[Long]) => {
      var eq = 0
      var i = 0
      while (i < numHashes) {
        if (a(i) == b(i)) eq += 1
        i += 1
      }
      val est = eq.toDouble / numHashes
      if (est >= minEstJaccard) Some(math.round(est * 1e6) / 1e6) else None
    }
    bandIndexStream(spark, banded, jaccard, maxBucketSize, ttl)
      .withColumnRenamed("score", "est_jaccard")
      .as[IncNearDupPair]
  }

  /** Keyed consecutive-pair detection: emit (prev, cur) when the gap is
    * under `maxGapUs`. State is just the previous event time.
    */
  def saturatedPairs(spark: SparkSession, events: Dataset[Event],
                     maxGapUs: Long = 600000000L): Dataset[SaturatedPair] = {
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[PairState, SaturatedPair](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, it: Iterator[Event], state: GroupState[PairState]) =>
          val sorted = it.toSeq.sortBy(e => micros(e.ts))
          var last = state.getOption.map(_.lastUs)
          val out = Seq.newBuilder[SaturatedPair]
          sorted.foreach { e =>
            val us = micros(e.ts)
            last.foreach { p =>
              if (us - p < maxGapUs) out += SaturatedPair(userId, p, us, 2L)
            }
            last = Some(us)
          }
          last.foreach(u => state.update(PairState(u)))
          out.result().iterator
      }
  }

  /** The cdc2 SCD2 history, maintained INCREMENTALLY — one MERGE-style
    * apply per micro-batch of newly ingested orders (the daily-ingest
    * shape a warehouse dimension actually runs, vs cdc2's full rebuild).
    * `scd2Merge` is the pure per-batch kernel: aggregate the batch into
    * (key, period) deltas, upsert them into the standing history with
    * re-aggregation confined to the AFFECTED keys — untouched customers'
    * rows pass through an anti-join untouched (a table-format MERGE at
    * fleet scale additionally file-skips them, making per-batch WRITE
    * volume proportional to the batch's key set too). Interval chaining
    * (valid_to / is_current) is a read-time window — it is a pure
    * function of the (key, period) rows, so deferring it keeps the merge
    * kernel insert-only and idempotent to batch splits. Spend
    * accumulates in decimal(18,2) across batches (exact addition, so any
    * batch split replays to bit-identical totals) and publishes as double
    * only in the `current` read, matching cdc2's convention — the spec
    * pins stream-final == batch cdc2 on the same orders.
    *
    * State lives in a driver-held DataFrame localCheckpoint'ed per batch
    * (flat lineage, no recompute chain); on a cluster the same kernel
    * writes through a reliable table format's MERGE (the state is a
    * DataFrame in, DataFrame out — the holder is the only part that
    * assumes local mode).
    */
  def scd2BatchDeltas(orders: DataFrame): DataFrame =
    orders.groupBy(col("o_custkey"), year(col("o_orderdate")).as("valid_from"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).as("spend"))

  /** One MERGE apply: `state` (o_custkey, valid_from, n_orders, spend) ×
    * batch deltas of the same shape → merged state with intervals
    * re-chained for affected customers only.
    */
  def scd2Merge(state: DataFrame, deltas: DataFrame): DataFrame = {
    val affected = deltas.select(col("o_custkey")).distinct()
    val untouched = state.join(affected, Seq("o_custkey"), "left_anti")
    val rechained = state.join(affected, Seq("o_custkey"))
      .unionByName(deltas)
      .groupBy(col("o_custkey"), col("valid_from"))
      .agg(sum(col("n_orders")).as("n_orders"),
        sum(col("spend")).cast("decimal(18,2)").as("spend"))
    untouched.unionByName(rechained)
  }

  /** Read-time interval chaining over a (o_custkey, valid_from, n_orders,
    * spend) state frame — the cdc2 publication shape. A pure function of
    * the state rows, shared by the streaming holder's `current` and the
    * batch MERGE audit (cdc3).
    */
  def scd2Chain(state: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_custkey").orderBy("valid_from")
    state
      .withColumn("valid_to", lead(col("valid_from"), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
      .select(col("o_custkey"), col("valid_from"), col("valid_to"),
        col("is_current"), col("n_orders"),
        col("spend").cast("double").as("spend"))
  }

  /** Driver-held SCD2 state for the streaming apply loop: checkpoint per
    * batch, interval chaining + double publish at read time.
    */
  final class Scd2State(spark: SparkSession) {
    import spark.implicits._
    @volatile private var state: DataFrame =
      Seq.empty[(Long, Int, Long, java.math.BigDecimal)]
        .toDF("o_custkey", "valid_from", "n_orders", "spend")
        .select(col("o_custkey"), col("valid_from"), col("n_orders"),
          col("spend").cast("decimal(18,2)"))
    def applyBatch(orders: DataFrame): Unit = synchronized {
      state = scd2Merge(state, scd2BatchDeltas(orders)).localCheckpoint()
    }
    /** The SCD2 history as cdc2 publishes it. */
    def current: DataFrame =
      scd2Chain(state).orderBy("o_custkey", "valid_from")
  }

  /** Wire an unbounded orders frame into the SCD2 apply loop; caller
    * `.start()`s the returned writer and reads `state.current` after any
    * processed batch.
    */
  def scd2ApplyStream(orders: DataFrame, state: Scd2State): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    orders.writeStream.outputMode(OutputMode.Update)
      .foreachBatch { (batch: DataFrame, _: Long) => state.applyBatch(batch) }

  /** Static reference histogram for the streaming drift monitor: per event
    * type, the binned value counts and total of the trusted corpus — the
    * frame `psiDriftStream` broadcasts against every micro-batch. The
    * binning config (`ref_bins`, `ref_bin_width`) rides along as columns
    * so the monitor can fail loudly if it is called with a different
    * binning than the reference was built with (a silent mismatch would
    * zip arrays of different lengths into null PSI terms).
    */
  def referenceHistogram(events: DataFrame, bins: Int = 10,
                         binWidth: Double = 50.0): DataFrame = {
    // null values are EXCLUDED from every drift view — histogram mass and
    // totals alike (Spark's least/greatest skip nulls, so an unfiltered
    // null would silently clamp into the top bin); the batch drift ops
    // apply the same rule, keeping stream and batch equal by construction
    val binned = events.filter(col("value").isNotNull)
      .select(col("event_type"),
      greatest(lit(0L), least(floor(col("value") / binWidth), lit(bins - 1)))
        .cast("int").as("bin"))
    binned.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_ref"),
        array((0 until bins).map(i =>
          sum(when(col("bin") === i, 1L).otherwise(0L))): _*).as("ref_counts"))
      .withColumn("ref_bins", lit(bins))
      .withColumn("ref_bin_width", lit(binWidth))
  }

  /** Streaming drift monitor — the drift1 twin: per event-time window and
    * event type, the PSI of the incoming value distribution against a
    * static reference histogram. ONE stateful aggregation builds the whole
    * windowed histogram (the `bins` conditional counters live inside the
    * same aggregate as the count, so no second stateful operator is
    * needed); the reference is a types-sized broadcast, and the PSI itself
    * is a narrow ordered fold over the two bin arrays (`zip_with` +
    * `aggregate`) — per-window cost is O(bins), state is one row per open
    * (window, type). The watermark closes windows for append sinks exactly
    * like the other windowed ops; a drifted verdict on a closing window is
    * the alert a monitoring pipeline pages on.
    *
    * Two failure modes are surfaced instead of swallowed: an event type
    * with NO reference histogram (a brand-new type appearing in the
    * stream — itself a drift signal) survives the LEFT join with
    * `unknown_reference = true`, null PSI, and `drifted = true`; and a
    * reference built with different bins/binWidth than this call's
    * raises at runtime (via the `ref_bins`/`ref_bin_width` columns the
    * reference frame carries) rather than zipping mismatched arrays
    * into silent null PSI.
    */
  /** The scaffolding both windowed drift monitors share: the driver-side
    * reference-schema precondition, the null-excluding clamped binning,
    * ONE stateful windowed aggregate with per-bin conditional counters,
    * the types-sized broadcast left join, and the runtime binning
    * tripwire (raised into `statCol` so it fires on the first joined
    * row). Returns the joined frame with `n_window`, the reference
    * columns, and the window-bin-counts array as `counts`; `statCol`
    * maps (frame columns) -> the monitor's statistic expression,
    * evaluated only for known-reference rows.
    */
  private def windowedDriftFrame(events: DataFrame, reference: DataFrame,
                                 windowDur: String, watermark: String,
                                 bins: Int, binWidth: Double,
                                 monitor: String,
                                 statCol: org.apache.spark.sql.Column,
                                 statName: String): DataFrame = {
    // a reference histogram persisted before the bins/binWidth columns
    // existed would otherwise die at ANALYSIS with an unresolved-column
    // error; check on the driver and raise the same descriptive message
    // the runtime tripwire uses for a value mismatch
    if (!reference.columns.contains("ref_bins") ||
        !reference.columns.contains("ref_bin_width"))
      throw new IllegalArgumentException(
        s"$monitor reference frame lacks ref_bins/ref_bin_width " +
          "columns — rebuild it with referenceHistogram so the monitor can " +
          "verify the binning matches (monitor expects " +
          s"($bins, $binWidth))")
    val binCols = (0 until bins).map(i =>
      sum(when(col("bin") === i, 1L).otherwise(0L)).as(s"b$i"))
    val agged = events
      .withWatermark("ts", watermark)
      .filter(col("value").isNotNull) // referenceHistogram's null rule
      .select(col("ts"), col("event_type"),
        greatest(lit(0L), least(floor(col("value") / binWidth), lit(bins - 1)))
          .cast("int").as("bin"))
      .groupBy(window(col("ts"), windowDur).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_window"), binCols: _*)
    val known = col("ref_counts").isNotNull
    agged
      .join(broadcast(reference), Seq("event_type"), "left")
      .withColumn("counts", array((0 until bins).map(i => col(s"b$i")): _*))
      .withColumn(statName,
        // config-mismatch tripwire: raises on the first joined row whose
        // reference was built with a different binning than this call's
        when(known &&
          (col("ref_bins") =!= bins || col("ref_bin_width") =!= binWidth),
          raise_error(concat(lit(s"$monitor bins/binWidth mismatch: " +
            s"monitor ($bins, $binWidth) vs reference ("),
            col("ref_bins"), lit(", "), col("ref_bin_width"), lit(")"))))
          .otherwise(when(known, statCol)))
  }

  def psiDriftStream(events: DataFrame, reference: DataFrame,
                     windowDur: String = "1 day", watermark: String = "1 day",
                     bins: Int = 10, binWidth: Double = 50.0,
                     threshold: Double = 0.2): DataFrame = {
    val counts = col("counts")
    val known = col("ref_counts").isNotNull
    val psiExpr = round(aggregate(
      zip_with(col("ref_counts"), counts, (cr, cn) => {
        val p = (cr.cast("double") + lit(1.0)) / (col("n_ref") + lit(bins))
        val q = (cn.cast("double") + lit(1.0)) / (col("n_window") + lit(bins))
        (p - q) * log(p / q)
      }),
      lit(0.0), (acc, t) => acc + t), 6)
    windowedDriftFrame(events, reference, windowDur, watermark, bins,
      binWidth, "psiDriftStream", psiExpr, "psi")
      .select(
        unix_micros(col("w.start")).as("window_start_us"),
        unix_micros(col("w.end")).as("window_end_us"),
        col("event_type"), col("n_window"), col("psi"),
        (!known).as("unknown_reference"),
        (!known || col("psi") > threshold).as("drifted"))
  }

  /** Streaming KS drift monitor — the drift2 twin: per event-time window
    * and event type, the two-sample Kolmogorov–Smirnov statistic of the
    * window's BINNED value distribution against a static reference
    * histogram (the same `referenceHistogram` frame the PSI monitor
    * broadcasts — one reference serves both monitors). Binning is what
    * makes KS streamable: the exact statistic needs the pooled distinct-
    * value support, which an unbounded stream cannot hold in one
    * aggregate, so the monitor quantizes to the reference's bin grid and
    * computes the EXACT KS of the binned distributions — the standard
    * monitoring deployment; a sub-bin-width shift is the resolution
    * knowingly traded (drift1's PSI has the same grid, batch drift2 has
    * none). On any fixture whose values already sit on the bin grid the
    * binned statistic IS batch drift2's exact D — the spec pins that
    * equivalence.
    *
    * Shape: ONE stateful windowed aggregation (the bins live as
    * conditional counters inside the same aggregate as the count — the
    * psiDriftStream trick, so no second stateful operator), a types-sized
    * broadcast join, then a narrow O(bins) fold per closing window. The
    * fold carries (cum_ref, cum_win, max_num) through the zipped bin
    * arrays and maximizes |cum_ref·n_window − cum_win·n_ref| — exact
    * cross-multiplied longs, the drift2 convention — publishing `ks_num`
    * and ONE rounded division `ks`. Failure modes mirror the PSI twin:
    * an event type with no reference row survives the left join as
    * `unknown_reference = true` + `drifted = true`, and a reference
    * built on a different bin grid raises a descriptive error instead
    * of silently folding mismatched arrays.
    */
  def ksDriftStream(events: DataFrame, reference: DataFrame,
                    windowDur: String = "1 day", watermark: String = "1 day",
                    bins: Int = 10, binWidth: Double = 50.0,
                    threshold: Double = 0.05): DataFrame = {
    val known = col("ref_counts").isNotNull
    // fold state: (cumulative ref count, cumulative window count, max
    // cross-multiplied CDF gap) — all exact longs
    val ksNumExpr = aggregate(
      zip_with(col("ref_counts"), col("counts"),
        (cr, cw) => struct(cr.as("cr"), cw.as("cw"))),
      struct(lit(0L).as("fr"), lit(0L).as("fw"), lit(0L).as("mx")),
      (acc, t) => {
        val fr = acc.getField("fr") + t.getField("cr")
        val fw = acc.getField("fw") + t.getField("cw")
        struct(fr.as("fr"), fw.as("fw"),
          greatest(acc.getField("mx"),
            abs(fr * col("n_window") - fw * col("n_ref"))).as("mx"))
      },
      acc => acc.getField("mx"))
    // degenerate reference (batch ksDrift's convention, DataOps.scala):
    // a KNOWN reference row whose counts are all zero has no defined
    // two-sample statistic — ks_num/(n_ref·n_window) would be 0/0 = NaN.
    // ks is NULL and drifted is true: a type with reference mass zero
    // that now produces events is definitionally drifted. n_window ≥ 1
    // by construction (a window group only exists once an event arrives),
    // but the guard covers it anyway so the twin and batch share one rule.
    val degenerate = col("n_ref") === 0 || col("n_window") === 0
    windowedDriftFrame(events, reference, windowDur, watermark, bins,
      binWidth, "ksDriftStream", ksNumExpr, "ks_num")
      .withColumn("ks",
        when(known && !degenerate, round(col("ks_num").cast("double") /
          (col("n_ref") * col("n_window")).cast("double"), 6)))
      .select(
        unix_micros(col("w.start")).as("window_start_us"),
        unix_micros(col("w.end")).as("window_end_us"),
        col("event_type"), col("n_window"), col("n_ref"),
        col("ks_num"), col("ks"),
        (!known).as("unknown_reference"),
        (!known || degenerate || col("ks") > threshold).as("drifted"))
  }

  /** Streaming χ² drift monitor — the drift3 twin completing the triad
    * (PSI = effect size, KS = shape, χ² = significance): per event-time
    * window and event type, the two-sample chi-squared homogeneity test
    * of the window's binned value counts against the static reference
    * histogram (the SAME `referenceHistogram` frame the PSI and KS
    * monitors broadcast — one reference serves all three), paging at the
    * α = 0.05 critical value for the occupied-bin dof. Unlike the KS
    * twin, binning costs this monitor nothing semantically: batch drift3
    * is ALREADY a binned statistic on the same clamped grid, so with a
    * reference built from the pre-cutoff events the closing-window χ² is
    * bit-equal to batch drift3's — identical per-bin term arithmetic
    * (exact long cross term, ONE 9-rounded double division per occupied
    * bin, exact decimal(28,9) term sum, final round to 6) and identical
    * occupied-bin dof; the spec pins that equality. dof = 0 (both sides
    * in one bin) can never reject, exactly like batch drift3.
    *
    * Shape: the shared `windowedDriftFrame` scaffold — ONE stateful
    * windowed aggregate with per-bin conditional counters, a types-sized
    * broadcast left join, then an O(bins) unrolled codegen projection
    * per closing window (bins is a compile-time constant, so the term
    * sum is a plain left-to-right decimal fold — no HOF, no
    * CodegenFallback on the hot path). Failure modes mirror the other
    * twins: an event type with no reference row survives as
    * `unknown_reference = true` + NULL χ² + `drifted = true`, and a
    * reference built on a different bin grid raises a descriptive error
    * instead of silently pairing mismatched arrays.
    */
  def chi2DriftStream(events: DataFrame, reference: DataFrame,
                      windowDur: String = "1 day", watermark: String = "1 day",
                      bins: Int = 10, binWidth: Double = 50.0): DataFrame = {
    val crit = graft.operators.DataOps.Chi2Crit05
    require(bins >= 2 && bins <= crit.length + 1,
      s"bins must be in [2, ${crit.length + 1}] for the dof table; got $bins")
    val known = col("ref_counts").isNotNull
    // per-bin χ² terms over (reference, window) counts — batch drift3's
    // exact arithmetic with c_old → ref count, c_new → window count;
    // empty (cr + cw = 0) bins contribute neither a term nor a dof
    def cr(i: Int) = element_at(col("ref_counts"), i + 1)
    def cw(i: Int) = element_at(col("counts"), i + 1)
    // the n_ref > 0 conjunct keeps a degenerate (all-zero-counts) KNOWN
    // reference row from computing 0/0 = NaN — which the decimal cast
    // below would reject at runtime under ANSI; the final select turns
    // such rows into NULL χ² + drifted (n_window > 0 always holds in a
    // stream, guarded anyway to share the batch rule verbatim)
    val terms = (0 until bins).map { i =>
      val cross = cr(i) * col("n_window") - cw(i) * col("n_ref")
      when(cr(i) + cw(i) > 0 && col("n_ref") > 0 && col("n_window") > 0,
        graft.functions.Doubles.roundZ(
          cross.cast("double") * cross.cast("double") /
            (col("n_ref").cast("double") * col("n_window").cast("double") *
              (cr(i) + cw(i)).cast("double")), 9))
        .otherwise(lit(0.0)).cast("decimal(28,9)")
    }
    val occupied = (0 until bins).map(i =>
      when(cr(i) + cw(i) > 0, 1).otherwise(0)).reduce(_ + _)
    val statExpr = struct(
      graft.functions.Doubles.roundZ(
        terms.reduce(_ + _).cast("double"), 6).as("chi2"),
      occupied.cast("int").as("n_bins"))
    // degenerate reference — the ksDriftStream/batch convention: a KNOWN
    // reference row with all-zero counts makes every occupied bin's term
    // 0/0 = NaN (n_ref multiplies the denominator). χ² is NULL and
    // drifted is true instead.
    val degenerate = col("n_ref") === 0 || col("n_window") === 0
    windowedDriftFrame(events, reference, windowDur, watermark, bins,
      binWidth, "chi2DriftStream", statExpr, "chi2s")
      .withColumn("chi2", when(!degenerate, col("chi2s.chi2")))
      .withColumn("n_bins", col("chi2s.n_bins"))
      .withColumn("dof", (col("n_bins") - 1).cast("int"))
      .select(
        unix_micros(col("w.start")).as("window_start_us"),
        unix_micros(col("w.end")).as("window_end_us"),
        col("event_type"), col("n_window"), col("n_ref"),
        col("n_bins"), col("dof"), col("chi2"),
        (!known).as("unknown_reference"),
        when(!known || degenerate, lit(true))
          // dof = 0 must not reach element_at (ANSI rejects index 0)
          .when(col("dof") >= 1,
            col("chi2") > element_at(array(crit.map(lit): _*), col("dof")))
          .otherwise(lit(false)).as("drifted"))
  }
}
