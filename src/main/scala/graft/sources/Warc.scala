package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.util.Locale
import java.util.zip.CRC32

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Html, Urls}

/** w1: WARC record-framed archive source — the container format every
  * real crawl corpus arrives in (ISO 28500 / Common Crawl's WARC/1.0;
  * no reference analog — the reference consumes pre-extracted CSV). The
  * engine side is a zero-dependency record reader behind the seam
  * discipline (`Html.HtmlBlocker` / `Multimodal.PixelDecoder`
  * convention): record boundaries come from the `Content-Length` header
  * — NEVER a delimiter scan, because an HTTP payload may legally
  * contain the `\r\n\r\n` separator and the `WARC/1.0` magic — headers
  * parse case-insensitively, and the HTTP response payload splits into
  * status line + headers + body the same way.
  *
  * Corpus plumbing mirrors m1/x41: documents are grouped into
  * fixed-size shards, each shard synthesized into a BYTE-VALID WARC
  * container (one `response` record per document wrapping the x41 page
  * as an HTTP/1.1 response, the x43 raw URL as `WARC-Target-URI`), then
  * parsed BACK through the seam; only fixed-width audit rows leave the
  * executor (record offset/length inside the container, parsed-back
  * URI/status, payload length + CRC32). The DuckDB oracle rebuilds
  * every record byte-for-byte from (doc_id, text) — offsets included,
  * via a per-shard running sum — so the reader's framing arithmetic is
  * hash-checked, not asserted.
  *
  * Scale shape: ONE shuffle on shard_id (the grouping a container
  * writer needs anyway), executor memory bounded by shardSize × page
  * size, audit output ∝ records. At fleet scale the containers are the
  * INPUT — and that posture is EXERCISED, not just promised: w3
  * (`writeWarcFiles` → `binaryFile` → `parseWarc` in `mapPartitions`,
  * below) lands the same containers as real `.warc` files and audits
  * the read-back byte-for-byte against w1's oracle.
  */
object Warc {

  private val CRLF = "\r\n"

  /** Corruption bound for Content-Length: a header above this (256 MiB —
    * far beyond any page or extraction this pipeline frames) is treated
    * as corruption and fails loudly rather than reading as an
    * incomplete record a reassembler would wait on forever.
    */
  private[graft] val MaxRecordBytes: Long = 256L * 1024 * 1024

  /** Compressed-size slack above [[MaxRecordBytes]] for a gzip member of
    * a maximal record: incompressible data legally DEFLATES larger than
    * it is (stored-block framing, ~5 B per 64 KiB block ≈ 20 KiB at the
    * payload bound) plus the WARC head and the gzip member
    * header/trailer — a compressed bound without this slack would
    * reject a correct sidecar entry for a maximal record as corrupt.
    */
  private[graft] val MaxGzSlackBytes: Long = 128L * 1024

  /** One parsed WARC record: lowercased header names, the byte offset
    * and total length of the record inside its container, and the raw
    * payload block (for `response` records, a full HTTP message).
    */
  case class WarcRecord(headers: Map[String, String], offset: Long,
                        recLen: Long, payload: Array[Byte])

  private val CrlfBytes = CRLF.getBytes(UTF_8)

  /** head + body + the CRLF CRLF record epilogue, as one byte array —
    * the frame shape both record builders share.
    */
  private def frame(heads: Seq[Array[Byte]], body: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(
      heads.map(_.length).sum + body.length + 4)
    heads.foreach(out.write)
    out.write(body)
    out.write(CrlfBytes); out.write(CrlfBytes)
    out.toByteArray
  }

  /** The synthesized record for one document — deterministic in
    * (doc_id, text): the x43 raw URL, a fixed date, the x41 page as an
    * HTTP/1.1 200 response. Content-Length values are BYTE counts (the
    * wire contract), never String.length char counts — the two differ
    * the moment a document carries a non-ASCII character, and a
    * char-counted header makes the byte-counting reader truncate the
    * payload and fail the trailer check for the whole container.
    */
  private[graft] def buildRecord(id: Long, text: String): Array[Byte] = {
    val htmlBytes = Html.buildHtml(id, text).getBytes(UTF_8)
    val httpHead = ("HTTP/1.1 200 OK" + CRLF +
      "Content-Type: text/html" + CRLF +
      s"Content-Length: ${htmlBytes.length}" + CRLF + CRLF).getBytes(UTF_8)
    val httpLen = httpHead.length + htmlBytes.length
    // ISO 28500 §5.9 digest headers: payload digest over the HTTP
    // entity body, block digest over the whole content block (the HTTP
    // message, digested incrementally over the two existing arrays —
    // never concatenated just to hash) — labelled sha-256 hex (see
    // sha256Label for why not sha1:BASE32 here), VERIFIED on every
    // read path (verifyDigests)
    val warcHead = ("WARC/1.0" + CRLF +
      "WARC-Type: response" + CRLF +
      s"WARC-Record-ID: <urn:graft:doc-$id>" + CRLF +
      "WARC-Date: 2024-01-01T00:00:00Z" + CRLF +
      s"WARC-Target-URI: ${Urls.buildUrl(id)}" + CRLF +
      s"WARC-Payload-Digest: ${sha256Label(htmlBytes)}" + CRLF +
      s"WARC-Block-Digest: ${sha256Label(httpHead, htmlBytes)}" + CRLF +
      "Content-Type: application/http;msgtype=response" + CRLF +
      s"Content-Length: $httpLen" + CRLF + CRLF).getBytes(UTF_8)
    frame(Seq(warcHead, httpHead), htmlBytes)
  }

  /** A container = the concatenated records of its docs in doc_id
    * order (the shard writer's contract).
    */
  private[graft] def buildContainer(docs: Seq[(Long, String)]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    docs.sortBy(_._1).foreach { case (id, text) =>
      out.write(buildRecord(id, text))
    }
    out.toByteArray
  }

  /** ONE record compressed as ONE gzip member — the real-crawl
    * `.warc.gz` convention (each record its own member, members
    * concatenated), which is what makes a compressed archive
    * offset-addressable: a reader holding a compressed member offset
    * can inflate exactly one record without touching the rest of the
    * file. Java's GZIPOutputStream writes a fixed 10-byte header
    * (MTIME 0, no optional fields), so the member bytes are
    * deterministic in the record bytes — the overwrite-idempotent
    * staging contract survives compression.
    */
  private[graft] def gzipMember(bytes: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(bytes.length / 2 + 64)
    val gz = new java.util.zip.GZIPOutputStream(out)
    gz.write(bytes)
    gz.close()
    out.toByteArray
  }

  /** A gz container = one gzip member PER RECORD, concatenated (the
    * Common Crawl layout — never one stream over the whole container,
    * which would destroy offset addressability).
    */
  private[graft] def buildGzContainer(docs: Seq[(Long, String)]): Array[Byte] =
    buildGzContainerWithCdx(docs)._1

  /** The gz container PLUS its CDX index in one build: offsets are the
    * running lengths of the byte arrays actually being concatenated
    * (they cannot drift from the written container), and the indexed
    * header fields are parsed back from the record bytes JUST BUILT —
    * so the stage-time sidecar costs no second inflate+parse walk over
    * the container (measured ~2x the whole gz staging pass), while a
    * FOREIGN archive still gets its index through the fully verified
    * walk ([[cdxEntries]]), and the spec pins the two derivations equal
    * on written shards. The serve path re-verifies everything loudly
    * anyway (compLen-consumed and plainLen cross-checks, CRC32/ISIZE,
    * record frame), so a drifted index cannot serve quietly.
    */
  private[graft] def buildGzContainerWithCdx(docs: Seq[(Long, String)])
      : (Array[Byte], Seq[CdxEntry]) = {
    val out = new java.io.ByteArrayOutputStream()
    val entries = Seq.newBuilder[CdxEntry]
    var plainOff = 0L
    docs.sortBy(_._1).foreach { case (id, text) =>
      val rec = buildRecord(id, text)
      val member = gzipMember(rec)
      val headers = parseHead(rec, 0, 0L).getOrElse(
        sys.error(s"built record for doc $id does not parse its own head"))._1
      entries += CdxEntry(headers.getOrElse("warc-target-uri", "-"),
        headers.getOrElse("warc-type", "(missing)")
          .toLowerCase(Locale.ROOT),
        headers.getOrElse("warc-record-id", "-"),
        out.size().toLong, member.length.toLong, plainOff, rec.length.toLong)
      out.write(member)
      plainOff += rec.length
    }
    (out.toByteArray, entries.result())
  }

  private[graft] val GzMagic0: Byte = 0x1f.toByte
  private[graft] val GzMagic1: Byte = 0x8b.toByte

  private[graft] def isGzip(bytes: Array[Byte]): Boolean =
    bytes.length >= 2 && bytes(0) == GzMagic0 && bytes(1) == GzMagic1

  /** Inflate a container of CONCATENATED gzip members (RFC 1952) into
    * the uncompressed byte stream, walking member by member with the
    * batch parser's corruption discipline: a complete container must
    * inflate entirely, loudly — bad magic, a reserved flag bit, a
    * truncated member, a CRC32/ISIZE trailer mismatch, or trailing
    * garbage after the last member all throw with the compressed
    * offset, never resynchronize. Optional header fields (FEXTRA /
    * FNAME / FCOMMENT / FHCRC) are skipped per the RFC — real gzip
    * writers emit FNAME routinely. Zero new dependencies: header walk
    * by hand, body via `java.util.zip.Inflater(nowrap)`.
    */
  private[graft] def gunzipMembers(bytes: Array[Byte]): Array[Byte] = {
    // size HINT only (the stream grows as needed) — clamped through Long
    // arithmetic: `bytes.length * 2` overflows Int negative at 1 GiB
    // and would crash the constructor outright. The real capacity
    // contract is separate and documented: a container must INFLATE
    // within the JVM's ~2 GiB array bound (the same per-file bound the
    // binaryFile source imposes on the compressed side) — the shard
    // writer's shardSize keeps graft containers far under it, and an
    // archive sharded into ~1 GB segments at typical 3-5x HTML ratios
    // uses the offset-addressable per-MEMBER path ([[readGzMemberAt]]),
    // not a whole-container inflate
    val out = new java.io.ByteArrayOutputStream(
      math.min(bytes.length.toLong * 2, 1L << 26).toInt)
    var pos = 0
    while (pos < bytes.length) {
      pos = inflateMemberAt(bytes, pos, out)
    }
    out.toByteArray
  }

  /** Inflate ONE gzip member starting at compressed offset `start`
    * into `out`, returning the offset just past its trailer — the
    * single-member walk gunzipMembers, the member index, and the
    * random-access read all share, so the four can never disagree on
    * member framing. All of gunzipMembers' corruption classes throw
    * from here. A member that ENDS prematurely is corruption too: a
    * complete container must inflate entirely.
    */
  private def inflateMemberAt(bytes: Array[Byte], start: Int,
                              out: java.io.ByteArrayOutputStream): Int =
    inflateMemberCore(bytes, start, out, complete = true)

  /** The STREAMING face of the member walk: -1 when the member's bytes
    * END before its trailer (incompleteness — buffer more bytes, retry
    * from the same member start), a LOUD throw on genuine corruption
    * (bad magic/method/reserved flags, a broken deflate stream, a
    * CRC32/ISIZE trailer mismatch). The corruption-vs-incompleteness
    * split is the gz twin of parseWarcPrefix's record-framing contract.
    * On -1 the sink holds PARTIAL output — callers pass a throwaway
    * sink per attempt.
    */
  private[graft] def tryInflateMemberAt(bytes: Array[Byte], start: Int,
                                        out: java.io.ByteArrayOutputStream): Int =
    inflateMemberCore(bytes, start, out, complete = false)

  /** The one member walk behind both faces: `complete = true` throws
    * the batch reader's truncation messages, `complete = false` signals
    * truncation as -1 (more bytes needed) and reserves throwing for
    * corruption classes that no further bytes could repair.
    */
  private def inflateMemberCore(bytes: Array[Byte], start: Int,
                                out: java.io.ByteArrayOutputStream,
                                complete: Boolean): Int = {
    var pos = start
    val memberStart = pos
    def short(msg: => String): Int = {
      require(!complete, msg); -1
    }
    if (bytes.length - pos < 10) return short(
      s"truncated gzip member header at compressed offset $pos: " +
        s"${bytes.length - pos} bytes remain (header needs 10)")
    require(bytes(pos) == GzMagic0 && bytes(pos + 1) == GzMagic1,
      f"bad gzip magic at compressed offset $pos: 0x${bytes(pos)}%02x" +
        f"${bytes(pos + 1)}%02x (trailing garbage after a member?)")
    require(bytes(pos + 2) == 8,
      s"gzip member at compressed offset $pos uses compression method " +
        s"${bytes(pos + 2)} (only 8 = deflate exists)")
    val flg = bytes(pos + 3) & 0xff
    require((flg & 0xe0) == 0,
      s"gzip member at compressed offset $pos sets reserved FLG bits " +
        f"(0x$flg%02x) — corrupt header")
    pos += 10
    if ((flg & 4) != 0) { // FEXTRA: 2-byte LE length + payload
      if (bytes.length - pos < 2) return short(
        s"truncated FEXTRA length at compressed offset $pos")
      val xlen = (bytes(pos) & 0xff) | ((bytes(pos + 1) & 0xff) << 8)
      if (bytes.length - pos - 2 < xlen) return short(
        s"truncated FEXTRA payload ($xlen B) at compressed offset $pos")
      pos += 2 + xlen
    }
    def skipZeroTerminated(field: String): Boolean = {
      while (pos < bytes.length && bytes(pos) != 0) pos += 1
      if (pos >= bytes.length) false
      else { pos += 1; true }
    }
    if ((flg & 8) != 0 && !skipZeroTerminated("FNAME")) return short(
      s"unterminated gzip FNAME field in member at offset $memberStart")
    if ((flg & 16) != 0 && !skipZeroTerminated("FCOMMENT")) return short(
      s"unterminated gzip FCOMMENT field in member at offset $memberStart")
    if ((flg & 2) != 0) pos += 2 // FHCRC
    if (pos > bytes.length) return short(
      s"gzip member header at compressed offset $memberStart overruns " +
        "the container")
    val inf = new java.util.zip.Inflater(true)
    inf.setInput(bytes, pos, bytes.length - pos)
    val crc = new CRC32()
    var memberLen = 0L
    val buf = new Array[Byte](64 * 1024)
    try {
      while (!inf.finished()) {
        val n =
          try inf.inflate(buf)
          catch {
            case e: java.util.zip.DataFormatException =>
              sys.error(s"corrupt deflate stream in gzip member at " +
                s"compressed offset $memberStart: ${e.getMessage}")
          }
        if (n == 0 && !inf.finished()) return short(
          s"truncated gzip member at compressed offset $memberStart: " +
            "deflate stream ends before its final block")
        out.write(buf, 0, n)
        crc.update(buf, 0, n)
        memberLen += n
      }
      val consumed = inf.getBytesRead
      val trailerAt = pos + consumed.toInt
      if (bytes.length - trailerAt < 8) return short(
        s"truncated gzip trailer for member at compressed offset " +
          s"$memberStart: need 8 bytes at $trailerAt, have " +
          s"${bytes.length - trailerAt}")
      def le32(at: Int): Long =
        (bytes(at) & 0xffL) | ((bytes(at + 1) & 0xffL) << 8) |
          ((bytes(at + 2) & 0xffL) << 16) | ((bytes(at + 3) & 0xffL) << 24)
      val wantCrc = le32(trailerAt)
      val wantIsize = le32(trailerAt + 4)
      require(wantCrc == crc.getValue,
        s"gzip CRC32 mismatch in member at compressed offset " +
          s"$memberStart: trailer $wantCrc, inflated ${crc.getValue}")
      require(wantIsize == (memberLen & 0xffffffffL),
        s"gzip ISIZE mismatch in member at compressed offset " +
          s"$memberStart: trailer $wantIsize, inflated $memberLen")
      trailerAt + 8
    } finally inf.end()
  }

  /** One row of the compressed-member index: where the member sits in
    * the compressed container, how many compressed bytes it spans, and
    * how many bytes it inflates to — the (offset, length) pair a
    * CDX-style lookup service publishes so a consumer can fetch ONE
    * record with a ranged read.
    */
  case class GzMember(compOffset: Long, compLen: Long, plainLen: Long)

  /** The member index of a gz container: one [[GzMember]] per record
    * (the per-record-member layout), built by the SAME member walk as
    * full inflation — CRC/ISIZE verified per member, loud on any
    * corruption. This is what makes the `.warc.gz` layout
    * offset-ADDRESSABLE in code, not just in prose: index once, then
    * [[readGzMemberAt]] any member by its compressed offset.
    */
  private[graft] def gzMemberIndex(bytes: Array[Byte]): Seq[GzMember] = {
    val out = Seq.newBuilder[GzMember]
    val sink = new java.io.ByteArrayOutputStream(64 * 1024)
    var pos = 0
    while (pos < bytes.length) {
      sink.reset()
      val next = inflateMemberAt(bytes, pos, sink)
      out += GzMember(pos.toLong, (next - pos).toLong, sink.size().toLong)
      pos = next
    }
    out.result()
  }

  /** Random-access read of ONE gzip member: inflate exactly the member
    * starting at `compOffset` (loud if the offset does not sit on a
    * member boundary — the magic check catches mid-member offsets) and
    * return its bytes. With the per-record-member layout this is the
    * fetch-one-record path a CDX offset points at: no other byte of
    * the container is inflated. Takes a whole in-memory container, so
    * the Int narrowing is safe under the ~2 GiB JVM array bound the
    * caller already lives within; the path that never holds the
    * container — the persisted-CDX serve — does its positioned read
    * with a true Long offset ([[fetchGzMember]]).
    */
  private[graft] def readGzMemberAt(bytes: Array[Byte],
                                    compOffset: Long): Array[Byte] = {
    require(compOffset >= 0 && compOffset < bytes.length,
      s"member offset $compOffset outside container (${bytes.length} B)")
    val sink = new java.io.ByteArrayOutputStream(64 * 1024)
    inflateMemberAt(bytes, compOffset.toInt, sink)
    sink.toByteArray
  }

  /** One row of the PERSISTED record index — the CDX sidecar line: the
    * record's target URI, WARC type and record-id, where its gzip
    * member sits in the compressed container (compOffset/compLen — the
    * ranged-GET coordinates), and where the record sits in the plain
    * stream (plainOffset/plainLen — the WARC-frame offsets the audit
    * reports). Built ONCE at stage time from the container bytes
    * themselves ([[cdxEntries]] — parse-back, never parallel
    * bookkeeping), shipped as the `shard-NNNNN.cdx` sidecar, and read
    * by the point-serve path ([[warcCdxLookup]]) so a lookup fetches
    * exactly compLen bytes without touching the rest of the file.
    */
  case class CdxEntry(targetUri: String, warcType: String, recordId: String,
                      compOffset: Long, compLen: Long,
                      plainOffset: Long, plainLen: Long)

  /** Derive the CDX index of a gz container FROM ITS BYTES: the same
    * CRC/ISIZE-verified member walk as full inflation, each member
    * parsed back through the record seam (per-record-member layout
    * required — a multi-record member would make member-granular point
    * reads serve more than the looked-up record). This is the stage-
    * time half of the CDX contract; deriving from the written bytes
    * (not from the writer's own doc list) means a sidecar can also be
    * built for a FOREIGN `.warc.gz` archive, and the index can never
    * disagree with what a reader of the container would frame.
    */
  private[graft] def cdxEntries(bytes: Array[Byte]): Seq[CdxEntry] = {
    val out = Seq.newBuilder[CdxEntry]
    val sink = new java.io.ByteArrayOutputStream(64 * 1024)
    var pos = 0
    var plainOff = 0L
    while (pos < bytes.length) {
      sink.reset()
      val next = inflateMemberAt(bytes, pos, sink)
      val member = sink.toByteArray
      val recs = parseWarc(member)
      require(recs.length == 1,
        s"gzip member at compressed offset $pos frames ${recs.length} " +
          "records — the CDX point-read contract needs the per-record-" +
          "member layout")
      val r = recs.head
      out += CdxEntry(r.headers.getOrElse("warc-target-uri", "-"),
        recordType(r), r.headers.getOrElse("warc-record-id", "-"),
        pos.toLong, (next - pos).toLong, plainOff, member.length.toLong)
      plainOff += member.length
      pos = next
    }
    out.result()
  }

  /** The sidecar's self-describing header line — field names in column
    * order, so a reader can verify it parses the layout it was written
    * with (the classic CDX ` CDX A b ...` convention, spelled plainly).
    */
  private[graft] val CdxHeader =
    "CDX uri type record-id comp-offset comp-len plain-offset plain-len"

  /** Serialize CDX entries as the sidecar's text bytes: the header line,
    * one space-separated line per record, then the `CDX-END <count>`
    * terminator. Space-FREE fields are a write-time requirement
    * (URIs/record-ids in this layout never carry spaces; one that did
    * would corrupt the column split for every consumer, so it fails
    * loudly at stage time, not silently at serve time). The terminator
    * is what makes LINE-boundary truncation detectable: well-formed
    * lines with the tail sliced off at a newline would otherwise parse
    * as a complete smaller index and serve a partial container
    * silently.
    */
  private[graft] def cdxBytes(entries: Seq[CdxEntry]): Array[Byte] = {
    val sb = new StringBuilder(CdxHeader).append('\n')
    entries.foreach { e =>
      Seq(e.targetUri, e.warcType, e.recordId).foreach(f =>
        require(f.nonEmpty && !f.exists(_.isWhitespace),
          s"CDX field '$f' is empty or carries whitespace — unwritable " +
            "in the space-separated sidecar layout"))
      sb.append(e.targetUri).append(' ').append(e.warcType).append(' ')
        .append(e.recordId).append(' ').append(e.compOffset).append(' ')
        .append(e.compLen).append(' ').append(e.plainOffset).append(' ')
        .append(e.plainLen).append('\n')
    }
    sb.append("CDX-END ").append(entries.length).append('\n')
    sb.result().getBytes(UTF_8)
  }

  /** Parse a sidecar back to its entries — loud on a missing/mismatched
    * header, a malformed line, a missing/count-mismatched `CDX-END`
    * terminator, or content after it (a truncated sidecar must never
    * serve a partial index as if it were the whole container, INCLUDING
    * one truncated exactly at a line boundary).
    */
  private[graft] def parseCdx(file: String, text: String): Seq[CdxEntry] = {
    val lines = text.split("\n", -1)
    require(lines.nonEmpty && lines.head == CdxHeader,
      s"$file: not a graft CDX sidecar (bad header line " +
        s"'${lines.headOption.getOrElse("")}')")
    val body = lines.drop(1)
    // the terminator must match EXACTLY "CDX-END <digits>": a DATA line
    // whose first field merely starts with "CDX-END" (a foreign target
    // URI is an arbitrary space-free token) has seven fields and never
    // matches, so it stays an ordinary entry line; a corrupted
    // terminator ("CDX-END xx") doesn't match either and falls through
    // to the malformed-line/missing-terminator requires, both carrying
    // the file's provenance
    val endRe = "CDX-END (\\d+)".r
    val endIdx = body.indexWhere(l => endRe.matches(l))
    require(endIdx >= 0,
      s"$file: missing CDX-END terminator — sidecar truncated (possibly " +
        "at a line boundary) or not fully committed")
    require(body.drop(endIdx + 1).forall(_.isEmpty),
      s"$file: content after the CDX-END terminator — corrupt sidecar")
    val entries = body.take(endIdx).filter(_.nonEmpty).map { l =>
      val f = l.split(" ")
      require(f.length == 7, s"$file: malformed CDX line '$l'")
      try CdxEntry(f(0), f(1), f(2), f(3).toLong, f(4).toLong, f(5).toLong,
        f(6).toLong)
      catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"$file: malformed CDX line '$l' (bad numeric field)")
      }
    }.toSeq
    val declared = body(endIdx) match { case endRe(n) =>
      try n.toLong catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"$file: CDX-END count '$n' out of range — corrupt sidecar")
      }
    }
    require(declared == entries.length,
      s"$file: CDX-END declares '${body(endIdx)}' but ${entries.length} " +
        "entries parsed — truncated or corrupt sidecar")
    entries
  }

  /** Parse ONE record starting at `start`. `Some((record, nextPos))` on
    * a complete record, `None` when the bytes END mid-record (the
    * incomplete-tail case a chunked stream produces) — but a LOUD throw
    * on structurally malformed data (bad magic, malformed header,
    * missing Content-Length, corrupt trailer): incompleteness is a
    * framing state, corruption is an error, and a reader that confuses
    * the two silently resynchronizes over corruption.
    * `baseOffset` shifts the recorded offset for stream reassembly,
    * where `bytes` is a suffix of the logical container.
    */
  /** The version line + header block starting at `start`:
    * Some((headers, posAfterBlankLine)) when the whole head is present,
    * None when the bytes end inside it (more bytes needed) — loud on
    * anything malformed. Shared by the full record parse and the
    * resume-offset probe ([[recordNeed]]), so the two can never walk
    * headers differently.
    */
  private def parseHead(bytes: Array[Byte], start: Int, baseOffset: Long)
      : Option[(Map[String, String], Int)] = {
    var pos = start
    val version = readLine(bytes, pos) match {
      case None => return None
      case Some(v) => v
    }
    require(version._1 == "WARC/1.0",
      s"bad WARC version line at offset ${baseOffset + start}: '${version._1}'")
    pos = version._2
    val headers = scala.collection.mutable.Map.empty[String, String]
    var line = readLine(bytes, pos) match {
      case None => return None
      case Some(l) => l
    }
    while (line._1.nonEmpty) {
      val idx = line._1.indexOf(':')
      require(idx > 0,
        s"malformed WARC header at offset ${baseOffset + pos}: '${line._1}'")
      headers.update(line._1.substring(0, idx).trim.toLowerCase(Locale.ROOT),
        line._1.substring(idx + 1).trim)
      pos = line._2
      line = readLine(bytes, pos) match {
        case None => return None
        case Some(l) => l
      }
    }
    Some((headers.toMap, line._2))
  }

  /** The byte-counted Content-Length of a parsed head, with the
    * corruption bound: a negative or absurd value is CORRUPTION, not
    * incompleteness — without this bound a flipped digit would read as
    * "more bytes needed" and a stream reassembler would buffer every
    * subsequent chunk forever instead of failing loudly.
    */
  private def contentLengthOf(headers: Map[String, String], start: Int,
                              baseOffset: Long): Long = {
    val clenRaw = headers.getOrElse("content-length",
      sys.error(s"WARC record at offset ${baseOffset + start} has no " +
        "Content-Length")).toLong
    require(clenRaw >= 0 && clenRaw <= MaxRecordBytes,
      s"WARC record at offset ${baseOffset + start} has implausible " +
        s"Content-Length $clenRaw (bounds [0, $MaxRecordBytes])")
    clenRaw
  }

  /** The TOTAL frame length (head + payload + CRLF CRLF trailer) of the
    * record starting at byte 0 of `bytes`, or -1 while the header block
    * is still incomplete — the stream reassembler's parse-resume hint:
    * once the head is in hand, arriving chunks of a large record append
    * WITHOUT re-walking the pending prefix until enough bytes exist to
    * frame the whole record, so a record of size N arriving in k chunks
    * costs O(N), not O(N·k). Malformed data throws (parseHead's loud
    * contract).
    */
  private[graft] def recordNeed(bytes: Array[Byte], baseOffset: Long): Long =
    if (bytes.isEmpty) -1L
    else parseHead(bytes, 0, baseOffset) match {
      case None => -1L
      case Some((headers, pos)) =>
        pos + contentLengthOf(headers, 0, baseOffset) + 4
    }

  private def parseRecordAt(bytes: Array[Byte], start: Int,
                            baseOffset: Long): Option[(WarcRecord, Int)] = {
    val (headers, headEnd) = parseHead(bytes, start, baseOffset) match {
      case None => return None
      case Some(h) => h
    }
    var pos = headEnd
    val clen = contentLengthOf(headers, start, baseOffset).toInt
    // Long arithmetic: pos + clen + 4 must not overflow Int
    if (pos.toLong + clen + 4 > bytes.length) return None
    val payload = java.util.Arrays.copyOfRange(bytes, pos, pos + clen)
    pos += clen
    require(bytes(pos) == '\r' && bytes(pos + 1) == '\n' &&
      bytes(pos + 2) == '\r' && bytes(pos + 3) == '\n',
      s"WARC record at offset ${baseOffset + start} not followed by CRLF CRLF")
    pos += 4
    Some((WarcRecord(headers, baseOffset + start,
      (pos - start).toLong, payload), pos))
  }

  /** THE RECORD-FRAMING SEAM — split a container into records using the
    * version line + headers + Content-Length, the only correct framing
    * (payloads may contain any byte sequence). Loud failure on anything
    * malformed OR truncated: a complete container must parse entirely.
    */
  private[graft] def parseWarc(bytes: Array[Byte]): Seq[WarcRecord] = {
    val (recs, leftover) = parseWarcPrefix(bytes, 0L)
    require(leftover.isEmpty,
      s"truncated WARC record at offset ${bytes.length - leftover.length}: " +
        s"${leftover.length} trailing bytes do not frame a complete record")
    recs
  }

  /** The incremental form: every COMPLETE record in `bytes` plus the
    * unconsumed tail (empty, or the prefix of a record whose remaining
    * bytes haven't arrived yet) — the contract a chunked stream
    * reassembler drains on every arriving chunk. Malformed data still
    * throws (see parseRecordAt).
    */
  private[graft] def parseWarcPrefix(bytes: Array[Byte],
                                     baseOffset: Long): (Seq[WarcRecord], Array[Byte]) = {
    val out = scala.collection.mutable.ArrayBuffer.empty[WarcRecord]
    var pos = 0
    var done = false
    while (!done && pos < bytes.length) {
      parseRecordAt(bytes, pos, baseOffset) match {
        case Some((rec, next)) => out += rec; pos = next
        case None => done = true
      }
    }
    (out.toSeq, java.util.Arrays.copyOfRange(bytes, pos, bytes.length))
  }

  /** One CRLF-terminated ASCII line starting at `pos`: Some((text, next
    * pos)), or None when no terminator exists before the end of `bytes`
    * (an incomplete line — more bytes needed).
    */
  private def readLine(bytes: Array[Byte], pos: Int): Option[(String, Int)] = {
    var i = pos
    while (i + 1 < bytes.length && !(bytes(i) == '\r' && bytes(i + 1) == '\n'))
      i += 1
    if (i + 1 >= bytes.length) None
    else Some((new String(bytes, pos, i - pos, UTF_8), i + 2))
  }

  /** The record-type discipline for real containers (ISO 28500 §6.2):
    * every crawl archive interleaves its `response` records with
    * warcinfo / request / metadata / revisit (and WET archives with
    * `conversion`) records. The ingest readers consume ONLY the types
    * they audit; every other structurally-VALID record is skipped —
    * counted by [[warcTypeAudit]], never an error, because a reader
    * that fails on the warcinfo record every real container opens
    * with cannot read any real container. Structural corruption stays
    * loud (the framing seam's contract is unchanged); a missing
    * WARC-Type header reads as the countable pseudo-type
    * `(missing)` — skipped by every typed consumer.
    */
  private[graft] def recordType(r: WarcRecord): String =
    r.headers.getOrElse("warc-type", "(missing)").toLowerCase(Locale.ROOT)

  private[graft] def isResponse(r: WarcRecord): Boolean =
    recordType(r) == "response"

  /** Doc identity of a record: graft-synthesized archives carry
    * `<urn:graft:doc-N>` and audit as N (the oracle's join key); any
    * OTHER record-id (real crawls use `<urn:uuid:...>`) maps to a
    * stable 64-bit identity — xxHash64 over the id's UTF-8 bytes with
    * Spark SQL's default seed 42, i.e. exactly `xxhash64(id)` — so a
    * genuine container AUDITS instead of crashing on its first response
    * record, and the identity is reproducible from SQL. A non-linear
    * hash matters here: the earlier CRC32-pair packing was GF(2)-linear
    * in the id bits, so structured id families (sequential uuids) could
    * collide and silently merge two records into one doc_id in every
    * downstream join/dedup. Foreign ids are opaque stable handles, not
    * oracle keys. The HTTP split handles both framings a capture
    * stores: Content-Length bodies and RFC 7230 chunked
    * transfer-encoding (see [[dechunk]]); a message with neither is
    * unframeable and loud.
    */
  private[graft] def docIdOf(r: WarcRecord): Long = {
    val id = r.headers.getOrElse("warc-record-id",
      sys.error(s"record at offset ${r.offset} has no WARC-Record-ID"))
    if (id.startsWith("<urn:graft:doc-") && id.endsWith(">"))
      // OUR namespace: a graft-prefixed id whose tail is not a valid
      // long is CORRUPTION of a graft-written container — loud with a
      // diagnostic (hashing it would silently drop the doc from every
      // metadata join downstream, corruption becoming row loss)
      scala.util.Try(
        id.stripPrefix("<urn:graft:doc-").stripSuffix(">").toLong)
        .getOrElse(sys.error(
          s"corrupt graft record-id '$id' at offset ${r.offset}: " +
            "non-numeric tail in the graft namespace"))
    else {
      // FOREIGN namespace (real crawls: <urn:uuid:...>): a stable
      // opaque identity, not an error — Spark SQL's xxhash64(id)
      val b = id.getBytes(UTF_8)
      org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
        b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
    }
  }

  /** A non-response record for mixed-container fixtures and future
    * writers: the same frame shape, an opaque payload, the graft aux
    * record-id convention.
    */
  private[graft] def buildAuxRecord(warcType: String, id: Long,
                                    payload: Array[Byte]): Array[Byte] = {
    val head = ("WARC/1.0" + CRLF +
      s"WARC-Type: $warcType" + CRLF +
      s"WARC-Record-ID: <urn:graft:aux-$id>" + CRLF +
      "WARC-Date: 2024-01-01T00:00:00Z" + CRLF +
      s"Content-Length: ${payload.length}" + CRLF + CRLF).getBytes(UTF_8)
    frame(Seq(head), payload)
  }

  /** Split an HTTP/1.1 message into (status code, body bytes) — the
    * same Content-Length discipline as the record framing.
    */
  private[graft] def parseHttp(payload: Array[Byte]): (Int, Array[Byte]) = {
    val (status, body, _) = parseHttpAt(payload)
    (status, body)
  }

  /** [[parseHttp]] plus the byte offset where the entity (raw, still
    * transfer-encoded) starts — the raw-payload tail some WARC writers
    * digest (see [[verifyDigests]]).
    */
  private[graft] def parseHttpAt(payload: Array[Byte]): (Int, Array[Byte], Int) = {
    // payloads are complete by the record framing, so an unterminated
    // line here is corruption, not incompleteness — loud
    def lineAt(pos: Int): (String, Int) = readLine(payload, pos)
      .getOrElse(sys.error(s"unterminated HTTP header line at offset $pos"))
    val status = lineAt(0)
    val parts = status._1.split(" ", 3)
    require(parts.length >= 2 && parts(0).startsWith("HTTP/"),
      s"bad HTTP status line: '${status._1}'")
    var pos = status._2
    var line = lineAt(pos)
    var clen = -1
    var chunked = false
    while (line._1.nonEmpty) {
      val idx = line._1.indexOf(':')
      if (idx > 0) {
        val name = line._1.substring(0, idx).trim.toLowerCase(Locale.ROOT)
        val value = line._1.substring(idx + 1).trim
        if (name == "content-length") clen = value.toInt
        // RFC 7230 §3.3.3: chunked is the LAST applied coding, and when
        // present it wins over any Content-Length
        if (name == "transfer-encoding" &&
            value.toLowerCase(Locale.ROOT).split(',')
              .exists(_.trim == "chunked")) chunked = true
      }
      pos = line._2
      line = lineAt(pos)
    }
    pos = line._2
    if (chunked) return (parts(1).toInt, dechunk(payload, pos), pos)
    require(clen >= 0,
      "HTTP message has neither Content-Length nor chunked " +
        "transfer-encoding — unframeable body")
    require(pos + clen <= payload.length,
      s"HTTP payload truncated: Content-Length $clen, have ${payload.length - pos}")
    (parts(1).toInt, java.util.Arrays.copyOfRange(payload, pos, pos + clen), pos)
  }

  /** Decode an RFC 7230 chunked body starting at `pos`: hex size line
    * (chunk extensions after ';' ignored), that many data bytes, CRLF;
    * the zero-size last-chunk, then optional trailer fields up to the
    * final blank line. Real crawl archives store response payloads AS
    * CAPTURED, chunk framing included — a reader without this path
    * cannot split a chunked capture. Loud on malformation (the record
    * framing guarantees the payload is complete, so any shortfall is
    * corruption) — INCLUDING bytes left over after the terminal
    * chunk/trailer: the record's Content-Length frames exactly the
    * captured message, so a residue past the last-chunk is payload
    * corruption, the same class gunzipMembers' trailing-garbage check
    * catches on the compressed side.
    */
  private def dechunk(payload: Array[Byte], start: Int): Array[Byte] = {
    def lineAt(pos: Int): (String, Int) = readLine(payload, pos)
      .getOrElse(sys.error(s"unterminated chunk-size line at offset $pos"))
    val out = new java.io.ByteArrayOutputStream()
    var pos = start
    var done = false
    while (!done) {
      val (sizeLine, afterSize) = lineAt(pos)
      val hexPart = sizeLine.split(";", 2)(0).trim
      val size =
        try java.lang.Integer.parseInt(hexPart, 16)
        catch {
          case _: NumberFormatException =>
            sys.error(s"bad chunk size '$hexPart' at offset $pos")
        }
      require(size >= 0 && afterSize.toLong + size + 2 <= payload.length,
        s"chunk of $size bytes at offset $pos overruns the payload")
      if (size == 0) {
        // trailer fields (possibly none) up to the final blank line
        var t = lineAt(afterSize)
        while (t._1.nonEmpty) t = lineAt(t._2)
        done = true
        pos = t._2
      } else {
        out.write(payload, afterSize, size)
        pos = afterSize + size
        require(payload(pos) == '\r' && payload(pos + 1) == '\n',
          s"chunk data at offset $pos not followed by CRLF")
        pos += 2
      }
    }
    require(pos == payload.length,
      s"chunked body ends at offset $pos but the record payload carries " +
        s"${payload.length - pos} trailing bytes past the trailer — " +
        "corrupt capture")
    out.toByteArray
  }

  private def crc32(bytes: Array[Byte]): Long = {
    val c = new CRC32()
    c.update(bytes)
    c.getValue
  }

  private def digest(algo: String, data: Array[Byte], off: Int,
                     len: Int): Array[Byte] = {
    val md = java.security.MessageDigest.getInstance(algo)
    md.update(data, off, len)
    md.digest()
  }

  private def hexLower(bytes: Array[Byte]): String =
    bytes.map(b => f"$b%02x").mkString

  /** RFC 4648 base32 (the WARC digest convention — Common Crawl writes
    * `sha1:BASE32`), zero-dep: 5-byte groups → 8 chars of the
    * A-Z/2-7 alphabet; a 20-byte sha1 encodes to exactly 32 chars with
    * no padding. Trailing partial groups pad with '=' per the RFC (a
    * 32-byte sha256 would carry 4), though the synthesized records
    * never need it.
    */
  private[graft] def base32(bytes: Array[Byte]): String = {
    val alpha = "ABCDEFGHIJKLMNOPQRSTUVWXYZ234567"
    val sb = new StringBuilder
    var i = 0
    while (i < bytes.length) {
      val group = math.min(5, bytes.length - i)
      var acc = 0L
      for (j <- 0 until group) acc |= (bytes(i + j) & 0xffL) << (32 - 8 * j)
      val chars = group match {
        case 5 => 8; case 4 => 7; case 3 => 5; case 2 => 4; case 1 => 2
      }
      for (j <- 0 until chars) sb.append(alpha(((acc >> (35 - 5 * j)) & 31).toInt))
      for (_ <- chars until 8) sb.append('=')
      i += group
    }
    sb.result()
  }

  /** The digest header values the SYNTHESIZED records carry: labelled
    * sha-256 hex (ISO 28500 §5.8's labelled-digest syntax names the
    * algorithm precisely so any may be used; sha-256 is the choice the
    * DuckDB oracle can replay byte-for-byte — DuckDB 1.0 has `sha256`
    * but no `sha1` — and hex is its native encoding). The VERIFIER
    * ([[verifyDigests]]) additionally speaks `sha1:`BASE32, the Common
    * Crawl convention, so real archives check too.
    */
  private def sha256Label(parts: Array[Byte]*): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    parts.foreach(md.update)
    "sha256:" + hexLower(md.digest())
  }

  /** Whether `v` (a labelled digest, ISO 28500 §5.8) matches
    * `data[off, off+len)`: Some(result) for algorithms this reader
    * computes (`sha256:` hex, `sha1:` base32 — the Common Crawl
    * convention), None for a foreign label (tolerated — a real archive
    * may label digests this reader cannot compute; skipping is honest,
    * mis-verifying is not). A digest with no algorithm label at all is
    * malformed and loud. Hashes the range IN PLACE — never copies the
    * data to digest it.
    */
  private def digestMatches(label: String, v: String, data: Array[Byte],
                            off: Int, len: Int,
                            where: => String): Option[Boolean] = {
    val idx = v.indexOf(':')
    require(idx > 0, s"malformed $label '$v' at $where (no algorithm label)")
    val want = v.substring(idx + 1).trim
    v.substring(0, idx).trim.toLowerCase(Locale.ROOT) match {
      case "sha256" => Some(hexLower(digest("SHA-256", data, off, len))
        .equalsIgnoreCase(want))
      case "sha1" => Some(base32(digest("SHA-1", data, off, len))
        .equalsIgnoreCase(want))
      case _ => None
    }
  }

  /** Require a present labelled digest header to match its data: a
    * computable-algorithm mismatch is CORRUPTION and loud — the
    * content-integrity check the gzip CRC only provides on the gz
    * transport, now on every read path. Foreign algorithm labels and
    * absent headers are tolerated (see [[digestMatches]]).
    */
  private def verifyDigest(label: String, value: Option[String],
                           data: Array[Byte], where: => String): Unit =
    value.foreach { v =>
      require(
        !digestMatches(label, v, data, 0, data.length, where).contains(false),
        s"$label mismatch at $where: header says '$v' — corrupt record " +
          "content")
    }

  /** Verify a record's WARC-Block-Digest (over the full content block,
    * i.e. the record payload) and WARC-Payload-Digest when the headers
    * are present. Called on every read path that splits the record's
    * content, so a flipped payload byte is loud on the PLAIN transport
    * too, not just under the gzip trailer check.
    *
    * The payload digest's coverage is where the WARC ecosystem splits:
    * ISO 28500 §5.9 reads as the LOGICAL payload (the entity body after
    * transfer-framing decode — what this repo's records digest), but
    * wget/warcio and older Common Crawl snapshots digest the RAW stored
    * bytes after the HTTP header block, chunk framing included. A
    * verifier that picks one convention crashes on intact archives of
    * the other, so when `rawBodyStart >= 0` the check accepts EITHER:
    * decoded-body match first, raw-tail match as the fallback, loud
    * only when BOTH mismatch (for Content-Length framing the two
    * coverages are the same bytes, so the fallback only ever fires on
    * transfer-encoded captures).
    */
  private[graft] def verifyDigests(r: WarcRecord, body: Array[Byte],
                                   rawBodyStart: Int = -1): Unit = {
    verifyDigest("WARC-Block-Digest", r.headers.get("warc-block-digest"),
      r.payload, s"record offset ${r.offset}")
    r.headers.get("warc-payload-digest").foreach { v =>
      val where = s"record offset ${r.offset}"
      val decoded = digestMatches("WARC-Payload-Digest", v, body, 0,
        body.length, where)
      val ok = decoded match {
        case Some(false) if rawBodyStart >= 0 =>
          // the raw-convention fallback hashes the payload tail IN
          // PLACE — no copy of an up-to-MaxRecordBytes range per record
          digestMatches("WARC-Payload-Digest", v, r.payload, rawBodyStart,
            r.payload.length - rawBodyStart, where).contains(true)
        case d => !d.contains(false)
      }
      val coverage =
        if (rawBodyStart >= 0) "both the decoded body and the raw payload tail"
        else "the decoded payload (no raw-tail coverage on this path)"
      require(ok, s"WARC-Payload-Digest mismatch at $where: header says " +
        s"'$v' against $coverage — corrupt record content")
    }
  }

  /** The HTTP split + digest verification every response consumer runs:
    * ONE definition, so no read path can split without checking.
    */
  private[graft] def parseHttpVerified(r: WarcRecord): (Int, Array[Byte]) = {
    val (status, body, bodyStart) = parseHttpAt(r.payload)
    verifyDigests(r, body, bodyStart)
    (status, body)
  }

  /** The WET `conversion` record for one extracted document — the
    * Common Crawl shape: plain-text payload, a Refers-To link back to
    * the response record it was converted from.
    */
  private[graft] def buildWetRecord(id: Long, mainText: String): Array[Byte] = {
    // byte-counted Content-Length (see buildRecord); a conversion
    // record's content block IS its logical payload, so it carries the
    // block digest only (the Common Crawl WET shape)
    val textBytes = mainText.getBytes(UTF_8)
    val head = ("WARC/1.0" + CRLF +
      "WARC-Type: conversion" + CRLF +
      s"WARC-Record-ID: <urn:graft:wet-$id>" + CRLF +
      s"WARC-Refers-To: <urn:graft:doc-$id>" + CRLF +
      "WARC-Date: 2024-01-01T00:00:00Z" + CRLF +
      s"WARC-Target-URI: ${Urls.buildUrl(id)}" + CRLF +
      s"WARC-Block-Digest: ${sha256Label(textBytes)}" + CRLF +
      "Content-Type: text/plain" + CRLF +
      s"Content-Length: ${textBytes.length}" + CRLF + CRLF).getBytes(UTF_8)
    frame(Seq(head), textBytes)
  }

  /** w2: the WARC → WET conversion — the Common Crawl text-extraction
    * stage run end-to-end through BOTH container formats: each shard's
    * synthesized WARC container is parsed back through the seam, every
    * response record's HTTP body runs the x41 extraction (content
    * blocks joined with '\n', the audit convention), the extracted
    * texts re-frame as a byte-valid WET container of `conversion`
    * records, and THAT container parses back through the SAME reader
    * (the framing rules are format-agnostic — that is the point of the
    * record structure) into fixed-width audit rows. text_crc32 must
    * equal x41's main_crc32 for the same doc: the extraction is pinned
    * through two container round-trips. Empty extractions (pages whose
    * every block is boilerplate) stay in the archive as zero-length
    * conversion records — the reader frames Content-Length: 0 exactly
    * like any other record.
    *
    * Scale shape: w1's — ONE shuffle on shard_id, executor memory
    * bounded by shardSize × page size, audit ∝ records; the whole
    * WARC-parse → extract → WET-build → WET-parse chain runs inside
    * one mapGroups pass, exactly how a conversion job sits next to the
    * fetcher's output at fleet scale.
    */
  /** ONE response record → its WET `conversion` record bytes: HTTP
    * parse, the x41 extraction (content blocks joined with '\n'), the
    * byte-valid re-frame. The SINGLE definition of the conversion step,
    * shared by batch w2 and the streaming WET face — the same-bytes
    * guarantee between the two is this function existing once.
    */
  private[graft] def wetRecordFor(r: WarcRecord,
                                  minBlockLen: Int): Array[Byte] = {
    val (_, body) = parseHttpVerified(r)
    val mainText = Html.TagWalkBlocker
      .blocks(new String(body, UTF_8))
      .filter(Html.isContent(_, minBlockLen))
      .iterator.map(_.text).mkString("\n")
    buildWetRecord(docIdOf(r), mainText)
  }

  /** The shard-keyed grouping every container BUILDER uses — one exchange
    * on shard_id at the session's full shuffle width, immune to AQE
    * partition coalescing (the round-17 optimization). The builders'
    * shuffle BYTES are tiny (text rows), but each group then runs the
    * heavy part — record framing, deflate, digests, per-container file
    * commits — so AQE's byte-count heuristic coalesced the whole stage
    * onto ONE task (measured: the staging write ran tasks=1 for 2.5 s of
    * a 2.8 s w4 at sf0.1, per a task listener). A
    * `repartition(n, shard_id)` is a user-specified-width exchange
    * (REPARTITION_BY_NUM), which AQE never coalesces, and the groupBy on
    * the same column reuses it (ClusteredDistribution(shard_id) is
    * satisfied — still exactly ONE exchange, see the w1 plan diff). The
    * width is the session's configured shuffle parallelism — the
    * cluster-tuned knob, NOT a local constant: the harness passes the
    * driver's core count, a fleet sets spark.sql.shuffle.partitions as it
    * does for every other shuffle, and the containers-per-task ratio
    * scales with it.
    */
  private def shardGrouped(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.KeyValueGroupedDataset[Long, (Long, String, Long)] = {
    import df.sparkSession.implicits._
    df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions,
        col("shard_id"))
      .groupBy(col("shard_id")).as[Long, (Long, String, Long)]
  }

  def wetExtract(spark: SparkSession, dir: String, shardSize: Int = 50,
                 minBlockLen: Int = 25): DataFrame = {
    import spark.implicits._
    shardGrouped(Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"),
        expr(s"doc_id div $shardSize").as("shard_id")))
      .flatMapGroups { (shard: Long, it: Iterator[(Long, String, Long)]) =>
        val docs = it.map { case (id, text, _) => (id, text) }.toSeq
        val warc = buildContainer(docs)
        val out = new java.io.ByteArrayOutputStream()
        parseWarc(warc).foreach { r =>
          out.write(wetRecordFor(r, minBlockLen))
        }
        parseWarc(out.toByteArray).map { r =>
          // a conversion record's payload IS its content block: the
          // block digest written at build re-verifies on the parse-back
          verifyDigests(r, r.payload)
          val id = r.headers("warc-record-id")
            .stripPrefix("<urn:graft:wet-").stripSuffix(">").toLong
          (id, shard, r.offset, r.recLen,
            r.headers("warc-target-uri"),
            r.payload.length.toLong, crc32(r.payload))
        }
      }
      .toDF("doc_id", "shard_id", "rec_offset", "rec_len", "target_uri",
        "text_len", "text_crc32")
      .orderBy("doc_id")
  }

  /** Write the synthesized sharded corpus to disk as REAL `.warc`
    * files — one byte-valid container per shard, named
    * `shard-NNNNN.warc` — through the Hadoop FileSystem API, so the
    * same code lands files on a local path in tests and on HDFS/object
    * storage on a fleet. Returns the number of files written.
    *
    * ONE shuffle on shard_id (the grouping any container writer needs);
    * each task holds one container (shardSize × page size) and streams
    * it to its file. Overwrites are idempotent — re-staging the same
    * corpus rewrites byte-identical files.
    *
    * Re-stage visibility contract: each shard file commits atomically
    * (rename), so a reader never sees a TORN container — but when a
    * DIFFERENT corpus re-stages onto an existing path, the pre-existing-
    * dest branch on stores without overwrite-rename is delete+rename,
    * and a concurrent directory listing can observe the shard briefly
    * ABSENT between the two. Batch reads concurrent with a re-stage to
    * the same path are therefore outside the contract (re-staging the
    * SAME corpus is always safe — byte-identical files, and the rename
    * either wins or yields to an identical twin); the streaming face
    * additionally requires append-only dirs (see warcFileStream).
    */
  /** Task-commit protocol for one staged file: write to an
    * attempt-unique temp file, then commit by rename (the FileSystem
    * API — universal across connectors, and ~25 ms/file cheaper than
    * FileContext's resolve-heavy path on local FS, measured). On POSIX
    * local FS the rename atomically replaces an existing dest; on HDFS
    * a fresh dest renames in one atomic op, and only a PRE-EXISTING
    * dest takes the delete+retry branch. Every path keeps the real
    * invariant: the DEST is only ever a COMPLETE file — rename is
    * atomic per file and duplicate attempts write byte-identical bytes
    * — so a speculative duplicate or an interrupted attempt can never
    * leave a TORN file whose boundary-aligned truncation would parse
    * cleanly (the one corruption class the loud-failure parser cannot
    * see). A rename lost to an identical twin leaves the winner's
    * complete file; a failed attempt deletes its own temp so retries
    * never leak orphans.
    */
  private def commitStagedFile(fs: org.apache.hadoop.fs.FileSystem,
                               root: org.apache.hadoop.fs.Path,
                               name: String, bytes: Array[Byte]): Unit = {
    val p = new org.apache.hadoop.fs.Path(root, name)
    val tmp = new org.apache.hadoop.fs.Path(root,
      s".$name.${java.util.UUID.randomUUID()}.tmp")
    try {
      val os = fs.create(tmp, true)
      try os.write(bytes) finally os.close()
      if (!fs.rename(tmp, p)) {
        // dest already exists on a no-overwrite-rename FS: replace it
        // (a restage of the same deterministic corpus writes the same
        // bytes; a different corpus staged to the same path must see
        // ITS bytes, not stale ones)
        if (fs.exists(p)) fs.delete(p, false)
        if (!fs.rename(tmp, p)) {
          require(fs.exists(p),
            s"rename $tmp -> $p failed with no committed file")
          // an identical twin attempt won the race — its complete
          // file stands; drop this attempt's temp
          fs.delete(tmp, false)
        }
      }
    } catch {
      case e: Throwable =>
        try fs.delete(tmp, false) catch { case _: Throwable => () }
        throw e
    }
  }

  /** `shardIdExpr` overrides the doc→container assignment (default:
    * contiguous doc_id ranges of `shardSize`). The crawl-fleet posture
    * passes a URL-KEYSPACE bucket here: a fetcher fleet partitions its
    * frontier into per-host/queue shards (politeness), so all fetches
    * of one canonical URL — host and path are PART of the URL — land
    * in one queue's containers, never striped across the fleet. The
    * funnel StreamBench stages both ways to show what each landing
    * geometry does to incremental keeper maintenance.
    */
  def writeWarcFiles(spark: SparkSession, dir: String, outPath: String,
                     shardSize: Int = 50, gz: Boolean = false,
                     shardIdExpr: Option[String] = None): Long = {
    import spark.implicits._
    val hconf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val ext = if (gz) "warc.gz" else "warc"
    shardGrouped(Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"),
        expr(shardIdExpr.getOrElse(s"doc_id div $shardSize")).as("shard_id")))
      .mapGroups { (shard: Long, it: Iterator[(Long, String, Long)]) =>
        val docs = it.map { case (id, text, _) => (id, text) }.toSeq
        val (container, cdx) =
          if (gz) buildGzContainerWithCdx(docs)
          else (buildContainer(docs), Seq.empty[CdxEntry])
        val root0 = new org.apache.hadoop.fs.Path(outPath)
        val fs = root0.getFileSystem(hconf.value)
        // qualify ONCE so the FileSystem and FileContext APIs resolve
        // the same location (they disagree on relative paths: cwd vs
        // home directory)
        val root = fs.makeQualified(root0)
        commitStagedFile(fs, root, f"shard-$shard%05d.$ext", container)
        // gz staging ALSO commits the CDX sidecar — the record index a
        // point-read serve needs, built once AT WRITE TIME alongside
        // the container (same build pass — see buildGzContainerWithCdx
        // for why not a second verified walk): it buys every future
        // lookup a ranged read of exactly compLen bytes. Same commit
        // protocol, so a sidecar is only ever COMPLETE.
        if (gz)
          commitStagedFile(fs, root, f"shard-$shard%05d.cdx", cdxBytes(cdx))
        shard
      }
      .count()
  }

  /** Every record of every `.warc` file under `path`, parsed back
    * through the framing seam — the fleet ingest posture the w1
    * scaladoc promises: `binaryFile` hands each container to one task
    * and `parseWarc` runs inside `mapPartitions` over the raw bytes.
    * One row per response record with the parsed HTTP body attached
    * (the column a downstream extraction/funnel consumes); shard_id
    * recovered from the file name (the writer's naming contract).
    *
    * A WARC container is NOT byte-splittable (records frame by
    * Content-Length, so a reader must start at a record boundary) —
    * whole-file rows over shard-bounded containers are the correct
    * granularity, and parallelism = #files, exactly how Common Crawl
    * style corpora are laid out (many ~1 GB segments).
    */
  /** The per-file parse for the file-backed readers — shard id from the
    * writer's naming contract, every record through the framing seam,
    * HTTP split per response record. ONE definition shared by the batch
    * and STREAMING file readers, so the two transports can never frame
    * differently.
    */
  /** Shard id + record list for one container file: name contract
    * checked, extension/content agreement checked, gz inflated before
    * the seam — the shared front half of the typed readers.
    */
  /** The writer's naming contract, parsed ONCE for every file-backed
    * reader: shard id from the `shard-NNNNN.warc[.gz]` name, with the
    * extension/content agreement check — a mislabeled container (plain
    * bytes under .gz, or gzip bytes under .warc) is a staging error a
    * reader must surface, never silently guess around, because record
    * offsets mean different things in the two framings.
    */
  private def shardOf(file: String, bytes: Array[Byte]): (Long, Boolean) = {
    val base = file.substring(file.lastIndexOf('/') + 1)
    require(base.startsWith("shard-") &&
        (base.endsWith(".warc") || base.endsWith(".warc.gz")),
      s"not a shard container file: $file")
    val gz = base.endsWith(".warc.gz")
    require(gz == isGzip(bytes),
      s"$file: extension says ${if (gz) "gzip" else "plain"} but content " +
        s"is ${if (isGzip(bytes)) "gzip" else "plain"}")
    val shard = scala.util.Try(base.stripPrefix("shard-")
      .stripSuffix(".gz").stripSuffix(".warc").toLong).getOrElse(
      sys.error(s"not a shard container file: $file " +
        "(non-numeric shard number)"))
    (shard, gz)
  }

  private def containerRecords(file: String,
                               bytes: Array[Byte]): (Long, Seq[WarcRecord]) = {
    val (shard, gz) = shardOf(file, bytes)
    // inflate BEFORE the framing seam: record offsets/lengths describe
    // the UNCOMPRESSED stream (the WARC spec's frame), so plain and gz
    // transports of the same corpus audit byte-identically
    val plain = if (gz) gunzipMembers(bytes) else bytes
    (shard, parseWarc(plain))
  }

  private def parseWarcFile(file: String, bytes: Array[Byte])
      : Iterator[(Long, Long, Long, Long, String, Int, Array[Byte])] = {
    val (shard, recs) = containerRecords(file, bytes)
    // ONLY response records audit here; warcinfo/request/metadata/
    // revisit records (every real container has them) are skipped —
    // counted by warcTypeAudit, never an error. Offsets stay ABSOLUTE
    // container positions, so skipped records leave visible gaps the
    // oracle can never be confused by (the driver corpus is
    // response-only; a mixed container is spec-pinned).
    recs.iterator.filter(isResponse).map { r =>
      val (status, body) = parseHttpVerified(r)
      (docIdOf(r), shard, r.offset, r.recLen,
        r.headers("warc-target-uri"), status, body)
    }
  }

  /** The 7 record columns every file-backed RECORD reader emits — one
    * definition (the AuditCols discipline), and one definition of the
    * load→parse transform, so the batch and streaming record readers
    * can never drift on columns, glob, or framing.
    */
  private val RecordCols = Seq("doc_id", "shard_id", "rec_offset",
    "rec_len", "target_uri", "http_status", "body")

  private[graft] val ContainerGlob = "*.{warc,warc.gz}"

  private def recordFrame(spark: SparkSession, files: DataFrame): DataFrame = {
    import spark.implicits._
    files.select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .mapPartitions(_.flatMap { case (file, bytes) =>
        parseWarcFile(file, bytes)
      })
      .toDF(RecordCols: _*)
  }

  /** The skipped-records ledger for an archive directory: one row per
    * (shard, record type) with the record count and their total frame
    * bytes — the typed audit that makes "reader skipped it" a counted
    * fact instead of silence. A response-only corpus audits as one
    * `response` row per shard whose byte total equals the container
    * length (gz: the uncompressed length).
    */
  def warcTypeAudit(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .option("pathGlobFilter", ContainerGlob)
      .load(path)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .mapPartitions(_.flatMap { case (file, bytes) =>
        val (shard, recs) = containerRecords(file, bytes)
        recs.iterator.map(r => (shard, recordType(r), r.recLen))
      })
      .toDF("shard_id", "warc_type", "rec_len")
      .groupBy("shard_id", "warc_type")
      .agg(count(lit(1)).as("n_records"), sum("rec_len").as("total_bytes"))
      .orderBy("shard_id", "warc_type")
  }

  private[graft] def readWarcFileRecords(spark: SparkSession,
                                         path: String): DataFrame =
    recordFrame(spark,
      spark.read.format("binaryFile")
        .option("pathGlobFilter", ContainerGlob)
        .load(path))

  /** The audit projection shared by ALL THREE w-audit producers
    * (in-flight w1, batch file ingest, file stream): one definition of
    * the row and one of the column list, so the audit schema can never
    * drift between transports.
    */
  private def auditRow(id: Long, shard: Long, off: Long, len: Long,
                       uri: String, status: Int, body: Array[Byte])
      : (Long, Long, Long, Long, String, Int, Long, Long) =
    (id, shard, off, len, uri, status, body.length.toLong, crc32(body))

  private val AuditCols = Seq("doc_id", "shard_id", "rec_offset",
    "rec_len", "target_uri", "http_status", "html_len", "html_crc32")

  /** The STREAMING face of the file-backed ingest: `.warc` container
    * files appearing in a directory consumed as a file stream — the
    * archive-drop posture (a fetcher fleet keeps landing finished
    * containers; the ingest job follows). Each new file parses through
    * the SAME per-file seam as batch w3 (one shared definition) into
    * w1's audit columns. Whole files are the streaming unit — exactly
    * right, because the writer's rename-commit makes file appearance
    * atomic: a reader can never observe a half-written container.
    * Cross-file processing order is unspecified (the FileStreamSource
    * contract); per-record audits are file-local, so order never
    * matters.
    *
    * APPEND-ONLY contract: Spark's file stream dedups by PATH, so a
    * container REPLACED with different bytes under a running stream is
    * never re-read (batch would see the new bytes; the stream keeps
    * the old rows). That is every Spark file stream's semantics, not a
    * quirk of this reader — a watched archive directory must only ever
    * gain NEW container files (re-staging a byte-identical corpus is
    * fine; re-staging a DIFFERENT corpus to a watched path is not).
    */
  def warcFileStream(spark: SparkSession, path: String): DataFrame =
    auditFrame(spark, recordFrame(spark, streamContainers(spark, path, None)))

  /** The binaryFile STREAM load every streaming file reader starts
    * from — one definition of glob + schema, mirroring recordFrame's
    * one definition of the parse, so no streaming face can drift.
    */
  private def streamContainers(spark: SparkSession, path: String,
                               maxFilesPerTrigger: Option[Int]): DataFrame = {
    val r = spark.readStream.format("binaryFile")
      .option("pathGlobFilter", ContainerGlob)
      .schema("path STRING, modificationTime TIMESTAMP, length LONG, " +
        "content BINARY")
    maxFilesPerTrigger.fold(r)(n => r.option("maxFilesPerTrigger",
      n.toString)).load(path)
  }

  /** Record frame → w1's audit frame: the ONE projection both the
    * batch and streaming audit faces share.
    */
  private def auditFrame(spark: SparkSession, records: DataFrame): DataFrame = {
    import spark.implicits._
    records
      .as[(Long, Long, Long, Long, String, Int, Array[Byte])]
      .map { case (id, shard, off, len, uri, status, body) =>
        auditRow(id, shard, off, len, uri, status, body)
      }
      .toDF(AuditCols: _*)
  }

  /** The RECORD stream for the file-drop posture: the same per-file
    * seam as [[warcFileStream]] but emitting the parsed records WITH
    * their HTTP bodies — the shape a downstream funnel consumes (the
    * streaming p2 face reads this, exactly as batch file-backed p2
    * reads [[readWarcFileRecords]]). `maxFilesPerTrigger` bounds each
    * micro-batch to that many containers — a landing container is the
    * natural ingest unit. Same append-only contract as warcFileStream.
    */
  def warcRecordFileStream(spark: SparkSession, path: String,
                           maxFilesPerTrigger: Int = 1): DataFrame =
    recordFrame(spark,
      streamContainers(spark, path, Some(maxFilesPerTrigger)))

  /** w1's audit frame computed from `.warc` FILES on disk instead of
    * in-flight containers — same eight columns, same semantics.
    */
  def warcFileIngest(spark: SparkSession, path: String): DataFrame =
    auditFrame(spark, readWarcFileRecords(spark, path))

  /** Staged corpus dirs created by THIS JVM, deleted at shutdown: the
    * memo key dies with the session, so without the hook every session
    * would leave a full on-disk corpus copy under java.io.tmpdir. Only
    * OUR dirs are swept — a concurrent session's staging (different
    * appId, same tmpdir) is live state this process must never touch,
    * which is why there is no stale-dir scavenger here.
    */
  private val stagedForCleanup =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private lazy val stagingCleanupHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(): Unit
      }
      stagedForCleanup.forEach(d => rm(new java.io.File(d)))
    }, "graft-warc-staging-cleanup"))

  /** The staged on-disk corpus for (dir, shardSize): written once per
    * session pass to a deterministic temp path and reused by every
    * file-backed consumer (w3's audit, the file-backed p2 funnel).
    * Keyed on applicationId so no path outlives its session; the write
    * is overwrite-idempotent, so a re-stage after a cache drop rewrites
    * byte-identical files. Registered for deletion at JVM shutdown
    * (see [[stagedForCleanup]]).
    */
  private[graft] def stagedWarcDir(spark: SparkSession, dir: String,
                                   shardSize: Int = 50,
                                   gz: Boolean = false): String =
    graft.CacheRegistry.memoSharedValue(
      s"w3stage:${spark.sparkContext.applicationId}:$dir:$shardSize:$gz") {
      // collision-proof staging path: a readable sanitized tail of the
      // dir PLUS a SHA-256 digest of the full raw string. Sanitizing
      // alone is non-injective ("corpus a" and "corpus+a" collide) and
      // unbounded (a long dir overflows the 255-byte filename limit);
      // the digest makes distinct dirs distinct, the bounded tail keeps
      // the path diagnosable.
      val digest = java.security.MessageDigest.getInstance("SHA-256")
        .digest(dir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .take(8).map(b => f"$b%02x").mkString
      val tail = dir.replaceAll("[^A-Za-z0-9._-]", "_").takeRight(40)
      val out = new java.io.File(
        System.getProperty("java.io.tmpdir"),
        s"graft-warc-${spark.sparkContext.applicationId}-" +
          s"$tail-$digest-$shardSize${if (gz) "-gz" else ""}").toString
      writeWarcFiles(spark, dir, out, shardSize, gz)
      stagingCleanupHook
      stagedForCleanup.add(out)
      out
    }

  /** w3: the file-backed round trip — synthesize the sharded corpus TO
    * DISK as real `.warc` files, read them back through `binaryFile` +
    * the mapPartitions framing seam, and audit every record. The output
    * is byte-for-byte w1's frame (the containers are identical by
    * construction; only the transport differs: filesystem vs in-flight
    * bytes), so the oracle is w1's verbatim — which makes this key the
    * proof that the FLEET posture (containers as input files) produces
    * exactly the audited framing arithmetic.
    */
  def warcFileRoundTrip(spark: SparkSession, dir: String,
                        shardSize: Int = 50, gz: Boolean = false): DataFrame =
    warcFileIngest(spark, stagedWarcDir(spark, dir, shardSize, gz))
      .orderBy("doc_id")

  /** w4: the GZIPPED file-backed round trip — w3 with the containers
    * staged as real `.warc.gz` files (one gzip member per record, the
    * Common Crawl convention) and inflated back through the member
    * walker before the framing seam. The audit frame is byte-for-byte
    * w1's (offsets describe the uncompressed stream — the WARC frame —
    * so compression is pure transport), which makes the oracle w1's
    * VERBATIM and this key the proof that the engine reads the format
    * real crawl corpora actually ship in.
    */
  def warcGzRoundTrip(spark: SparkSession, dir: String,
                      shardSize: Int = 50): DataFrame =
    warcFileRoundTrip(spark, dir, shardSize, gz = true)

  /** w5: CDX-style POINT READS over the gz archive — the serving path
    * a record-offset index exists for: per container, build the member
    * index (ONE verified walk, [[gzMemberIndex]]), then fetch EVERY
    * record through [[readGzMemberAt]] at its compressed offset — each
    * fetch inflates ONLY its own member, exactly what a ranged GET
    * against an object store does — and audit the FETCHED bytes. The
    * audit's rec_offset is the record's offset in the PLAIN container
    * (the WARC frame), recovered from the index's running plainLen sum,
    * so the output is w1's frame verbatim and the random-access path is
    * HASH-GATED against the byte-for-byte oracle, not just spec-pinned.
    * Non-response members keep their place in the offset accounting and
    * are skipped (the type discipline).
    *
    * Scale shape: w4's staging (memo-shared), read = one index walk +
    * one point-inflate per record per container — the deliberate 2×
    * inflate prices the INDEX BUILD plus the SERVE; at fleet scale the
    * index is built once at write time and shipped as metadata, and
    * each serve inflates ~KBs for a record regardless of segment size.
    */
  /** The per-file point-read serve — one verified member index, then
    * every record fetched through readGzMemberAt and audited from the
    * FETCHED bytes; non-response members keep their place in the
    * plain-offset accounting and skip. A named seam (not a closure) so
    * the mixed-container accounting is directly testable.
    */
  private[graft] def pointReadFile(file: String, bytes: Array[Byte])
      : Iterator[(Long, Long, Long, Long, String, Int, Long, Long)] = {
    val (shard, gz) = shardOf(file, bytes)
    require(gz, s"point reads need a gz container: $file")
    val idx = gzMemberIndex(bytes)
    val plainOffsets = idx.scanLeft(0L)(_ + _.plainLen)
    idx.zip(plainOffsets).iterator.flatMap { case (m, plainOff) =>
      val member = readGzMemberAt(bytes, m.compOffset)
      val recs = parseWarc(member)
      require(recs.length == 1,
        s"member at compressed offset ${m.compOffset} of $file " +
          s"frames ${recs.length} records (per-record layout expects 1)")
      val r = recs.head
      if (!isResponse(r)) None
      else {
        val (status, body) = parseHttpVerified(r)
        Some(auditRow(docIdOf(r), shard, plainOff, r.recLen,
          r.headers("warc-target-uri"), status, body))
      }
    }
  }

  def warcGzPointReads(spark: SparkSession, dir: String,
                       shardSize: Int = 50): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .option("pathGlobFilter", ContainerGlob)
      .load(stagedWarcDir(spark, dir, shardSize, gz = true))
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .mapPartitions(_.flatMap { case (file, bytes) =>
        pointReadFile(file, bytes)
      })
      .toDF(AuditCols: _*)
      .orderBy("doc_id")
  }

  /** Fetch ONE gzip member's compressed bytes by a POSITIONED read of
    * exactly `compLen` bytes at `compOffset` — the object-store
    * ranged-GET shape (`FSDataInputStream.readFully(position, ...)`
    * never moves the stream's cursor and never reads a byte outside
    * [compOffset, compOffset+compLen)). The offset stays a true Long
    * end to end: this path never holds the container in memory, so the
    * ~2 GiB array bound that lets [[readGzMemberAt]] narrow to Int does
    * not apply here.
    */
  private[graft] def fetchGzMember(in: org.apache.hadoop.fs.FSDataInputStream,
                                   compOffset: Long,
                                   compLen: Long): Array[Byte] = {
    // a maximal incompressible record legally deflates to slightly MORE
    // than its plain payload (stored-block framing), so the compressed
    // bound carries MaxGzSlackBytes of header + overhead slack above
    // the payload bound — the streaming gz reassembler's compPending
    // bound carries the same slack term
    require(compOffset >= 0 && compLen > 0 &&
        compLen <= MaxRecordBytes + MaxGzSlackBytes,
      s"implausible CDX member coordinates (offset $compOffset, " +
        s"len $compLen) — corrupt sidecar")
    val buf = new Array[Byte](compLen.toInt)
    in.readFully(compOffset, buf, 0, buf.length)
    buf
  }

  /** The per-container CDX serve: for each looked-up entry, ONE ranged
    * fetch of its member ([[fetchGzMember]]), inflate, verify the
    * member spans EXACTLY the sidecar's compLen (an index drifted from
    * its container must fail loudly, not serve a mis-framed record),
    * parse the single record through the seam, and audit the FETCHED
    * bytes. Non-response entries are never even fetched — the sidecar
    * carries the type, so the type discipline costs zero bytes of
    * traffic here (w5's in-memory walk still had to inflate them).
    * Entries serve in compOffset order (forward-seeking locality on a
    * spinning/remote medium); the audit's rec_offset comes from the
    * sidecar's plain-offset accounting, cross-checked against the
    * inflated record's own frame length.
    */
  private[graft] def serveCdxEntries(in: org.apache.hadoop.fs.FSDataInputStream,
                                     file: String, shard: Long,
                                     entries: Seq[CdxEntry])
      : Iterator[(Long, Long, Long, Long, String, Int, Long, Long)] = {
    entries.filter(_.warcType == "response").sortBy(_.compOffset)
      .iterator.map { e =>
        val member = fetchGzMember(in, e.compOffset, e.compLen)
        val sink = new java.io.ByteArrayOutputStream(
          math.min(e.plainLen, 1L << 20).toInt max 64)
        val consumed = inflateMemberAt(member, 0, sink)
        require(consumed == member.length,
          s"$file: member at comp-offset ${e.compOffset} spans $consumed " +
            s"compressed bytes but the CDX sidecar says ${e.compLen} — " +
            "index drifted from its container")
        val recs = parseWarc(sink.toByteArray)
        require(recs.length == 1,
          s"$file: member at comp-offset ${e.compOffset} frames " +
            s"${recs.length} records (per-record layout expects 1)")
        val r = recs.head
        require(r.recLen == e.plainLen,
          s"$file: record at comp-offset ${e.compOffset} frames " +
            s"${r.recLen} plain bytes but the CDX sidecar says " +
            s"${e.plainLen} — index drifted from its container")
        val (status, body) = parseHttpVerified(r)
        auditRow(docIdOf(r), shard, e.plainOffset, r.recLen,
          r.headers("warc-target-uri"), status, body)
      }
  }

  /** The sidecar naming contract: shard id from `shard-NNNNN.cdx`, and
    * the container path it indexes (same directory, `.warc.gz`).
    */
  private[graft] def cdxShardOf(file: String): (Long, String) = {
    val slash = file.lastIndexOf('/')
    val base = file.substring(slash + 1)
    require(base.startsWith("shard-") && base.endsWith(".cdx"),
      s"not a shard CDX sidecar: $file")
    val shard = scala.util.Try(base.stripPrefix("shard-")
      .stripSuffix(".cdx").toLong).getOrElse(
      sys.error(s"not a shard CDX sidecar: $file (non-numeric shard)"))
    (shard, file.substring(0, slash + 1) +
      base.stripSuffix(".cdx") + ".warc.gz")
  }

  /** w6: the PERSISTED-CDX point-read serve — the true ranged-read form
    * of w5: the record index is built once at STAGE time (the gz writer
    * commits a `shard-NNNNN.cdx` sidecar next to every container,
    * [[writeWarcFiles]]), and the serve path loads ONLY the sidecars —
    * each a few bytes per record — then fetches every looked-up record
    * with one positioned read of exactly compLen bytes
    * ([[fetchGzMember]]) and one single-member inflate. The container
    * is NEVER loaded: no `binaryFile` row holds it, no byte outside the
    * fetched members is read — the object-store ranged-GET posture a
    * CDX service actually runs. This query serves EVERY record (the
    * hash-gate needs the full corpus: the oracle is w1's verbatim); a
    * real lookup service would first semi-join the CDX frame down to
    * the requested ids — same plan with a smaller sidecar frame, which
    * is exactly why the index is the unit that travels.
    *
    * Scale shape: staging memo-shared with w4/w5; serve parallelism =
    * #sidecars, per-task traffic = Σ compLen of the records it looks up
    * plus the sidecar itself, per-fetch memory = one member. Corruption
    * discipline: a sidecar drifted from its container fails loudly on
    * the compLen/plainLen cross-checks; a truncated sidecar fails its
    * header/line parse; the fetched member still runs the full
    * CRC32/ISIZE + record-frame verification chain.
    */
  def warcCdxLookup(spark: SparkSession, dir: String,
                    shardSize: Int = 50): DataFrame = {
    import spark.implicits._
    val hconf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.cdx")
      .load(stagedWarcDir(spark, dir, shardSize, gz = true))
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .mapPartitions(_.flatMap { case (cdxPath, cdxContent) =>
        val (shard, containerPath) = cdxShardOf(cdxPath)
        val entries = parseCdx(cdxPath, new String(cdxContent, UTF_8))
        val p = new org.apache.hadoop.fs.Path(containerPath)
        val fs = p.getFileSystem(hconf.value)
        val in = fs.open(p)
        // materialize before close: the serve iterator is lazy and the
        // stream must outlive every fetch; bounded by one shard's audit
        try serveCdxEntries(in, containerPath, shard, entries).toVector
        finally in.close()
      })
      .toDF(AuditCols: _*)
      .orderBy("doc_id")
  }

  /** w1: synthesize the sharded WARC corpus, parse it back through the
    * seam, and audit every record — framing offsets, parsed-back URI and
    * HTTP status, payload accounting, body CRC32 (which must equal
    * x41's html_crc32 for the same doc: the two operators pin the same
    * bytes from opposite directions).
    */
  def warcIngest(spark: SparkSession, dir: String,
                 shardSize: Int = 50): DataFrame = {
    import spark.implicits._
    shardGrouped(Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"),
        expr(s"doc_id div $shardSize").as("shard_id")))
      .flatMapGroups { (shard: Long, it: Iterator[(Long, String, Long)]) =>
        val docs = it.map { case (id, text, _) => (id, text) }.toSeq
        val container = buildContainer(docs)
        parseWarc(container).map { r =>
          val (status, body) = parseHttpVerified(r)
          auditRow(docIdOf(r), shard, r.offset, r.recLen,
            r.headers("warc-target-uri"), status, body)
        }
      }
      .toDF(AuditCols: _*)
      .orderBy("doc_id")
  }
}
