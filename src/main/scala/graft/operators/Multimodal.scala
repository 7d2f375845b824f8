package graft.operators

import java.nio.{ByteBuffer, ByteOrder}
import java.util.zip.CRC32

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Multimodal-column plumbing: media payloads travel as opaque `binary`
  * columns with typed metadata alongside; decode / feature-extraction runs
  * per-partition in batches (the Scala analog of a vectorized `mapInPandas`
  * decode stage).
  *
  * The decode is REAL for the two container formats whose headers parse
  * with zero external libraries: BMP (BITMAPINFOHEADER → width/height/bpp)
  * and WAV (RIFF chunk walk → channels/sample-rate/bit-depth/duration).
  * The synthesized media column wraps each document's bytes in genuine
  * containers — a byte-valid 24bpp BMP for "image" rows, a canonical PCM16
  * WAV for "audio" rows — so the parser is exercised against real headers,
  * not fixtures that mirror its own assumptions. "video" rows in the
  * driver corpus stay an opaque raw payload with a deterministic
  * fallback, but the seam itself has a REAL video-container path:
  * AviMjpegFrameDecoder demuxes RIFF/AVI and decodes MJPEG frames via
  * JDK ImageIO with zero added dependencies (the GIF decoder covers the
  * multi-frame-image case). The fan-out shape around the seam is real
  * and load-bearing either way: binary columns, typed batch boundaries
  * (`Dataset[MediaBlob]` → `mapPartitions` → `Dataset[...]`), encoder
  * schemas, partition-parallel decode.
  */
object Multimodal {

  /** Decoded-raster area ceiling (pixels) for every ImageIO-backed path:
    * ImageIO allocates the full raster from the DECLARED header dimensions
    * before validating pixel data, so without this cap a few crafted
    * header bytes could demand a multi-GB allocation per executor task.
    * 2^26 px ≈ 8192×8192 ARGB ≈ 256 MB — far above any real thumbnail or
    * frame, far below an executor heap.
    */
  private[graft] val MaxDecodePixels: Long = 1L << 26

  /** An opaque media payload: what a real pipeline reads from a blob store
    * column.
    */
  case class MediaBlob(doc_id: Long, media_type: String, payload: Array[Byte])

  /** Extracted metadata. `format` is what the header parse identified
    * ("bmp" / "wav" / "raw"); dimension-ish fields are format-specific and
    * 0 where not applicable (honest absence, not a fake).
    */
  case class MediaMeta(doc_id: Long, media_type: String, format: String,
                       byte_len: Long, crc32: Long, width: Int, height: Int,
                       sample_rate: Int, n_frames: Int, duration_ms: Long)

  // --- container synthesis (the test corpus's blob-store stand-in) ------

  /** A byte-valid 24bpp BMP: 14-byte file header + 40-byte
    * BITMAPINFOHEADER + 4-byte-aligned rows, pixels tiled from `src`.
    */
  private[graft] def buildBmp(width: Int, height: Int,
                                  src: Array[Byte]): Array[Byte] = {
    val rowSize = ((width * 3 + 3) / 4) * 4
    val dataLen = rowSize * height
    val bb = ByteBuffer.allocate(54 + dataLen).order(ByteOrder.LITTLE_ENDIAN)
    bb.put('B'.toByte).put('M'.toByte).putInt(54 + dataLen)
      .putShort(0).putShort(0).putInt(54)
    bb.putInt(40).putInt(width).putInt(height).putShort(1).putShort(24)
      .putInt(0).putInt(dataLen).putInt(2835).putInt(2835).putInt(0).putInt(0)
    var i = 0
    while (i < dataLen) {
      bb.put(if (src.isEmpty) 0.toByte else src(i % src.length))
      i += 1
    }
    bb.array()
  }

  /** A canonical 44-byte-header mono PCM16 WAV with `src` (padded to a
    * whole sample) as the data section.
    */
  private[graft] def buildWav(sampleRate: Int, src: Array[Byte]): Array[Byte] = {
    val dataLen = src.length + (src.length & 1) // pad to 16-bit frames
    val bb = ByteBuffer.allocate(44 + dataLen).order(ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes).putInt(36 + dataLen).put("WAVE".getBytes)
    bb.put("fmt ".getBytes).putInt(16).putShort(1).putShort(1)
      .putInt(sampleRate).putInt(sampleRate * 2).putShort(2).putShort(16)
    bb.put("data".getBytes).putInt(dataLen).put(src)
    bb.array() // trailing pad byte (if any) is already zero
  }

  // --- the real header parse --------------------------------------------

  private def isBmp(p: Array[Byte]) =
    p.length >= 54 && p(0) == 'B'.toByte && p(1) == 'M'.toByte

  private def isWav(p: Array[Byte]) =
    p.length >= 44 &&
      p(0) == 'R' && p(1) == 'I' && p(2) == 'F' && p(3) == 'F' &&
      p(8) == 'W' && p(9) == 'A' && p(10) == 'V' && p(11) == 'E'

  /** WAV chunk walk → (sampleRate, channels, bitsPerSample, dataOff, dataLen),
    * or None if the payload is not a parseable WAV.
    */
  private[graft] def parseWav(p: Array[Byte]): Option[(Int, Int, Int, Int, Int)] = {
    if (!isWav(p)) return None
    val bb = ByteBuffer.wrap(p).order(ByteOrder.LITTLE_ENDIAN)
    var off = 12
    var rate = 0; var channels = 0; var bits = 0
    var dataOff = -1; var dataLen = 0
    while (off + 8 <= p.length) {
      val id = new String(p, off, 4, "US-ASCII")
      val size = bb.getInt(off + 4)
      // Long compare: a crafted size near 2^31 wraps off+8+size negative
      // as an Int, sailing past the bound and walking off the buffer
      if (size < 0 || off.toLong + 8 + size > p.length) return None
      id match {
        case "fmt " if size >= 16 =>
          channels = bb.getShort(off + 10)
          rate = bb.getInt(off + 12)
          bits = bb.getShort(off + 22)
        case "data" =>
          dataOff = off + 8
          dataLen = size
        case _ => ()
      }
      off += 8 + size + (size & 1) // chunks are word-aligned
    }
    if (rate > 0 && channels > 0 && bits > 0 && dataOff >= 0)
      Some((rate, channels, bits, dataOff, dataLen))
    else None
  }

  /** The decode stage: a genuine header parse for BMP and WAV; anything
    * else is reported as an opaque "raw" payload with deterministic
    * fallback framing (the video stand-in — a codec library would slot in
    * here unchanged).
    */
  private[graft] def decode(b: MediaBlob): MediaMeta = {
    val crc = new CRC32()
    crc.update(b.payload)
    val c = crc.getValue
    val p = b.payload
    if (isBmp(p)) {
      val bb = ByteBuffer.wrap(p).order(ByteOrder.LITTLE_ENDIAN)
      MediaMeta(b.doc_id, b.media_type, "bmp", p.length.toLong, c,
        width = bb.getInt(18), height = bb.getInt(22),
        sample_rate = 0, n_frames = 1, duration_ms = 0L)
    } else parseWav(p) match {
      // bits 1..7 would make bytesPerFrame 0 — a crafted header must land
      // in the raw fallback, not divide by zero in an executor task
      case Some((rate, channels, bits, _, dataLen))
          if channels * (bits / 8) > 0 =>
        val nSamples = dataLen / (channels * (bits / 8))
        MediaMeta(b.doc_id, b.media_type, "wav", p.length.toLong, c,
          width = 0, height = 0, sample_rate = rate, n_frames = nSamples,
          duration_ms = nSamples * 1000L / rate)
      case _ =>
        MediaMeta(b.doc_id, b.media_type, "raw", p.length.toLong, c,
          width = 0, height = 0, sample_rate = 0,
          n_frames = p.length / 1024 + 1, duration_ms = 0L)
    }
  }

  /** One sampled frame of a video decode (raw fallback framing). */
  case class FrameSample(doc_id: Long, frame_idx: Int, ts_ms: Long, frame_crc: Long)

  /** One decoded frame as the codec seam hands it to the operator: index,
    * presentation timestamp, and a digest standing in for the pixel buffer
    * (a real decoder would carry the buffer; the operator only persists
    * derived columns, so the digest is the schema-stable projection).
    */
  final case class DecodedFrame(frame_idx: Int, ts_ms: Long, frame_crc: Long)

  /** THE CODEC SEAM for m2: a real decoder (ffmpeg/jcodec) drops in by
    * implementing this one method — the operator, its schema, its
    * partitioning and its fan-out plan do not change. Instances ship to
    * executors inside the mapPartitions closure, hence Serializable; the
    * iterator is consumed lazily per payload so a streaming decoder never
    * materializes all frames at once. Frame-sampling POLICY (every Nth)
    * stays in the operator: decode order is the codec's concern, which
    * frames to keep is the pipeline's.
    */
  trait FrameDecoder extends Serializable {
    def decode(payload: Array[Byte]): Iterator[DecodedFrame]
  }

  /** One frame's content SIGNATURE for scene detection: a 16-bin
    * luminance histogram (exact longs). A histogram is the classic
    * shot-boundary feature — unlike m2's CRC digest it supports a
    * MAGNITUDE of change between adjacent frames, which is what a cut
    * threshold needs; 16 bins keeps the per-frame state tiny and the
    * arithmetic integer-exact.
    */
  final case class FrameSig(frame_idx: Int, ts_ms: Long, hist: Array[Long])

  /** THE SCENE SEAM for m7: signatures instead of digests. Kept separate
    * from FrameDecoder so m2's proven contract (and its fakes) stay
    * untouched; the three shipped decoders implement both. A real codec
    * integration implements `signatures` by histogramming each decoded
    * raster — exactly what the AVI/GIF decoders here do.
    */
  trait SceneDecoder extends Serializable {
    def signatures(payload: Array[Byte]): Iterator[FrameSig]
  }

  /** Default decoder: the honest raw fallback (no codec libs in this
    * container) — 1024-byte groups as "frames" at 25 fps, frame digest =
    * CRC32 over a strided 64-byte slice of the payload.
    */
  object RawFrameDecoder extends FrameDecoder {
    override def decode(payload: Array[Byte]): Iterator[DecodedFrame] = {
      val nFrames = payload.length / 1024 + 1
      Iterator.range(0, nFrames).map { i =>
        val crc = new CRC32()
        crc.update(payload, (i * 64) % math.max(1, payload.length),
          math.min(64, payload.length))
        DecodedFrame(i, i * 40L, crc.getValue) // 25 fps -> 40ms/frame
      }
    }
  }

  /** The raw SCENE fallback: contiguous `frameBytes`-byte groups as
    * frames at 25 fps, each frame's signature the 16-bin byte-value
    * histogram (bin = byte div 16) of the WHOLE group — unlike
    * RawFrameDecoder's strided 64-byte probe, the signature must cover
    * every byte so adjacent-frame deltas measure real content change,
    * and the last (short) frame's smaller mass is exactly what the cut
    * rule's (mass + pmass) denominator normalizes for. 128-byte default
    * so even short synthesized payloads yield real multi-frame walks.
    */
  final case class RawSceneDecoder(frameBytes: Int = 128) extends SceneDecoder {
    require(frameBytes > 0, s"frameBytes must be positive; got $frameBytes")
    override def signatures(payload: Array[Byte]): Iterator[FrameSig] = {
      val n = payload.length
      val nFrames = math.max(1, (n + frameBytes - 1) / frameBytes)
      Iterator.range(0, nFrames).map { i =>
        val off = i * frameBytes
        val end = math.min(n, off + frameBytes)
        val h = new Array[Long](16)
        var j = off
        while (j < end) {
          h((payload(j) & 0xff) >> 4) += 1
          j += 1
        }
        FrameSig(i, i * 40L, h)
      }
    }
  }

  /** CRC32 over a decoded raster's packed top-down RGB stream (shape
    * folded in first: equal pixel streams of different WxH — a 2x8 and an
    * 8x2 of the same bytes — must not collide) — the shared frame-digest
    * convention of every ImageIO-backed decoder here, so the same pixels
    * hash identically whatever container carried them; BufferedImage
    * callers go through `wrapImage`.
    */
  private def rasterCrc(img: DecodedImage): Long = {
    val crc = new CRC32()
    var d = img.width
    crc.update((d >>> 24) & 0xff); crc.update((d >>> 16) & 0xff)
    crc.update((d >>> 8) & 0xff); crc.update(d & 0xff)
    d = img.height
    crc.update((d >>> 24) & 0xff); crc.update((d >>> 16) & 0xff)
    crc.update((d >>> 8) & 0xff); crc.update(d & 0xff)
    var y = 0
    while (y < img.height) {
      var x = 0
      while (x < img.width) {
        val v = img.rgb(x, y) & 0xFFFFFF
        crc.update(v >> 16); crc.update((v >> 8) & 0xff); crc.update(v & 0xff)
        x += 1
      }
      y += 1
    }
    crc.getValue
  }

  /** 16-bin luminance histogram over a decoded raster — the shared scene
    * signature of the pixel-bearing decoders: integer BT.601 luma
    * ((299·R + 587·G + 114·B) quot 1000), bin = luma div 16. Identical
    * pixels produce identical histograms whichever container carried
    * them, mirroring the rasterCrc convention.
    */
  private def lumaHist(img: DecodedImage): Array[Long] = {
    val h = new Array[Long](16)
    var y = 0
    while (y < img.height) {
      var x = 0
      while (x < img.width) {
        val v = img.rgb(x, y)
        val luma = (((v >> 16) & 0xff) * 299 + ((v >> 8) & 0xff) * 587 +
          (v & 0xff) * 114) / 1000
        h(luma >> 4) += 1
        x += 1
      }
      y += 1
    }
    h
  }

  /** The PixelDecoder-seam view of a BufferedImage, so canvas-compositing
    * decoders share rasterCrc/lumaHist with byte-level ones.
    */
  private def wrapImage(b: java.awt.image.BufferedImage): DecodedImage =
    new DecodedImage {
      override def width: Int = b.getWidth
      override def height: Int = b.getHeight
      override def rgb(x: Int, y: Int): Int = b.getRGB(x, y)
    }

  /** AVI/MJPEG demuxer behind the m2 seam — the real VIDEO-container path
    * with zero new dependencies: AVI is RIFF (the same chunk discipline as
    * the WAV parser above, down to the word-alignment pad), and an MJPEG
    * stream's frames are standalone JPEGs, which JDK `javax.imageio`
    * decodes. The header walk reads `avih.dwMicroSecPerFrame` for the
    * frame cadence; the 'movi' list's `##dc`/`##db` chunks are then
    * iterated LAZILY — one JPEG decode per pulled frame, so an every-Nth
    * sampling policy upstream never pays for the frames it drops.
    * frame_crc digests the decoded RGB raster via `rasterCrc`, the same
    * convention as the GIF decoder. Non-AVI payloads (including the
    * synthesized raw "video" rows of the driver corpus) yield no frames
    * instead of misparsing — RawFrameDecoder remains the contract default.
    */
  object AviMjpegFrameDecoder extends FrameDecoder with SceneDecoder {
    private def u32(b: Array[Byte], o: Int): Long =
      (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
        ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)
    private def fourcc(b: Array[Byte], o: Int): String =
      new String(b, o, 4, java.nio.charset.StandardCharsets.US_ASCII)

    override def decode(payload: Array[Byte]): Iterator[DecodedFrame] =
      frameRasters(payload).map { case (i, ts, img) =>
        DecodedFrame(i, ts, rasterCrc(img))
      }

    override def signatures(payload: Array[Byte]): Iterator[FrameSig] =
      frameRasters(payload).map { case (i, ts, img) =>
        FrameSig(i, ts, lumaHist(img))
      }

    /** The demux + per-frame JPEG decode walk both views share: lazy
      * (index, ts_ms, raster) triples — one decode per pulled frame.
      */
    private def frameRasters(
        payload: Array[Byte]): Iterator[(Int, Long, DecodedImage)] = {
      if (payload.length < 12 || fourcc(payload, 0) != "RIFF" ||
        fourcc(payload, 8) != "AVI ") return Iterator.empty
      var usPerFrame = 40000L // 25 fps unless avih says otherwise
      var moviStart = -1
      var moviEnd = -1
      // Explicit work stack, not recursion: a crafted payload nesting one
      // 12-byte LIST header per level would otherwise recurse ~payload/12
      // frames deep and overflow the task stack. Each pushed range is
      // strictly inside its parent and the parent cursor skips the whole
      // LIST body, so every byte is scanned at most once — linear walk.
      def walk(from: Int, until: Int): Unit = {
        var pending = List((from, until))
        while (pending.nonEmpty) {
          var (o, to) = pending.head
          pending = pending.tail
          var ok = true
          while (ok && o + 8 <= to) {
            val id = fourcc(payload, o)
            // u32 kept as Long: a crafted 0xFFFFFFFF size must terminate the
            // walk, not wrap negative and stall the cursor in place
            val sz = u32(payload, o + 4)
            val body = o + 8
            if (sz < 0 || body + sz > to) ok = false
            else {
              val szi = sz.toInt
              if (id == "LIST" && body + 4 <= to) {
                val listType = fourcc(payload, body)
                val listEnd = body + szi
                if (listType == "movi") { moviStart = body + 4; moviEnd = listEnd }
                else pending = (body + 4, listEnd) :: pending
              } else if (id == "avih" && body + 4 <= to) {
                val v = u32(payload, body)
                if (v > 0) usPerFrame = v
              }
              o = body + szi + (szi & 1) // RIFF chunks are word-aligned
            }
          }
        }
      }
      walk(12, payload.length)
      if (moviStart < 0) return Iterator.empty

      val cadence = usPerFrame
      new Iterator[(Int, Long, DecodedImage)] {
        private var off = moviStart
        private var idx = 0
        private var nextFrame: (Int, Long, DecodedImage) = null
        private def advance(): Unit = {
          nextFrame = null
          while (nextFrame == null && off + 8 <= moviEnd) {
            val id = fourcc(payload, off)
            val sz = u32(payload, off + 4) // Long: see walk()'s size guard
            val body = off + 8
            if (sz < 0 || body + sz > moviEnd) { off = moviEnd; return }
            val szi = sz.toInt
            off = body + szi + (szi & 1)
            if (id.endsWith("dc") || id.endsWith("db")) {
              // per-frame decode failures (corrupt embedded JPEG with a
              // valid SOI) skip the frame, never fail the task; the dims
              // cap stops a crafted header demanding a multi-GB raster
              val img =
                try {
                  val pd = ImageIoPixelDecoder.decode(
                    java.util.Arrays.copyOfRange(payload, body, body + szi))
                  pd.orNull
                } catch { case _: Throwable => null }
              if (img != null) {
                nextFrame = (idx, idx * cadence / 1000L, img)
                idx += 1
              }
            }
          }
        }
        advance()
        override def hasNext: Boolean = nextFrame != null
        override def next(): (Int, Long, DecodedImage) = {
          val f = nextFrame; advance(); f
        }
      }
    }
  }

  /** JDK `javax.imageio` ANIMATED-GIF frame decoder — a real multi-frame
    * codec behind the m2 seam with zero new dependencies, proving the
    * FrameDecoder contract against an actual container format rather than
    * a fake. Each stored raster is COMPOSITED onto the logical-screen
    * canvas at its ImageDescriptor offset before digesting, honoring the
    * GraphicControlExtension disposal method — an optimized GIF stores
    * partial frames, and the frame a viewer shows (and that frame_crc must
    * digest) is the canvas, not the stored sub-raster. Frame timestamps
    * accumulate each frame's GCE delay (centiseconds; non-positive delays
    * fall back to 40 ms = 25 fps); frame_crc digests the composited
    * top-down RGB raster so identical frames hash identically across
    * encoders. Frames are decoded eagerly per payload — GIF animations are
    * small by construction; a streaming video codec would keep the
    * iterator lazy.
    */
  object ImageIoGifFrameDecoder extends FrameDecoder with SceneDecoder {
    private case class GifFrameMeta(left: Int, top: Int, disposal: String,
                                    delayMs: Long)

    private def frameMeta(meta: javax.imageio.metadata.IIOMetadata): GifFrameMeta = {
      val root = meta.getAsTree("javax_imageio_gif_image_1.0")
      var n = root.getFirstChild
      var left = 0; var top = 0; var disposal = "none"; var cs = 0L
      def intAttr(node: org.w3c.dom.Node, k: String): Int = {
        val a = node.getAttributes.getNamedItem(k)
        if (a == null) 0
        else try a.getNodeValue.toInt catch { case _: NumberFormatException => 0 }
      }
      while (n != null) {
        n.getNodeName match {
          case "ImageDescriptor" =>
            left = intAttr(n, "imageLeftPosition")
            top = intAttr(n, "imageTopPosition")
          case "GraphicControlExtension" =>
            cs = intAttr(n, "delayTime").toLong
            val d = n.getAttributes.getNamedItem("disposalMethod")
            if (d != null) disposal = d.getNodeValue
          case _ => ()
        }
        n = n.getNextSibling
      }
      GifFrameMeta(left, top, disposal, if (cs > 0) cs * 10 else 40L)
    }

    /** Logical screen size from the stream metadata; falls back to frame 0's
      * dimensions when the descriptor is absent or degenerate.
      */
    private def screenSize(reader: javax.imageio.ImageReader): (Int, Int) = {
      try {
        val root = reader.getStreamMetadata.getAsTree("javax_imageio_gif_stream_1.0")
        var n = root.getFirstChild
        while (n != null) {
          if (n.getNodeName == "LogicalScreenDescriptor") {
            val a = n.getAttributes
            val w = a.getNamedItem("logicalScreenWidth").getNodeValue.toInt
            val h = a.getNamedItem("logicalScreenHeight").getNodeValue.toInt
            if (w > 0 && h > 0) return (w, h)
          }
          n = n.getNextSibling
        }
      } catch { case _: Exception => () }
      (reader.getWidth(0), reader.getHeight(0))
    }

    override def decode(payload: Array[Byte]): Iterator[DecodedFrame] =
      foldFrames(payload,
        (i, ts, img) => DecodedFrame(i, ts, rasterCrc(img)))

    override def signatures(payload: Array[Byte]): Iterator[FrameSig] =
      foldFrames(payload, (i, ts, img) => FrameSig(i, ts, lumaHist(img)))

    /** The composited canvas walk both views share. The per-frame
      * reducer runs IN-LOOP against the live canvas (which later frames
      * mutate in place), so only the ~digest-sized results are retained
      * — never a per-frame canvas snapshot, whose O(frames × W × H)
      * buffering would turn a long animation into executor heap.
      */
    private def foldFrames[A](payload: Array[Byte],
                              reduce: (Int, Long, DecodedImage) => A): Iterator[A] = {
      import java.awt.image.BufferedImage
      javax.imageio.ImageIO.setUseCache(false)
      val in = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(payload))
      val readers = javax.imageio.ImageIO.getImageReaders(in)
      if (!readers.hasNext) { in.close(); return Iterator.empty }
      val reader = readers.next()
      val frames = Vector.newBuilder[A]
      try {
        reader.setInput(in, false)
        if (reader.getFormatName.toLowerCase != "gif") return Iterator.empty
        val n = reader.getNumImages(true)
        if (n <= 0) return Iterator.empty
        val (w, h) = screenSize(reader)
        // crafted logical-screen dims must not size the canvas allocation
        if (w <= 0 || h <= 0 || w.toLong * h > MaxDecodePixels)
          return Iterator.empty
        val canvas = new BufferedImage(w, h, BufferedImage.TYPE_INT_ARGB)
        var ts = 0L
        var i = 0
        while (i < n) {
          // per-frame dims check BEFORE read(i): a sub-raster can declare
          // dimensions far beyond the logical screen
          if (reader.getWidth(i) <= 0 || reader.getHeight(i) <= 0 ||
            reader.getWidth(i).toLong * reader.getHeight(i) > MaxDecodePixels)
            return frames.result().iterator
          val raster = reader.read(i)
          val md = frameMeta(reader.getImageMetadata(i))
          val saved =
            if (md.disposal == "restoreToPrevious") {
              val c = new BufferedImage(w, h, BufferedImage.TYPE_INT_ARGB)
              val g = c.createGraphics(); g.drawImage(canvas, 0, 0, null); g.dispose()
              c
            } else null
          val g = canvas.createGraphics()
          g.drawImage(raster, md.left, md.top, null)
          g.dispose()
          frames += reduce(i, ts, wrapImage(canvas))
          ts += md.delayMs
          md.disposal match {
            case "restoreToBackgroundColor" =>
              val g2 = canvas.createGraphics()
              g2.setComposite(java.awt.AlphaComposite.Clear)
              g2.fillRect(md.left, md.top, raster.getWidth, raster.getHeight)
              g2.dispose()
            case "restoreToPrevious" =>
              val g2 = canvas.createGraphics()
              g2.setComposite(java.awt.AlphaComposite.Src)
              g2.drawImage(saved, 0, 0, null)
              g2.dispose()
            case _ => ()
          }
          i += 1
        }
        frames.result().iterator
      } catch {
        // a recognized-but-corrupt body (valid GIF magic, broken LZW or
        // truncated frame table) keeps the frames decoded so far — honest
        // partial output, never a task failure
        case _: java.io.IOException | _: RuntimeException =>
          frames.result().iterator
      } finally {
        reader.dispose()
        in.close()
      }
    }
  }

  /** m2: frame sampling — the one-to-many decode fan-out (video row →
    * sampled frame rows) via a typed flatMap-style mapPartitions. The
    * decode step sits behind the FrameDecoder seam (RawFrameDecoder by
    * default — see MultimodalSpec for a fake codec exercising the same
    * path); the fan-out shape, encoder schemas, and per-partition
    * batching are what a real ffmpeg stage drops into.
    */
  def frameSamples(spark: SparkSession, dir: String, everyNth: Int = 4,
                   decoder: FrameDecoder = RawFrameDecoder): Dataset[FrameSample] =
    frameSamplesFrom(
      mediaBlobs(spark, dir).filter(_.media_type == "video"), everyNth, decoder)

  /** The blob-level m2 kernel: same fan-out, any `Dataset[MediaBlob]`
    * source — what a pipeline with its own blob store calls directly, and
    * what specs drive with real containers (AVI, GIF) the synthesized
    * corpus does not carry.
    */
  def frameSamplesFrom(blobs: Dataset[MediaBlob], everyNth: Int,
                       decoder: FrameDecoder): Dataset[FrameSample] = {
    import blobs.sparkSession.implicits._
    blobs.mapPartitions(_.flatMap { b =>
      decoder.decode(b.payload)
        .filter(_.frame_idx % everyNth == 0)
        .map(f => FrameSample(b.doc_id, f.frame_idx, f.ts_ms, f.frame_crc))
    })
  }

  /** One detected scene of a video: a maximal run of adjacent frames
    * with no shot boundary between them.
    */
  case class SceneCut(doc_id: Long, scene_idx: Int, start_frame: Int,
                      end_frame: Int, n_frames: Int, start_ms: Long,
                      end_ms: Long)

  /** m7: scene-cut detection — shot-boundary segmentation, the stage a
    * video curation pipeline runs BEFORE frame sampling so m2's every-Nth
    * policy can become per-scene sampling (N frames per shot instead of N
    * per file — uniform sampling over-represents long static shots and
    * can miss short ones entirely). The classic histogram method: a cut
    * between adjacent frames i−1, i iff the L1 distance of their 16-bin
    * luminance histograms exceeds a threshold fraction of its maximum,
    * as exact integers: cut ⟺ L1 · 1000 > thresholdMilli · (mass_{i−1} +
    * mass_i), where mass = Σ hist (L1 ≤ mass_{i−1} + mass_i always, and
    * the cross-multiply keeps the comparison rational-exact — the c2
    * convention). Scenes are the maximal cut-free runs; every frame
    * belongs to exactly one scene, a one-frame video is one scene.
    *
    * The signature comes from the SceneDecoder seam: real luminance
    * histograms from the AVI/GIF pixel decoders (spec-proven on a
    * crafted two-shot animation), whole-frame byte histograms over
    * 128-byte frame groups from the raw fallback on the synthesized
    * corpus (deterministic and oracle-replayed, like every raw-fallback
    * view; at the default threshold ~30% of the corpus's adjacent pairs
    * cut, so the oracle exercises both branches of the rule heavily).
    *
    * Scale shape: ONE narrow mapPartitions over the video payloads —
    * the fold over each payload's frame iterator is sequential by
    * nature (each frame compares to its predecessor), so the operator
    * emits finished scene rows directly with NO shuffle at all (the
    * m2/m6 class); payload bytes never leave their input partition.
    */
  def sceneCuts(spark: SparkSession, dir: String,
                thresholdMilli: Int = 250,
                decoder: SceneDecoder = RawSceneDecoder()): Dataset[SceneCut] =
    sceneCutsFrom(
      mediaBlobs(spark, dir).filter(_.media_type == "video"),
      thresholdMilli, decoder)

  private def massOf(sig: FrameSig): Long = {
    var mass = 0L
    var k = 0
    while (k < sig.hist.length) { mass += sig.hist(k); k += 1 }
    mass
  }

  /** The shared sequential scene walk: group a payload's frame
    * signatures into maximal cut-free runs under the integer cut rule.
    * STREAMING — scenes are yielded one at a time as the underlying
    * signature iterator is pulled, so live memory is bounded by the
    * single largest scene, never the whole payload's frame list.
    */
  private def scenesOf(sigs: Iterator[FrameSig],
                       thresholdMilli: Int): Iterator[(Int, Vector[FrameSig])] =
    new Iterator[(Int, Vector[FrameSig])] {
      // the frame that opened the NEXT scene (read past the cut), if any
      private var pending: FrameSig = if (sigs.hasNext) sigs.next() else null
      private var pendingMass: Long = if (pending == null) 0L else massOf(pending)
      private var sceneIdx = 0
      override def hasNext: Boolean = pending != null
      override def next(): (Int, Vector[FrameSig]) = {
        val buf = Vector.newBuilder[FrameSig]
        buf += pending
        var prev = pending
        var prevMass = pendingMass
        pending = null
        var open = true
        while (open && sigs.hasNext) {
          val sig = sigs.next()
          val mass = massOf(sig)
          var l1 = 0L
          var k = 0
          while (k < sig.hist.length) {
            l1 += math.abs(sig.hist(k) - prev.hist(k))
            k += 1
          }
          if (l1 * 1000L > thresholdMilli.toLong * (mass + prevMass)) {
            pending = sig
            pendingMass = mass
            open = false
          } else {
            buf += sig
            prev = sig
            prevMass = mass
          }
        }
        val scene = (sceneIdx, buf.result())
        sceneIdx += 1
        scene
      }
    }

  /** The blob-level m7 kernel: any `Dataset[MediaBlob]` source, any
    * SceneDecoder — what the real-container specs drive.
    */
  def sceneCutsFrom(blobs: Dataset[MediaBlob], thresholdMilli: Int,
                    decoder: SceneDecoder): Dataset[SceneCut] = {
    require(thresholdMilli >= 0 && thresholdMilli <= 1000,
      s"thresholdMilli must be a milli-fraction in [0, 1000]; got $thresholdMilli")
    import blobs.sparkSession.implicits._
    blobs.mapPartitions(_.flatMap { b =>
      scenesOf(decoder.signatures(b.payload), thresholdMilli).map {
        case (idx, frames) =>
          SceneCut(b.doc_id, idx, frames.head.frame_idx, frames.last.frame_idx,
            frames.size, frames.head.ts_ms, frames.last.ts_ms)
      }
    })
  }

  /** One selected keyframe per scene, with its content summary. */
  case class SceneKeyframe(doc_id: Long, scene_idx: Int, keyframe_idx: Int,
                           ts_ms: Long, dominant_bin: Int, mass: Long)

  /** m8: keyframe selection — the consumer of m7's segmentation: ONE
    * representative frame per scene (the MIDDLE frame, the standard
    * least-transition-biased choice — first/last frames sit on cut
    * boundaries and carry transition artifacts in real footage), plus
    * its dominant luminance bin (argmax of the 16-bin signature, ties
    * to the lowest bin) and total mass as the content summary a
    * downstream embed/caption stage keys on. This is per-scene sampling
    * made concrete: a 1000-frame static shot contributes ONE frame,
    * a 3-frame shot still contributes one — exactly the bias uniform
    * every-Nth sampling (m2) cannot avoid.
    *
    * Scale shape: identical to m7 — the same shared sequential scene
    * walk inside ONE shuffle-free mapPartitions; keyframe choice is
    * in-loop arithmetic on the buffered scene. The oracle replays m7's
    * segmentation and picks/argmaxes the same frame in SQL.
    */
  def sceneKeyframes(spark: SparkSession, dir: String,
                     thresholdMilli: Int = 250,
                     decoder: SceneDecoder = RawSceneDecoder()): Dataset[SceneKeyframe] =
    sceneKeyframesFrom(
      mediaBlobs(spark, dir).filter(_.media_type == "video"),
      thresholdMilli, decoder)

  /** The blob-level m8 kernel. */
  def sceneKeyframesFrom(blobs: Dataset[MediaBlob], thresholdMilli: Int,
                         decoder: SceneDecoder): Dataset[SceneKeyframe] = {
    require(thresholdMilli >= 0 && thresholdMilli <= 1000,
      s"thresholdMilli must be a milli-fraction in [0, 1000]; got $thresholdMilli")
    import blobs.sparkSession.implicits._
    blobs.mapPartitions(_.flatMap { b =>
      scenesOf(decoder.signatures(b.payload), thresholdMilli).map {
        case (idx, frames) =>
          val kf = frames((frames.size - 1) / 2)
          var dom = 0
          var mass = 0L
          var k = 0
          while (k < kf.hist.length) {
            mass += kf.hist(k)
            if (kf.hist(k) > kf.hist(dom)) dom = k
            k += 1
          }
          SceneKeyframe(b.doc_id, idx, kf.frame_idx, kf.ts_ms, dom, mass)
      }
    })
  }

  /** One overlapping chunk of an audio payload's PCM data section. */
  case class AudioChunk(doc_id: Long, chunk_idx: Int, start_byte: Long,
                        n_bytes: Int, chunk_crc: Long)

  /** m3: overlapping-window chunking — the ASR-style fixed-window-with-
    * stride fan-out (e.g. 30 s windows, 24 s stride, so chunk boundaries
    * never cut a word that a neighbor doesn't cover whole). Distinct from
    * m2's strided *sampling*: every chunk is a contiguous slice and
    * consecutive chunks overlap by `chunk - stride` bytes. Chunks cover the
    * PARSED PCM data section (start_byte is data-relative), not the
    * container header — the real-decode upgrade over chunking raw payload
    * bytes. Non-WAV payloads chunk whole (robustness, not expected here).
    * The final partial window is kept iff it starts before the data ends.
    */
  def audioChunks(spark: SparkSession, dir: String,
                  chunkBytes: Int = 256, strideBytes: Int = 192): Dataset[AudioChunk] = {
    require(strideBytes > 0 && chunkBytes >= strideBytes,
      "need 0 < stride <= chunk for full coverage")
    import spark.implicits._
    mediaBlobs(spark, dir).filter(_.media_type == "audio")
      .mapPartitions(_.flatMap { b =>
        val (dataOff, dataLen) = parseWav(b.payload)
          .map { case (_, _, _, off, len) => (off, len) }
          .getOrElse((0, b.payload.length))
        val starts = 0 until math.max(1, dataLen) by strideBytes
        starts.zipWithIndex.map { case (s, i) =>
          val n = math.min(chunkBytes, dataLen - s)
          val crc = new CRC32()
          crc.update(b.payload, dataOff + s, n)
          AudioChunk(b.doc_id, i, s.toLong, n, crc.getValue)
        }
      })
  }

  /** The synthesized media column: documents' bytes wrapped in REAL
    * containers (BMP for images, PCM16 WAV for audio; raw for video),
    * modality assigned deterministically by id. Dimensions/rates are id-
    * derived so parse-back equality is checkable per row.
    */
  private[graft] def mediaBlobs(spark: SparkSession, dir: String): Dataset[MediaBlob] = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val bytes = text.getBytes("UTF-8")
        (id % 3) match {
          case 0 =>
            MediaBlob(id, "image",
              buildBmp(width = 1 + (id % 31).toInt, height = 1 + (id % 17).toInt, bytes))
          case 1 =>
            MediaBlob(id, "audio",
              buildWav(sampleRate = 8000 + 4000 * ((id / 3) % 3).toInt, bytes))
          case _ =>
            MediaBlob(id, "video", bytes)
        }
      })
  }

  /** m1: metadata extraction over the synthesized media column. One narrow
    * `mapPartitions` pass — no shuffle, no driver involvement, decode
    * parallelism = partition count.
    */
  def mediaMetadata(spark: SparkSession, dir: String): DataFrame =
    mediaBlobs(spark, dir)
      .mapPartitions(_.map(decode))(
        org.apache.spark.sql.Encoders.product[MediaMeta])
      .toDF()
      .orderBy("doc_id")

  /** m6: exact media dedup — byte-identical payload detection by
    * (media_type, byte_len, crc32), the first pass every multimodal
    * curation pipeline runs before any perceptual hashing (m4's aHash
    * finds near-dups; this finds re-uploads and mirror copies at hash
    * cost instead of decode cost). One narrow fingerprint pass (no
    * payload ever shuffles — only the 20-byte digest rows), one keyed
    * aggregate; at fleet scale the digest pair is the blob-store
    * dedup key and the group-by is the only exchange.
    *
    * Collision caveat (the c1/c3 convention): the engine keys on
    * (length, CRC32) while the stated contract is byte equality, so a
    * 32-bit collision AT EQUAL LENGTH would merge two distinct payloads
    * into one dedup group. A production deployment swaps in a
    * cryptographic digest kernel (same plan, wider column); CRC32 is
    * used here because the DuckDB oracle replays it bit-for-bit over the
    * reconstructed payload bytes.
    */
  /** The (byte_len, crc32) digest pair m6 AND its streaming twin key on —
    * ONE definition, so the batch operator and `mediaDedupStream` cannot
    * drift apart (swapping in a cryptographic digest changes this one
    * function).
    */
  private[graft] def payloadDigest(payload: Array[Byte]): (Long, Long) = {
    val crc = new CRC32()
    crc.update(payload)
    (payload.length.toLong, crc.getValue)
  }

  def mediaExactDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mediaBlobs(spark, dir)
      .mapPartitions(_.map { b =>
        val (len, crc) = payloadDigest(b.payload)
        (b.doc_id, b.media_type, len, crc)
      })
      .toDF("doc_id", "media_type", "byte_len", "crc32")
      .groupBy(col("media_type"), col("byte_len"), col("crc32"))
      .agg(min(col("doc_id")).as("keep_id"),
        count(lit(1)).as("n_copies"))
      .orderBy("media_type", "keep_id")
  }

  // --- the pixel seam (m4) ----------------------------------------------

  /** A decoded still image as the pixel seam hands it to the fingerprint:
    * dimensions plus packed 0xRRGGBB access in TOP-DOWN raster coordinates
    * (the BufferedImage convention; the BMP decoder converts its bottom-up
    * rows). Created executor-side, never shipped.
    */
  trait DecodedImage {
    def width: Int
    def height: Int
    def rgb(x: Int, y: Int): Int
  }

  /** THE PIXEL SEAM for m4 — the still-image analog of m2's FrameDecoder:
    * a codec turns an opaque payload into pixel access and the fingerprint
    * math, operator, schema and partitioning never change. Implementations
    * ship to executors inside the mapPartitions closure, hence
    * Serializable.
    */
  trait PixelDecoder extends Serializable {
    def decode(payload: Array[Byte]): Option[DecodedImage]
  }

  /** Zero-library 24bpp BMP pixel decode (bottom-up 4-byte-aligned rows) —
    * the default, producing exactly the pixels the original hand parser
    * read. Truncated pixel arrays decode to None rather than misread.
    */
  object BmpPixelDecoder extends PixelDecoder {
    override def decode(p: Array[Byte]): Option[DecodedImage] = {
      if (!isBmp(p)) return None
      val bb = ByteBuffer.wrap(p).order(ByteOrder.LITTLE_ENDIAN)
      val w = bb.getInt(18); val h = bb.getInt(22)
      val off = bb.getInt(10)
      if (w <= 0 || h <= 0 || off < 0) return None
      // row size in Long: a crafted width near 2^30 overflows w*3 to a
      // NEGATIVE row size, which would pass the bound check and misindex
      val rowSizeL = ((w.toLong * 3 + 3) / 4) * 4
      // bound check by DIVISION: h and rowSizeL can each be ~2^31-scale,
      // so their product overflows even a Long and would wrap positive-small
      val avail = p.length.toLong - off
      if (avail < 0 || rowSizeL > avail / h) return None
      val rowSize = rowSizeL.toInt // fits: bounded by p.length above
      Some(new DecodedImage {
        val width: Int = w
        val height: Int = h
        def rgb(x: Int, y: Int): Int = {
          val pix = off + (h - 1 - y) * rowSize + x * 3 // rows stored bottom-up
          val b = p(pix) & 0xff; val g = p(pix + 1) & 0xff; val r = p(pix + 2) & 0xff
          (r << 16) | (g << 8) | b
        }
      })
    }
  }

  /** JDK `javax.imageio` pixel decode — PNG/JPEG/GIF/BMP with zero new
    * dependencies: the real-codec upgrade of BmpPixelDecoder behind the
    * same seam. On lossless pixels (BMP, PNG) it produces bit-identical
    * aHash fingerprints to the zero-lib path (spec-pinned); lossy formats
    * land within aHash's re-encode robustness.
    */
  object ImageIoPixelDecoder extends PixelDecoder {
    override def decode(p: Array[Byte]): Option[DecodedImage] = {
      javax.imageio.ImageIO.setUseCache(false) // in-memory streams, no temp files
      val in = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(p))
      val readers = javax.imageio.ImageIO.getImageReaders(in)
      if (!readers.hasNext) { in.close(); return None }
      val reader = readers.next()
      try {
        reader.setInput(in, true)
        // dimension check BEFORE read: ImageIO allocates the full raster up
        // front, so a 100-byte payload declaring 50000x50000 would OOM the
        // executor before any pixel data is validated
        val w = reader.getWidth(0); val h = reader.getHeight(0)
        if (w <= 0 || h <= 0 || w.toLong * h > MaxDecodePixels) return None
        Option(reader.read(0)).map { img =>
          new DecodedImage {
            val width: Int = img.getWidth
            val height: Int = img.getHeight
            def rgb(x: Int, y: Int): Int = img.getRGB(x, y) & 0xFFFFFF
          }
        }
      } catch {
        // recognized-but-corrupt payloads (valid magic, broken body) are
        // honest absence at the seam, never a task failure
        case _: java.io.IOException | _: RuntimeException => None
      } finally {
        reader.dispose()
        in.close()
      }
    }
  }

  /** 64-bit average-hash (aHash) over a decoded pixel grid: sample an 8×8
    * luminance grid (nearest-pixel), threshold at the grid mean, one bit
    * per cell. The standard perceptual-dedup fingerprint — robust to
    * re-encode/resample, cheap enough to run at scan speed. Identical math
    * regardless of which PixelDecoder produced the pixels.
    */
  private[graft] def aHash64(img: DecodedImage): Long = {
    val lum = new Array[Int](64)
    var j = 0
    while (j < 8) {
      var i = 0
      while (i < 8) {
        val v = img.rgb(i * img.width / 8, j * img.height / 8)
        val r = (v >> 16) & 0xff; val g = (v >> 8) & 0xff; val b = v & 0xff
        lum(j * 8 + i) = (299 * r + 587 * g + 114 * b) / 1000
        i += 1
      }
      j += 1
    }
    val mean = lum.sum / 64
    var bits = 0L
    var k = 0
    while (k < 64) { if (lum(k) > mean) bits |= (1L << k); k += 1 }
    bits
  }

  /** BMP-payload aHash via the default pixel seam (the shape m4's oracle
    * replays in SQL).
    */
  private[graft] def aHash64(p: Array[Byte]): Option[Long] =
    BmpPixelDecoder.decode(p).map(aHash64)

  /** One image's perceptual fingerprint. */
  case class ImageHash(doc_id: Long, width: Int, height: Int, ahash64: Long)

  /** m4: perceptual image fingerprints — decode the image payloads through
    * the pixel seam and emit the aHash per image (the dedup key a
    * multimodal curation pipeline stores next to the blob). Narrow
    * mapPartitions, no shuffle. `decoder` defaults to the zero-lib BMP
    * path (the oracle-checked shape); ImageIoPixelDecoder slots in for
    * PNG/JPEG/GIF corpora without any operator change.
    */
  def imageHashes(spark: SparkSession, dir: String,
                  decoder: PixelDecoder = BmpPixelDecoder): DataFrame = {
    import spark.implicits._
    mediaBlobs(spark, dir).filter(_.media_type == "image")
      .mapPartitions(_.flatMap { b =>
        decoder.decode(b.payload).map { img =>
          ImageHash(b.doc_id, img.width, img.height, aHash64(img))
        }
      })
      .toDF()
      .orderBy("doc_id")
  }

  /** One image's fixed-size thumbnail digest. */
  case class ImageThumb(doc_id: Long, width: Int, height: Int,
                        thumb_w: Int, thumb_h: Int,
                        lum_mean: Long, thumb_hash: Long)

  /** Nearest-neighbor resize digest: sample a t×t RGB grid with the same
    * integer addressing the aHash grid uses (`(i·w) div t`), fold the 3·t²
    * channel bytes (r, g, b per cell, row-major) through the wrapping
    * poly-31 hash, and average the integer luminances. Pure integer math →
    * replayable in SQL over the rebuilt pixels.
    */
  private[graft] def thumbDigest(img: DecodedImage, t: Int): (Long, Long) = {
    var h = 0L
    var lumSum = 0L
    var j = 0
    while (j < t) {
      var i = 0
      while (i < t) {
        val v = img.rgb(i * img.width / t, j * img.height / t)
        val r = (v >> 16) & 0xff; val g = (v >> 8) & 0xff; val b = v & 0xff
        h = h * 31 + r; h = h * 31 + g; h = h * 31 + b
        lumSum += (299 * r + 587 * g + 114 * b) / 1000
        i += 1
      }
      j += 1
    }
    (lumSum / (t.toLong * t), h)
  }

  /** m5: thumbnail/resize pass — the "resize" stage of the multimodal
    * pipeline (decode → RESIZE → feature-extract): every image payload is
    * decoded through the pixel seam and downsampled to a fixed t×t
    * nearest-neighbor thumbnail, emitting the thumbnail's mean luminance
    * and a deterministic digest of its RGB bytes (what a real pipeline
    * would store as the preview artifact's checksum). Same plan as m4:
    * narrow typed mapPartitions, no shuffle, decoder-seam pluggable
    * (BmpPixelDecoder is the oracle shape; ImageIoPixelDecoder slots in
    * for real formats). The digest arithmetic is wrapping-long poly-31 —
    * the x4 kernel discipline — so the DuckDB oracle replays resize and
    * digest bit-for-bit over the rebuilt pixels.
    */
  def imageThumbnails(spark: SparkSession, dir: String, thumb: Int = 4,
                      decoder: PixelDecoder = BmpPixelDecoder): DataFrame = {
    import spark.implicits._
    mediaBlobs(spark, dir).filter(_.media_type == "image")
      .mapPartitions(_.flatMap { b =>
        decoder.decode(b.payload).map { img =>
          val (lum, h) = thumbDigest(img, thumb)
          ImageThumb(b.doc_id, img.width, img.height, thumb, thumb, lum, h)
        }
      })
      .toDF()
      .orderBy("doc_id")
  }

  /** m9: the perceptual media near-dup AUDIT — the companion to m6's exact
    * byte-identity dedup: decode every image payload through the pixel
    * seam (m4's aHash), band-block the fingerprints (d3's discipline on
    * images), and emit EVERY band-sharing candidate pair with its exact
    * hamming distance and the `near_dup` verdict (hamming ≤ `maxHamming`,
    * the 4-band pigeonhole guarantee bound — every true ≤ 3 pair is
    * provably present). Emitting the rejected candidates too is what
    * makes this the TUNING table: a curation run reads the hamming
    * distribution of band collisions to place its cutoff, exactly like
    * x40 reads the jaccard curve — a verdict-only frame would be empty
    * on any corpus without sub-threshold twins and silent about where
    * the next-nearest pairs sit. Catches the re-encoded /
    * slightly-retouched copies m6's CRC can never see. Plan: m4's
    * shuffle-free decode + one band-keyed exchange of 4 rows per image —
    * payloads never shuffle, only 64-bit fingerprints do, and buckets
    * over `maxBucketSize` are dropped whole (d2's guard — degenerate
    * content piles into one band value and its pair volume is quadratic
    * in the bucket; the cap is the documented recall trade that bounds
    * the join at any corpus size, and the oracle replays it).
    */
  def mediaNearDup(spark: SparkSession, dir: String, maxHamming: Int = 3,
                   maxBucketSize: Int = 2000,
                   decoder: PixelDecoder = BmpPixelDecoder): DataFrame =
    bandedHashPairs(imageHashes(spark, dir, decoder)
        .select("doc_id", "ahash64"), maxBucketSize)
      .withColumn("near_dup", col("hamming") <= maxHamming)
      .orderBy("a_id", "b_id")

  /** All DISTINCT band-sharing fingerprint pairs with exact hamming —
    * the candidate stage `imageNearDupPairs` and m9 share. `maxBucketSize`
    * is d2's over-full-bucket guard on image fingerprints: synthetic-flat
    * or degenerate content (tiny/uniform images hash near zero) piles one
    * band value into a bucket whose pair volume is quadratic in the
    * bucket, so buckets over the cap are dropped whole — the documented
    * SemDedup-style recall trade that keeps the join's cost ∝ capped
    * collisions at any corpus size. The oracle replays the cap.
    */
  private def bandedHashPairs(hashes: DataFrame,
                              maxBucketSize: Int = 2000): DataFrame = {
    val banded = hashes.select(col("doc_id"), col("ahash64"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("ahash64"), b * 16).bitwiseAND(0xFFFFL).as("bits"))): _*))
        .as("bb"))
      .select(col("doc_id"), col("ahash64"), col("bb.band"), col("bb.bits"))
    // At the cap-free default (Int.MaxValue) `overfull` is empty by
    // construction — skip the extra full aggregation pass + anti-join so
    // the exact-recall path pays only the band join itself.
    val bounded =
      if (maxBucketSize == Int.MaxValue) banded
      else {
        val overfull = banded.groupBy(col("band"), col("bits"))
          .agg(count(lit(1)).as("bn")).filter(col("bn") > maxBucketSize)
          .select(col("band"), col("bits"))
        banded.join(broadcast(overfull), Seq("band", "bits"), "left_anti")
      }
    val a = bounded.select(col("band"), col("bits"),
      col("doc_id").as("a_id"), col("ahash64").as("a_h"))
    val b = bounded.select(col("band"), col("bits"),
      col("doc_id").as("b_id"), col("ahash64").as("b_h"))
    a.join(b, Seq("band", "bits"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        bit_count(col("a_h").bitwiseXOR(col("b_h"))).cast("long").as("hamming"))
      .distinct()
  }

  /** Perceptual near-dup pairs over a (doc_id, ahash64) frame: the d3
    * discipline on image fingerprints — 4×16-bit band blocking (pigeonhole
    * guarantees every pair at hamming ≤ 3 shares a band), exact hamming
    * verify inside the join, distinct after. Shuffle tracks band
    * collisions, never n². The default keeps the documented EXACT-recall
    * contract (no bucket cap); pass a finite `maxBucketSize` to opt into
    * m9's over-full-bucket recall trade on skewed corpora.
    */
  def imageNearDupPairs(hashes: DataFrame, maxHamming: Int = 3,
                        maxBucketSize: Int = Int.MaxValue): DataFrame =
    bandedHashPairs(hashes, maxBucketSize)
      .filter(col("hamming") <= maxHamming)
      .orderBy("a_id", "b_id")
}
