package graft.operators

import java.util.Locale
import java.util.zip.CRC32

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** x41: HTML / boilerplate extraction — the stage every web-scale corpus
  * runs before any text-quality or dedup operator sees a character
  * (trafilatura / jusText shaped; no reference analog — the reference
  * consumes pre-extracted text). The engine side is a zero-dependency
  * tag-walk block parser behind a seam (`HtmlBlocker`, the `PixelDecoder`
  * discipline from Multimodal): it segments a page into text blocks at
  * block-level tag boundaries, skips `script`/`style` raw text and
  * comments, decodes entities, collapses whitespace, and tracks per-block
  * anchor-text mass. Classification is the jusText-core rule pair in
  * exact integer arithmetic — a block is CONTENT iff it is long enough
  * (`length >= minLen`) AND not link-dense (`linkChars * 3 <= length`,
  * i.e. anchor density ≤ 1/3); everything else is boilerplate.
  *
  * Corpus plumbing mirrors m1 (`Multimodal.mediaBlobs`): each document is
  * wrapped in a REAL synthesized page — id-derived title/nav/link-box/
  * ad/footer boilerplate around the document text as escaped `<p>` chunks
  * — so the parser is exercised against genuine markup and the DuckDB
  * oracle can rebuild the page BYTE-FOR-BYTE (html_len/html_crc32 pin the
  * container) while deriving the expected extraction analytically from
  * the synthesis parameters. Crafted-fixture specs pin the parser on
  * markup the synthesis never emits (malformed tags, nested anchors,
  * comments, entities, raw-text edge cases).
  *
  * Scale shape: ONE narrow `mapPartitions` pass — no shuffle, no driver
  * involvement, decode parallelism = partition count; at 100 TB the HTML
  * is the input column and this same pass is the first stage of the
  * pipeline. Only the fixed-width audit row (counts + CRCs) leaves the
  * partition, never page bodies.
  */
object Html {

  /** One segmented text block: whitespace-collapsed text plus the
    * collapsed length of its anchor spans (link mass for the density
    * rule). Created executor-side, never shipped.
    */
  case class HtmlBlock(text: String, linkChars: Int)

  /** THE EXTRACTION SEAM — a parser turns raw markup into text blocks;
    * the operator, schema, classification rules and partitioning never
    * change. Implementations ship to executors inside the mapPartitions
    * closure, hence Serializable. A deployment with a native extraction
    * library swaps this one object.
    */
  trait HtmlBlocker extends Serializable {
    def blocks(html: String): Seq[HtmlBlock]

    /** Every anchor's href attribute value, entity-decoded, in document
      * order — the raw material of the outlink graph (x45). Same lexing
      * rules as `blocks`: comments and script/style raw text never yield
      * links; anchors without an href yield nothing.
      */
    def outlinks(html: String): Seq[String]
  }

  /** Entity-decode a string with the same table and malformed-passthrough
    * rules as the text path (`&amp; &lt; &gt; &quot; &apos; &nbsp;`,
    * `&#N;`, `&#xH;`; anything else passes literally) — attribute values
    * carry `&amp;` in real markup and must decode before URL resolution.
    */
  private[graft] def decodeEntities(s: String): String = {
    if (s.indexOf('&') < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '&') {
        val semi = s.indexOf(';', i + 1)
        val cp: Int =
          if (semi > i && semi - i <= 10) s.substring(i + 1, semi) match {
            case "amp"  => '&'.toInt
            case "lt"   => '<'.toInt
            case "gt"   => '>'.toInt
            case "quot" => '"'.toInt
            case "apos" => '\''.toInt
            case "nbsp" => ' '.toInt
            case e if e.length > 2 && (e.startsWith("#x") || e.startsWith("#X")) =>
              try Integer.parseInt(e.substring(2), 16)
              catch { case _: NumberFormatException => -1 }
            case e if e.length > 1 && e.startsWith("#") =>
              try Integer.parseInt(e.substring(1))
              catch { case _: NumberFormatException => -1 }
            case _ => -1
          } else -1
        if (cp >= 0 && cp <= 0x10FFFF) {
          sb.append(Character.toChars(cp))
          i = semi + 1
        } else { sb.append('&'); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** The href attribute's value from a lexed tag's attribute region
    * (quoted with either quote or bare), entity-decoded; None when the
    * tag carries no valued href. Standard forward attribute tokenizer —
    * name, optional `=` value — so a quoted '>' or a bare-valued attr
    * before the href cannot derail the scan.
    */
  private[graft] def hrefOf(attrs: String): Option[String] = {
    def isWs(c: Char) =
      c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f'
    val n = attrs.length
    var i = 0
    while (i < n) {
      while (i < n && (isWs(attrs.charAt(i)) || attrs.charAt(i) == '/')) i += 1
      val ns = i
      while (i < n && !isWs(attrs.charAt(i)) &&
        attrs.charAt(i) != '=' && attrs.charAt(i) != '/') i += 1
      val name = attrs.substring(ns, i)
      while (i < n && isWs(attrs.charAt(i))) i += 1
      var value: String = null
      if (i < n && attrs.charAt(i) == '=') {
        i += 1
        while (i < n && isWs(attrs.charAt(i))) i += 1
        if (i < n && (attrs.charAt(i) == '"' || attrs.charAt(i) == '\'')) {
          val q = attrs.charAt(i)
          i += 1
          val vs = i
          while (i < n && attrs.charAt(i) != q) i += 1
          value = attrs.substring(vs, i)
          if (i < n) i += 1
        } else {
          val vs = i
          while (i < n && !isWs(attrs.charAt(i))) i += 1
          value = attrs.substring(vs, i)
        }
      }
      if (name.equalsIgnoreCase("href") && value != null)
        return Some(decodeEntities(value))
    }
    None
  }

  /** Zero-dependency tag-walk block parser — the default `HtmlBlocker`.
    * Single forward scan: tags are lexed quote-aware (a '>' inside a
    * quoted attribute does not close the tag), `<!-- -->` comments and
    * `script`/`style` raw text are skipped case-insensitively, entities
    * (`&amp; &lt; &gt; &quot; &apos; &nbsp; &#N; &#xH;`) decode inline,
    * and whitespace collapses as characters stream into the current
    * block. Block-level tags (open OR close) finalize the current block;
    * inline tags pass through; `<a>` spans accumulate the block's link
    * mass (each span's text is collapsed independently, so separator
    * whitespace BETWEEN anchors belongs to the block, not the links).
    * Unterminated constructs at EOF finalize gracefully — mutated input
    * must degrade, never throw.
    */
  object TagWalkBlocker extends HtmlBlocker {
    private val blockTags: Set[String] = Set(
      "html", "head", "body", "title", "style", "script", "header", "nav",
      "div", "p", "h1", "h2", "h3", "h4", "h5", "h6", "footer", "aside",
      "section", "article", "main", "ul", "ol", "li", "table", "tr", "td",
      "th", "blockquote", "pre", "hr", "form", "br")

    private def isWs(c: Char): Boolean =
      c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f'

    // scalastyle:off method.length cyclomatic.complexity
    def blocks(html: String): Seq[HtmlBlock] = {
      val n = html.length
      // for raw-text end scans — per-CHAR lowercase, which is length-
      // preserving (String.toLowerCase is not: e.g. 'İ' expands to two
      // chars, desynchronizing every index after it)
      val lower = {
        val a = html.toCharArray
        var li = 0
        while (li < a.length) { a(li) = Character.toLowerCase(a(li)); li += 1 }
        new String(a)
      }
      val out = ArrayBuffer.empty[HtmlBlock]
      val sb = new java.lang.StringBuilder
      val linkSb = new java.lang.StringBuilder
      var pending = false      // whitespace seen since last emitted char
      var linkPending = false
      var linkDepth = 0
      var linkChars = 0
      var i = 0

      def flushLinkSpan(): Unit = {
        linkChars += linkSb.length
        linkSb.setLength(0)
        linkPending = false
      }
      def finalizeBlock(): Unit = {
        // a block boundary inside an open anchor closes the span's
        // accounting for THIS block; the anchor continues into the next
        if (linkDepth > 0) flushLinkSpan()
        if (sb.length > 0) out += HtmlBlock(sb.toString, linkChars)
        sb.setLength(0)
        pending = false
        linkChars = 0
      }
      def emit(c: Char): Unit =
        if (isWs(c)) {
          pending = true
          if (linkDepth > 0) linkPending = true
        } else {
          if (pending && sb.length > 0) sb.append(' ')
          pending = false
          sb.append(c)
          if (linkDepth > 0) {
            if (linkPending && linkSb.length > 0) linkSb.append(' ')
            linkPending = false
            linkSb.append(c)
          }
        }

      // '<' opens markup only before a letter, '/', '!' or '?' (the HTML5
      // tokenizer rule) — "i <3 u" is text, not a tag
      def opensMarkup(at: Int): Boolean = at + 1 < n && {
        val c1 = html.charAt(at + 1)
        Character.isLetter(c1) || c1 == '/' || c1 == '!' || c1 == '?'
      }

      while (i < n) {
        val c = html.charAt(i)
        if (c == '<' && opensMarkup(i)) {
          if (html.startsWith("<!--", i)) {
            val e = html.indexOf("-->", i + 4)
            i = if (e < 0) n else e + 3
          } else {
            // lex the tag quote-aware
            var j = i + 1
            var quote: Char = 0
            var closed = false
            while (j < n && !closed) {
              val cj = html.charAt(j)
              if (quote != 0) { if (cj == quote) quote = 0; j += 1 }
              else if (cj == '"' || cj == '\'') { quote = cj; j += 1 }
              else if (cj == '>') closed = true
              else j += 1
            }
            val inner = html.substring(i + 1, j)
            i = if (closed) j + 1 else n
            val closing = inner.startsWith("/")
            val body = if (closing) inner.substring(1) else inner
            var k = 0
            while (k < body.length && Character.isLetterOrDigit(body.charAt(k))) k += 1
            val name = body.substring(0, k).toLowerCase(Locale.ROOT)
            if (name.isEmpty) {
              // "<" followed by junk — not markup; drop it (degrade, not throw)
            } else if (!closing && (name == "script" || name == "style")) {
              finalizeBlock()
              val e = lower.indexOf("</" + name, i)
              // leave the close tag itself to the main loop (it finalizes)
              i = if (e < 0) n else e
            } else if (name == "a") {
              if (closing) {
                if (linkDepth > 0) {
                  linkDepth -= 1
                  if (linkDepth == 0) flushLinkSpan()
                }
              } else if (!inner.endsWith("/")) linkDepth += 1
            } else if (blockTags.contains(name)) {
              finalizeBlock()
            } // inline non-anchor tags: transparent
          }
        } else if (c == '&') {
          val semi = html.indexOf(';', i + 1)
          val cp: Int =
            if (semi > i && semi - i <= 10) html.substring(i + 1, semi) match {
              case "amp"  => '&'.toInt
              case "lt"   => '<'.toInt
              case "gt"   => '>'.toInt
              case "quot" => '"'.toInt
              case "apos" => '\''.toInt
              case "nbsp" => ' '.toInt
              case e if e.length > 2 && (e.startsWith("#x") || e.startsWith("#X")) =>
                try Integer.parseInt(e.substring(2), 16)
                catch { case _: NumberFormatException => -1 }
              case e if e.length > 1 && e.startsWith("#") =>
                try Integer.parseInt(e.substring(1))
                catch { case _: NumberFormatException => -1 }
              case _ => -1
            } else -1
          if (cp >= 0 && cp <= 0x10FFFF) {
            Character.toChars(cp).foreach(emit)
            i = semi + 1
          } else {
            emit('&')
            i += 1
          }
        } else {
          emit(c)
          i += 1
        }
      }
      finalizeBlock()
      out.toSeq
    }
    // scalastyle:on method.length cyclomatic.complexity

    /** Outlink walk: the same quote-aware tag lexer, comment skip and
      * script/style raw-text skip as `blocks`, collecting the href of
      * every opening (or self-closing) `<a>`. Text and entities need no
      * decoding here — only tags matter — so this scan is leaner than a
      * full block parse.
      */
    def outlinks(html: String): Seq[String] = {
      val n = html.length
      val lower = {
        val a = html.toCharArray
        var li = 0
        while (li < a.length) { a(li) = Character.toLowerCase(a(li)); li += 1 }
        new String(a)
      }
      val out = ArrayBuffer.empty[String]
      def opensMarkup(at: Int): Boolean = at + 1 < n && {
        val c1 = html.charAt(at + 1)
        Character.isLetter(c1) || c1 == '/' || c1 == '!' || c1 == '?'
      }
      var i = 0
      while (i < n) {
        if (html.charAt(i) == '<' && opensMarkup(i)) {
          if (html.startsWith("<!--", i)) {
            val e = html.indexOf("-->", i + 4)
            i = if (e < 0) n else e + 3
          } else {
            var j = i + 1
            var quote: Char = 0
            var closed = false
            while (j < n && !closed) {
              val cj = html.charAt(j)
              if (quote != 0) { if (cj == quote) quote = 0; j += 1 }
              else if (cj == '"' || cj == '\'') { quote = cj; j += 1 }
              else if (cj == '>') closed = true
              else j += 1
            }
            val inner = html.substring(i + 1, j)
            i = if (closed) j + 1 else n
            val closing = inner.startsWith("/")
            val body = if (closing) inner.substring(1) else inner
            var k = 0
            while (k < body.length && Character.isLetterOrDigit(body.charAt(k))) k += 1
            val name = body.substring(0, k).toLowerCase(Locale.ROOT)
            if (!closing && (name == "script" || name == "style")) {
              val e = lower.indexOf("</" + name, i)
              i = if (e < 0) n else e
            } else if (!closing && name == "a") {
              hrefOf(body.substring(k)).foreach(out += _)
            }
          }
        } else i += 1
      }
      out.toSeq
    }
  }

  /** The SECOND HtmlBlocker implementation — the JDK Swing HTML parser
    * (javax.swing.text.html.parser.ParserDelegator) driving the same
    * block/anchor accounting, proving the seam is real the way
    * ImageIoPixelDecoder does for the pixel seam: operator, schema,
    * classification and partitioning are untouched by the swap, and
    * HtmlSpec pins audit parity with TagWalkBlocker on the synthesized
    * corpus shape. Differences are the parser's, not the seam's: the
    * HTML-3.2 DTD doesn't know nav/footer/header (they arrive as
    * name-keyed unknown-tag events, mapped to block boundaries here),
    * script bodies surface as comment events, and malformed-markup
    * recovery follows Swing's DTD rather than the HTML5 tokenizer rule.
    * HtmlSpec's parity-breadth test extends the agreement to every
    * crafted fixture the event model can express (block splits, quoted
    * '>' in attributes, whitespace collapse, anchor-span separators,
    * stray closes, unterminated tags, EOF-in-script, the full outlinks
    * href inventory); the EXACT divergence set is probed and PINNED in
    * the companion divergence test — six departures, all attributable to
    * the JDK event model, none to the seam: (1) style bodies arrive as
    * TEXT (script bodies as comments), (2) the HTML-3.2 entity table (no
    * &apos;, &nbsp; -> U+00A0 non-collapsible, bare &amp eats the next
    * space, malformed numeric refs -> NUL), (3) nested <a> implies </a>,
    * (4) self-closing <a/> stays open, (5) a block boundary inside an
    * anchor implies </a> so link mass doesn't carry across blocks,
    * (6) '<' before a digit is swallowed instead of HTML5's treat-as-text.
    */
  object SwingBlocker extends HtmlBlocker {
    private val extraBlockNames = Set("nav", "footer", "header", "aside",
      "section", "article", "main")

    def blocks(html: String): Seq[HtmlBlock] = {
      import javax.swing.text.MutableAttributeSet
      import javax.swing.text.html.{HTML, HTMLEditorKit}
      val out = ArrayBuffer.empty[HtmlBlock]
      val sb = new java.lang.StringBuilder
      val linkSb = new java.lang.StringBuilder
      var pending = false
      var linkPending = false
      var linkDepth = 0
      var linkChars = 0
      var rawSkip = 0 // inside style (script bodies arrive as comments)

      def flushLinkSpan(): Unit = {
        linkChars += linkSb.length
        linkSb.setLength(0)
        linkPending = false
      }
      def finalizeBlock(): Unit = {
        if (linkDepth > 0) flushLinkSpan()
        if (sb.length > 0) out += HtmlBlock(sb.toString, linkChars)
        sb.setLength(0)
        pending = false
        linkChars = 0
      }
      def emit(c: Char): Unit =
        if (c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f') {
          pending = true
          if (linkDepth > 0) linkPending = true
        } else {
          if (pending && sb.length > 0) sb.append(' ')
          pending = false
          sb.append(c)
          if (linkDepth > 0) {
            if (linkPending && linkSb.length > 0) linkSb.append(' ')
            linkPending = false
            linkSb.append(c)
          }
        }
      def isBlockTag(t: HTML.Tag): Boolean =
        t.isBlock || t.breaksFlow ||
          extraBlockNames(t.toString.toLowerCase(Locale.ROOT))

      val cb = new HTMLEditorKit.ParserCallback {
        override def handleText(data: Array[Char], pos: Int): Unit =
          if (rawSkip == 0) data.foreach(emit)
        override def handleStartTag(t: HTML.Tag, a: MutableAttributeSet,
                                    pos: Int): Unit =
          if (t == HTML.Tag.SCRIPT || t == HTML.Tag.STYLE) {
            finalizeBlock(); rawSkip += 1
          } else if (t == HTML.Tag.A) linkDepth += 1
          else if (isBlockTag(t)) finalizeBlock()
        override def handleEndTag(t: HTML.Tag, pos: Int): Unit =
          if (t == HTML.Tag.SCRIPT || t == HTML.Tag.STYLE) {
            if (rawSkip > 0) rawSkip -= 1
          } else if (t == HTML.Tag.A) {
            if (linkDepth > 0) {
              linkDepth -= 1
              if (linkDepth == 0) flushLinkSpan()
            }
          } else if (isBlockTag(t)) finalizeBlock()
        override def handleSimpleTag(t: HTML.Tag, a: MutableAttributeSet,
                                     pos: Int): Unit =
          if (t != HTML.Tag.A && isBlockTag(t)) finalizeBlock()
        // script bodies and real comments both land here: neither is text
        override def handleComment(data: Array[Char], pos: Int): Unit = ()
        override def handleError(msg: String, pos: Int): Unit = ()
      }
      new javax.swing.text.html.parser.ParserDelegator()
        .parse(new java.io.StringReader(html), cb, true)
      finalizeBlock()
      out.toSeq
    }

    /** Outlinks via the Swing callback's attribute sets — entity decoding
      * in attribute values is the parser's own. Self-closing anchors
      * arrive as simple-tag events.
      */
    def outlinks(html: String): Seq[String] = {
      import javax.swing.text.MutableAttributeSet
      import javax.swing.text.html.{HTML, HTMLEditorKit}
      val out = ArrayBuffer.empty[String]
      def collect(t: HTML.Tag, a: MutableAttributeSet): Unit =
        if (t == HTML.Tag.A) {
          val v = a.getAttribute(HTML.Attribute.HREF)
          if (v != null) out += v.toString
        }
      val cb = new HTMLEditorKit.ParserCallback {
        override def handleStartTag(t: HTML.Tag, a: MutableAttributeSet,
                                    pos: Int): Unit = collect(t, a)
        override def handleSimpleTag(t: HTML.Tag, a: MutableAttributeSet,
                                     pos: Int): Unit = collect(t, a)
        override def handleError(msg: String, pos: Int): Unit = ()
      }
      new javax.swing.text.html.parser.ParserDelegator()
        .parse(new java.io.StringReader(html), cb, true)
      out.toSeq
    }
  }

  /** HTML-escape `text[from, until)` into `sb` — `&` first, then the angle
    * brackets, matching the oracle's replace chain order.
    */
  private def escapeInto(sb: java.lang.StringBuilder, text: String,
                         from: Int, until: Int): Unit = {
    var i = from
    while (i < until) {
      text.charAt(i) match {
        case '&' => sb.append("&amp;")
        case '<' => sb.append("&lt;")
        case '>' => sb.append("&gt;")
        case c   => sb.append(c)
      }
      i += 1
    }
  }

  /** The synthesized page: id-derived boilerplate (short title/h1/nav, a
    * link-dense link box that PASSES the length rule — so the density rule
    * is load-bearing, not shadowed — an ad block on every fifth doc, a
    * footer) around the document text as escaped 80-char `<p>` chunks.
    * Deterministic in (doc_id, text) so the oracle rebuilds it
    * byte-for-byte.
    */
  private[graft] def buildHtml(id: Long, text: String): String = {
    val k7 = id % 7
    val k13 = id % 13
    val sb = new java.lang.StringBuilder(text.length + text.length / 10 + 512)
    sb.append("<html><head><title>Doc ").append(id)
      .append("</title><style>body{font-size:12px;color:#222}</style>")
      .append("<script>var page=").append(id).append(";track(page);</script>")
      .append("</head><body><header><h1>Site ").append(k7)
      .append("</h1></header><nav><a href=\"/home\">home</a> ")
      .append("<a href=\"/about\">about</a> <a href=\"/p").append(k13)
      .append("\">p").append(k13).append("</a></nav>")
      .append("<div class=\"links\"><a href=\"/l0\">link zero</a> ")
      .append("<a href=\"/l1\">link one</a> <a href=\"/l2\">link two</a> ")
      .append("<a href=\"/l3\">link three</a></div><div class=\"main\">")
    val nChunks = (text.length + 79) / 80
    var ci = 0
    while (ci < nChunks) {
      sb.append("<p>")
      escapeInto(sb, text, ci * 80, math.min(text.length, ci * 80 + 80))
      sb.append("</p>")
      ci += 1
    }
    if (id % 5 == 0)
      sb.append("<p class=\"ad\"><a href=\"/buy\">buy now</a> ")
        .append("<a href=\"/deal\">deal</a> promo</p>")
    // the related-articles box (x45's doc-to-doc substrate): two
    // root-relative links into neighbor page families — one plain, one
    // through dot-segments — and one absolute cross-family link whose
    // spelling variance (case, www, default port, tracking junk,
    // fragment) canonicalizes to the target family's EXACT canonical URL,
    // so the parsed link graph carries a real doc-family cycle. Pure
    // boilerplate by construction (19 chars, 17 link chars: fails both
    // the length and the density rule), so x41's content columns are
    // untouched by its presence.
    val k100 = id % 100
    val r3 = (k100 + 1) % 100
    sb.append("</div><div class=\"rel\"><a href=\"/a/b").append((k100 + 7) % 100)
      .append("\">r one</a> <a href=\"/a/x/../b").append((k100 + 14) % 100)
      .append("/\">r two</a> <a href=\"")
      .append(if (r3 % 2 == 0) "HTTPS" else "HTTP")
      .append("://www.Site").append(r3 % 7).append(".Example.Com")
      .append(if (r3 % 2 == 0) ":443" else ":80")
      .append("/a/b").append(r3).append("?lang=en&q=").append(r3 % 11)
      .append("&utm_source=x#f\">r three</a></div><footer>(c) site ").append(k7)
      .append(" <a href=\"/terms\">terms</a> ")
      .append("<a href=\"/privacy\">privacy</a></footer></body></html>")
    sb.toString
  }

  private def crc32(s: String): Long = {
    val c = new CRC32()
    c.update(s.getBytes("UTF-8"))
    c.getValue
  }

  /** One extraction audit row per page — fixed width regardless of page
    * size (CRCs pin the exact bytes of both the container and the
    * extracted main text).
    */
  case class HtmlExtractRow(doc_id: Long, html_len: Long, html_crc32: Long,
                            n_blocks: Long, n_content: Long, n_boiler: Long,
                            main_len: Long, main_crc32: Long, boiler_len: Long)

  /** The jusText-core content rule — length ≥ minLen ∧ link density
    * ≤ 1/3 in exact integers. ONE definition shared by the batch audit
    * and the streaming ingest gate.
    */
  private[graft] def isContent(b: HtmlBlock, minLen: Int): Boolean =
    b.text.length >= minLen && b.linkChars * 3 <= b.text.length

  /** The per-page audit — parse, classify, account — as ONE definition
    * shared by the batch operator and the streaming twin
    * (`StreamOps.htmlExtractStream`), so the two can never drift.
    */
  private[graft] def auditRow(id: Long, html: String, minLen: Int,
                              blocker: HtmlBlocker): HtmlExtractRow = {
    val bs = blocker.blocks(html)
    val (content, boiler) = bs.partition(isContent(_, minLen))
    val mainText = content.iterator.map(_.text).mkString("\n")
    HtmlExtractRow(id, html.length.toLong, crc32(html),
      bs.length.toLong, content.length.toLong, boiler.length.toLong,
      mainText.length.toLong, crc32(mainText),
      boiler.iterator.map(_.text.length.toLong).sum)
  }

  /** x41: extract main content from the synthesized page corpus and audit
    * the split — block counts, kept/dropped text mass, byte-exact CRCs of
    * the page and of the extracted main text (content blocks joined with
    * '\n').
    */
  def htmlExtract(spark: SparkSession, dir: String, minLen: Int = 25,
                  blocker: HtmlBlocker = TagWalkBlocker): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        auditRow(id, buildHtml(id, text), minLen, blocker)
      })
      .toDF()
      .orderBy("doc_id")
  }

  /** x45: the parsed outlink graph — every anchor href on the page,
    * extracted during the same tag walk as x41's block parse, resolved
    * against the page's canonical URL and canonicalized through x43's
    * kernel. One row per parsed anchor: (doc_id, src_url, href,
    * dst_url); hrefs a frontier never enqueues (fragment-only, mailto:,
    * javascript:) are dropped by resolution.
    *
    * Scale shape: x41's — ONE narrow `mapPartitions` pass, output
    * ∝ anchors, no shuffle beyond the ordered output. At fleet scale
    * this pass and the block parse fuse into a single page walk; the
    * edge frame's natural partition key is the dst digest (the frontier
    * enqueue key).
    */
  def outlinkGraph(spark: SparkSession, dir: String,
                   blocker: HtmlBlocker = TagWalkBlocker): DataFrame =
    outlinkEdges(spark, dir, blocker).orderBy("doc_id", "href")

  /** x45's edge frame WITHOUT the deterministic output sort — the form
    * g3 consumes. Memo-shared on (dir, blocker): x45 and g3 both start
    * from the parsed anchor set, so one harness pass runs the page
    * re-parse exactly once and g3 times its marginal (three supersteps
    * over the distinct edge set) instead of re-walking every page. Same
    * lifecycle as d4's pair list: survives per-query release, dropped at
    * end of pass, keyed on applicationId so no frame outlives its
    * session.
    */
  private[graft] def outlinkEdges(spark: SparkSession, dir: String,
                                  blocker: HtmlBlocker = TagWalkBlocker): DataFrame =
    graft.CacheRegistry.memoShared(
      s"x45edges:${spark.sparkContext.applicationId}:$dir:" +
        blocker.getClass.getName) {
      import spark.implicits._
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .mapPartitions(_.flatMap { case (id, text) =>
          val src = Urls.canonicalizeUrl(Urls.buildUrl(id))
          blocker.outlinks(buildHtml(id, text)).iterator.flatMap { href =>
            Urls.resolveHref(src, href).map(dst => (id, src, href, dst))
          }
        })
        .toDF("doc_id", "src_url", "href", "dst_url")
    }

  /** g3: PageRank over the PARSED link graph — g2's exact integer kernel
    * (micro-unit ranks, truncating division, three unrollable
    * supersteps) pointed at x45's edges instead of the near-dup pair
    * graph. Nodes are canonical URLs; the distinct (src, dst) edge set
    * collapses a canonical group's copies into one node, and the kernel
    * symmetrizes edges (the undirected co-citation form g2 defines —
    * every vertex keeps degree ≥ 1, so no dangling-mass term enters the
    * oracle). The synthesized corpus gives the graph real topology: the
    * rel box's cross-family link chains the 100 page families into a
    * cycle, and each site's nav/footer hubs accumulate in-degree. At
    * fleet scale the node key would be a 128-bit URL digest rather than
    * the string; the per-superstep cost model (one shuffle on src, one
    * on dst, volume ∝ |edges|) is unchanged.
    */
  def linkPageRank(spark: SparkSession, dir: String, iters: Int = 3): DataFrame =
    Dedup.pageRankFromPairs(
      outlinkEdges(spark, dir)
        .select(col("src_url").as("a_id"), col("dst_url").as("b_id"))
        .distinct(),
      iters)
      .withColumnRenamed("doc_id", "url")
}
