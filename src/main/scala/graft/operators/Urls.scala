package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** x43: URL canonicalization + URL-level dedup — the crawl-frontier stage
  * every web pipeline runs BEFORE any content operator (C4/CCNet dedupe
  * by URL first; fetch queues key on the canonical form): normalize the
  * RFC-3986 surface variance (scheme/host case, default ports, `www.`,
  * dot-segments, empty segments, trailing slash, fragments), strip
  * tracking parameters, order the remaining query params, then group by
  * the canonical form and keep the smallest doc_id.
  *
  * Corpus plumbing follows m1/x41: each document gets a REAL synthesized
  * URL whose IDENTITY dims derive from `doc_id % 100` and whose VARIANCE
  * dims (case spelling, port presence, dot-segment shape, param order,
  * tracking junk, fragment) derive from the full id — so every canonical
  * group holds genuinely different raw spellings of the same resource,
  * every normalization rule fires corpus-wide, and the oracle can rebuild
  * the raw URL byte-for-byte while deriving the canonical form
  * analytically from the identity dims. The canonicalizer itself is
  * general (crafted-fixture specs drive it with inputs the synthesis
  * never emits), including RFC 3986 §6.2.2 percent-encoding
  * normalization: unreserved octets decode, other triplets uppercase,
  * malformed triplets pass through.
  *
  * Scale shape: ONE narrow pass builds + canonicalizes (no shuffle), then
  * ONE hash exchange on the canonical key for the group window — the
  * exact frontier-dedup shape at fleet scale, where the canonical URL
  * (or its 128-bit digest) is the partition key.
  */
object Urls {

  private val trackingKeys = Set("ref", "fbclid", "gclid", "msclkid")

  private def defaultPort(scheme: String): String =
    if (scheme == "https") "443" else if (scheme == "http") "80" else ""

  /** Split an authority into (host, port), keeping IPv6 brackets on the
    * host and splitting the port at "]:" — NOT at the address's own
    * colons. Shared by canonicalizeUrl and robotsGate so the two stages
    * can never disagree on where the host ends.
    */
  private[graft] def splitHostPort(auth: String): (String, String) =
    if (auth.startsWith("[")) {
      val e = auth.indexOf(']')
      if (e < 0) (auth, "")
      else if (e + 1 < auth.length && auth.charAt(e + 1) == ':')
        (auth.substring(0, e + 1), auth.substring(e + 2))
      else (auth.substring(0, e + 1), "")
    } else {
      val c = auth.indexOf(':')
      if (c >= 0) (auth.substring(0, c), auth.substring(c + 1))
      else (auth, "")
    }

  private[graft] def stripPort(auth: String): String = splitHostPort(auth)._1

  private def isUnreserved(v: Int): Boolean =
    (v >= 'A' && v <= 'Z') || (v >= 'a' && v <= 'z') ||
      (v >= '0' && v <= '9') || v == '-' || v == '.' || v == '_' || v == '~'

  private def hexVal(c: Char): Int =
    if (c >= '0' && c <= '9') c - '0'
    else if (c >= 'A' && c <= 'F') c - 'A' + 10
    else if (c >= 'a' && c <= 'f') c - 'a' + 10
    else -1

  /** RFC 3986 §6.2.2 percent-encoding normalization: decode triplets
    * whose octet is unreserved (ALPHA / DIGIT / - . _ ~), uppercase the
    * hex of every other triplet, pass malformed triplets through
    * untouched (degrade, never throw). Idempotent by construction: a
    * decoded octet is never '%' (0x25 is reserved), so no pass can
    * create a new triplet, and surviving triplets are already uppercase.
    */
  private[graft] def normPct(s: String): String = {
    if (s.indexOf('%') < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length &&
          hexVal(s.charAt(i + 1)) >= 0 && hexVal(s.charAt(i + 2)) >= 0) {
        val v = hexVal(s.charAt(i + 1)) * 16 + hexVal(s.charAt(i + 2))
        if (isUnreserved(v)) sb.append(v.toChar)
        else sb.append('%')
          .append(Character.toUpperCase(s.charAt(i + 1)))
          .append(Character.toUpperCase(s.charAt(i + 2)))
        i += 3
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Zero-dep canonicalizer. A value without a `://` scheme separator is
    * returned unchanged (opaque — degrade, never throw), matching the
    * crawl convention of quarantining unparseable frontier entries.
    */
  def canonicalizeUrl(raw: String): String = {
    val sep = raw.indexOf("://")
    if (sep < 0) return raw
    val scheme = raw.substring(0, sep).toLowerCase(java.util.Locale.ROOT)
    var rest = raw.substring(sep + 3)
    // fragment first: everything after the first '#' is client-side
    val hash = rest.indexOf('#')
    if (hash >= 0) rest = rest.substring(0, hash)
    val q = rest.indexOf('?')
    val query = if (q >= 0) rest.substring(q + 1) else ""
    val hostPath = if (q >= 0) rest.substring(0, q) else rest
    val slash = hostPath.indexOf('/')
    val authority = if (slash >= 0) hostPath.substring(0, slash) else hostPath
    val rawPath = if (slash >= 0) hostPath.substring(slash) else ""
    // userinfo drops entirely (crawl convention: credentials never key a
    // frontier); IPv6 literals keep their brackets and split the port at
    // "]:", not at the address's own colons
    val auth0 = authority.substring(authority.lastIndexOf('@') + 1)
    val (hostRaw, port) = splitHostPort(auth0)
    var host = normPct(hostRaw).toLowerCase(java.util.Locale.ROOT)
    // strip ALL leading www. labels, not one: a single strip would make
    // canonicalization non-idempotent on stacked aliases
    // (canon("www.www.x") -> "www.x" -> a second pass changes it again)
    while (host.startsWith("www.")) host = host.substring(4)
    val portPart =
      if (port.isEmpty || port == defaultPort(scheme)) "" else s":$port"
    // dot-segment + empty-segment resolution (RFC 3986 §5.2.4, with the
    // crawl conventions: drop empty segments, no trailing slash).
    // Percent-normalize BEFORE resolving: a "%2E%2E" segment decodes to
    // ".." and must collapse here, or a second canonicalization pass
    // would see a fresh dot-segment and the function would lose
    // idempotence.
    val segs = scala.collection.mutable.ArrayBuffer.empty[String]
    normPct(rawPath).split('/').foreach {
      case "" | "."  => ()
      case ".."      => if (segs.nonEmpty) segs.remove(segs.length - 1)
      case s         => segs += s
    }
    val pathPart = if (segs.isEmpty) "" else segs.mkString("/", "/", "")
    // query: drop tracking params, then byte-order the surviving "k=v"
    // strings — the DEFINED canonical order (deterministic and cheap; it
    // is NOT key-major in general, e.g. "a0=1" sorts before "a=2" because
    // '0' < '=', and no consumer may assume otherwise)
    // percent-normalize before the param split: a decoded octet is never
    // '&' or '=' (neither is unreserved), so param structure is stable,
    // and an encoded tracking key ("utm%5Fsource") decodes before the
    // blocklist check
    val params = normPct(query).split('&').iterator.filter(_.nonEmpty).filterNot { p =>
      val key = p.takeWhile(_ != '=').toLowerCase(java.util.Locale.ROOT)
      key.startsWith("utm_") || trackingKeys(key)
    }.toSeq.sorted
    val queryPart = if (params.isEmpty) "" else params.mkString("?", "&", "")
    s"$scheme://$host$portPart$pathPart$queryPart"
  }

  /** Resolve an href against a CANONICAL base URL (RFC 3986 §5 reference
    * resolution over the crawl cases), then canonicalize the result.
    * Absolute hierarchical hrefs stand alone; `//host/..` inherits the
    * base scheme; `/path` keeps the authority; `?q` keeps the base path;
    * a bare relative path merges with the base path's directory (the
    * canonicalizer collapses any resulting dot-segments). None for the
    * hrefs a frontier never enqueues: empty, fragment-only, and
    * non-hierarchical schemes (`mailto:`, `javascript:`, `data:`).
    */
  private[graft] def resolveHref(baseCanon: String, href: String): Option[String] = {
    val h = href.trim
    if (h.isEmpty || h.startsWith("#")) return None
    // a scheme prefix ends at the first ':' and is ALPHA *(alnum/+/-/.)
    val colon = h.indexOf(':')
    val hasScheme = colon > 0 && Character.isLetter(h.charAt(0)) && {
      var ok = true
      var i = 1
      while (ok && i < colon) {
        val c = h.charAt(i)
        ok = Character.isLetterOrDigit(c) || c == '+' || c == '-' || c == '.'
        i += 1
      }
      ok
    }
    if (hasScheme) {
      return if (h.regionMatches(colon, "://", 0, 3)) Some(canonicalizeUrl(h))
      else None // mailto:, javascript:, data:, tel: — not fetchable
    }
    val sep = baseCanon.indexOf("://")
    if (sep < 0) return None // opaque base: nothing to resolve against
    val scheme = baseCanon.substring(0, sep)
    val rest = baseCanon.substring(sep + 3)
    val cut = {
      val sl = rest.indexOf('/')
      val qm = rest.indexOf('?')
      if (sl < 0) qm else if (qm < 0) sl else math.min(sl, qm)
    }
    val authority = if (cut < 0) rest else rest.substring(0, cut)
    val afterAuth = if (cut < 0) "" else rest.substring(cut)
    val qm2 = afterAuth.indexOf('?')
    val basePath = if (qm2 < 0) afterAuth else afterAuth.substring(0, qm2)
    if (h.startsWith("//")) Some(canonicalizeUrl(scheme + ":" + h))
    else if (h.startsWith("/")) Some(canonicalizeUrl(s"$scheme://$authority$h"))
    else if (h.startsWith("?"))
      Some(canonicalizeUrl(s"$scheme://$authority$basePath$h"))
    else {
      val dir = basePath.lastIndexOf('/') match {
        case -1 => "/"
        case p  => basePath.substring(0, p + 1)
      }
      Some(canonicalizeUrl(s"$scheme://$authority$dir$h"))
    }
  }

  /** The synthesized raw URL: identity dims from `id % 100` (scheme
    * choice, site, page, q param), variance dims from the full id —
    * eight independent spelling axes (incl. two percent-encoded ones)
    * over the same canonical resource. Deterministic in doc_id so the
    * oracle rebuilds it byte-for-byte.
    */
  private[graft] def buildUrl(id: Long): String = {
    val k = id % 100
    val https = k % 2 == 0
    val scheme = (id % 3) match {
      case 0 => if (https) "https" else "http"
      case 1 => if (https) "HTTPS" else "HTTP"
      case _ => if (https) "Https" else "Http"
    }
    val www = if (id % 2 == 0) "www." else ""
    val host = (id % 5) match {
      case 0 => s"SITE${k % 7}.EXAMPLE.COM"
      case 1 => s"Site${k % 7}.Example.Com"
      case _ => s"site${k % 7}.example.com"
    }
    val port = if (id % 4 == 0) { if (https) ":443" else ":80" } else ""
    val path = (id % 7) match {
      case 0 => s"/a/b$k/"
      case 1 => s"/a/./b$k"
      case 2 => s"/a/x/../b$k/"
      case 3 => s"/./a/b$k"
      case 4 => s"/a//b$k"
      case 5 => s"/a/b$k/c/.."
      case _ => s"/a/b$k"
    }
    // percent-encoding variance: both spellings decode to unreserved
    // octets, so the canonical form (and the x44 path identity) is
    // untouched — the decode rule fires corpus-wide, the uppercase-hex
    // rule on SURVIVING reserved triplets is spec-pinned on crafted
    // inputs (a surviving triplet would have to join the identity dims)
    val pathEnc = if (id % 11 == 0) path.replace("/a/", "/%61/") else path
    val qreal =
      if (id % 2 == 0) s"q=${k % 11}&lang=en" else s"lang=en&q=${k % 11}"
    val junk = (id % 3) match {
      case 0 => s"&utm${if (id % 2 == 0) "%5F" else "_"}source=s${id % 9}"
      case 1 => "&ref=tw"
      case _ => ""
    }
    val frag = if (id % 2 == 1) s"#sec${id % 4}" else ""
    s"$scheme://$www$host$port$pathEnc?$qreal$junk$frag"
  }

  // NOT private: the encoder's generated serializer calls the accessors
  // from Janino-compiled code in another package — a private case class
  // makes them private too, silently dropping the whole projection to
  // interpreter mode ("Expr codegen error and falling back")
  case class UrlRow(doc_id: Long, url: String, canon_url: String)

  /** x44's per-domain robots rules — ONE Scala definition interpolated
    * into the oracle (the x42 blocklist convention). Synthesized like the
    * URLs themselves: every site disallows the path prefix of its own
    * site-number page family and re-allows the doubled-digit subfamily,
    * so the longest-match override rule fires corpus-wide in both
    * directions. (prefix, allow) pairs; domains absent from the map are
    * unrestricted — the REP default.
    */
  private[graft] val robotsRules: Map[String, Seq[(String, Boolean)]] =
    (0 until 7).map { s =>
      s"site$s.example.com" -> Seq(
        (s"/a/b$s", false),                   // Disallow: /a/b<s>
        (s"/a/b$s${(s + 1) % 10}", true))     // Allow: longer -> overrides
      // the digit pair is chosen so BOTH directions fire on the
      // synthesized corpus: plenty of page families hit the disallow
      // (k's leading digit == k%7), and the k=23 family hits the allow
      // override (23%7=2, path /a/b23, allow prefix /a/b23 beats /a/b2)
    }.toMap

  /** REP longest-match verdict for one (domain, path): among the
    * domain's rules whose prefix matches the path, the LONGEST prefix
    * wins; equal lengths resolve to allow (Google's REP tie rule); no
    * matching rule — or no rules for the domain — allows. Returns the
    * winning rule's prefix ('' when none matched) plus the verdict.
    */
  private[graft] def robotsVerdict(domain: String,
                                   path: String): (String, Boolean) =
    repMatch(robotsRules.getOrElse(domain, Nil), path)

  /** The pure REP matcher over one domain's (prefix, allow) rules —
    * injectable so the tie semantics are spec-pinned on crafted rule
    * sets the synthesized map never contains.
    */
  private[graft] def repMatch(rules: Seq[(String, Boolean)],
                              path: String): (String, Boolean) = {
    val matches = rules.filter { case (prefix, _) => path.startsWith(prefix) }
    if (matches.isEmpty) ("", true)
    else {
      // longest prefix wins; among equal lengths, allow wins (REP)
      val (prefix, allow) =
        matches.maxBy { case (p, a) => (p.length, a) }
      (prefix, allow)
    }
  }

  /** x44: the robots-exclusion gate — the third leg of the frontier
    * stack (x42 content blocklists, x43 canonicalization, x44 REP):
    * each document's canonical URL is split into (domain, path) and
    * gated by its domain's robots rules under the REP longest-match
    * algorithm. One narrow pass (the rules ride the closure as a tiny
    * broadcast constant — at fleet scale, a broadcast frame keyed on
    * domain joined before a codegen prefix evaluation); no shuffle
    * beyond the ordered output.
    */
  def robotsGate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"))
      .as[Long]
      .mapPartitions(_.map { id =>
        val canon = canonicalizeUrl(buildUrl(id))
        val (domain, path) = canonDomainPath(canon)
        val (rule, allowed) = robotsVerdict(domain, path)
        (id, domain, path, rule, allowed)
      })
      .toDF("doc_id", "domain", "path", "matched_rule", "allowed")
      .orderBy("doc_id")
  }

  /** The robots identity of a CANONICAL url: (bare host, path before the
    * query). Rules key on the bare host — a canonical non-default port is
    * not part of the robots identity. Shared by the x44 gate, the p2
    * composed pipeline and the streaming frontier twin.
    */
  private[graft] def canonDomainPath(canon: String): (String, String) = {
    val sep = canon.indexOf("://")
    // schemeless/opaque form (live streams see arbitrary input; the
    // canonicalizer degrades rather than throws): no robots identity —
    // no domain means no rules, and REP's default is allow
    if (sep < 0) return ("", canon)
    val rest = canon.substring(sep + 3)
    val slash = rest.indexOf('/')
    val authority = if (slash >= 0) rest.substring(0, slash) else rest
    val domain = stripPort(authority)
    val afterHost = if (slash >= 0) rest.substring(slash) else ""
    val q = afterHost.indexOf('?')
    val path = if (q >= 0) afterHost.substring(0, q) else afterHost
    (domain, path)
  }

  /** x47's per-domain politeness delays — the Crawl-delay face of the
    * robots convention: ONE Scala definition interpolated into the
    * oracle (the x42/x44 discipline). Synthesized per site so the delay
    * axis varies corpus-wide; domains absent from the map fetch at the
    * default cadence.
    */
  private[graft] val crawlDelayMs: Map[String, Long] =
    (0 until 7).map(s => s"site$s.example.com" -> 250L * (s + 1)).toMap
  private[graft] val defaultCrawlDelayMs: Long = 1000L

  /** x47: crawl-frontier politeness scheduling — the stage between the
    * frontier dedup and the fetcher fleet: the fetchable work-list (x43's
    * canonical keepers restricted to x44-ALLOWED copies, p2's staged
    * keeper) is sequenced per domain under its Crawl-delay — slot k of a
    * domain fetches at (k-1)·delay, one in-flight request per host (the
    * politeness contract every crawler honors). Deterministic: slots
    * order by doc_id inside the domain.
    *
    * Scale shape: ONE narrow kernel pass (canonicalize + REP, the x44
    * fuse), one hash exchange on the canonical key for the keeper
    * window, one on the domain for the slot window — at fleet scale the
    * domain IS the work-queue partition key (each fetcher owns domains,
    * so the schedule is embarrassingly parallel across hosts), and the
    * delay map is a broadcast frame keyed on domain.
    */
  def crawlSchedule(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val delayExpr = crawlDelayMs.foldLeft(lit(defaultCrawlDelayMs)) {
      case (acc, (d, ms)) => when(col("domain") === lit(d), lit(ms)).otherwise(acc)
    }
    Tables.documents(spark, dir)
      .select(col("doc_id"))
      .as[Long]
      .mapPartitions(_.map { id =>
        val canon = canonicalizeUrl(buildUrl(id))
        val (domain, path) = canonDomainPath(canon)
        val allowed = robotsVerdict(domain, path)._2
        (id, canon, domain, allowed)
      })
      .toDF("doc_id", "canon_url", "domain", "allowed")
      .withColumn("keep_id",
        min(when(col("allowed"), col("doc_id")))
          .over(Window.partitionBy(col("canon_url"))))
      .filter(col("allowed") && col("doc_id") === col("keep_id"))
      .withColumn("slot",
        row_number().over(
          Window.partitionBy(col("domain")).orderBy(col("doc_id")))
          .cast("long"))
      .withColumn("delay_ms", delayExpr)
      .withColumn("scheduled_ms", (col("slot") - 1) * col("delay_ms"))
      .select(col("doc_id"), col("domain"), col("canon_url"), col("slot"),
        col("delay_ms"), col("scheduled_ms"))
      .orderBy("doc_id")
  }

  /** x43: per-document raw + canonical URL with the frontier-dedup
    * verdict — keeper (smallest doc_id in the canonical group), copy
    * count, and the is_canonical flag a fetch queue filters on.
    */
  def urlCanonicalize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy(col("canon_url"))
    Tables.documents(spark, dir)
      .select(col("doc_id"))
      .as[Long]
      .mapPartitions(_.map { id =>
        val raw = buildUrl(id)
        UrlRow(id, raw, canonicalizeUrl(raw))
      })
      .toDF()
      .withColumn("keep_id", min(col("doc_id")).over(w))
      .withColumn("n_copies", count(lit(1)).over(w))
      .select(col("doc_id"), col("url"), col("canon_url"),
        col("keep_id"), (col("doc_id") === col("keep_id")).as("is_canonical"),
        col("n_copies"))
      .orderBy("doc_id")
  }
}
