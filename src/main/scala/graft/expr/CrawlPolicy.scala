package graft.expr

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.{coalesce, lit}
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** robots.txt politeness — the admission-control side of the crawl the
  * reference runs without (its scraper fetches IR pages directly,
  * enhanced_selenium_scraper.py; at platform scale skipping robots is
  * not an option). RFC 9309 semantics:
  *
  *  - groups are runs of `User-agent:` lines followed by their rules;
  *    a `User-agent:` after rules starts a new group;
  *  - a crawler obeys the group(s) with the MOST SPECIFIC matching
  *    user-agent (longest case-insensitive product-token prefix);
  *    `*` groups apply only when no named group matches;
  *  - within the chosen rules, the LONGEST matching pattern wins;
  *    `Allow` wins a length tie; no match (or no group) = allowed;
  *  - patterns are path prefixes with `*` (any run) and a trailing
  *    `$` end anchor; an empty `Disallow:` allows everything.
  *
  * Parsing one robots file is cheap but evaluating millions of URLs
  * against the same few thousand domains' files must not re-parse per
  * row, so [[RobotsKernels.allowed]] runs through a per-thread
  * last-file memo — the crawl frontier is naturally grouped by host
  * (the fetch partitioner), making the hit rate ≈ 1.
  */
object RobotsKernels {
  /** allow? + pattern */
  private type Rule = (Boolean, String)
  /** (lowercased agent token → rules) resolved view of one file;
    * `delays` carries each group's `Crawl-delay:` seconds when present.
    */
  final case class Robots(groups: Vector[(String, Vector[Rule])],
                          sitemaps: Vector[String],
                          delays: Map[String, Double])

  def parse(txt: String): Robots = {
    val groups = ArrayBuffer.empty[(String, ArrayBuffer[Rule])]
    val sitemaps = ArrayBuffer.empty[String]
    val delays = scala.collection.mutable.Map.empty[String, Double]
    // agents being accumulated for the group whose rules come next
    var pendingAgents = List.empty[String]
    var openAgents = List.empty[String] // agents of the group receiving rules
    def ruleSinks(): List[ArrayBuffer[Rule]] = {
      if (pendingAgents.nonEmpty) {
        pendingAgents.foreach(a => groups += ((a, ArrayBuffer.empty[Rule])))
        openAgents = pendingAgents
        pendingAgents = Nil
      }
      if (openAgents.isEmpty) Nil
      else groups.takeRight(openAgents.size).map(_._2).toList
    }
    for (raw <- txt.linesIterator) {
      val line = { val h = raw.indexOf('#'); if (h >= 0) raw.take(h) else raw }
      val colon = line.indexOf(':')
      if (colon > 0) {
        val key = line.take(colon).trim.toLowerCase
        val value = line.drop(colon + 1).trim
        key match {
          case "user-agent" =>
            if (value.nonEmpty) pendingAgents ::= value.toLowerCase
          case "allow" | "disallow" =>
            val allow = key == "allow"
            // empty Disallow: = allow all — representable as a rule
            // that never matches, i.e. just skip it.
            if (value.nonEmpty) ruleSinks().foreach(_ += ((allow, value)))
            else ruleSinks() // still closes the pending agent run
          case "sitemap" => if (value.nonEmpty) sitemaps += value
          case "crawl-delay" =>
            ruleSinks() // closes a pending UA run like any rule
            try {
              val d = value.toDouble
              if (d >= 0) openAgents.foreach(a => delays(a) = d)
            } catch { case _: NumberFormatException => }
          case _ => ruleSinks() // any other directive ends a UA run
        }
      }
    }
    if (pendingAgents.nonEmpty) // trailing rule-less group(s)
      pendingAgents.foreach(a => groups += ((a, ArrayBuffer.empty[Rule])))
    Robots(groups.map { case (a, rs) => (a, rs.toVector) }.toVector,
      sitemaps.toVector, delays.toMap)
  }

  /** `*`-wildcard prefix match with optional trailing `$` anchor. */
  private[expr] def ruleMatches(pattern: String, path: String): Boolean = {
    val anchored = pattern.endsWith("$")
    val p = if (anchored) pattern.dropRight(1) else pattern
    // Iterative wildcard match: does p match a prefix of path
    // (the whole path when anchored)? Greedy '*' with backtracking.
    var pi = 0; var si = 0
    var starPi = -1; var starSi = -1
    while (si <= path.length) {
      if (pi < p.length && p.charAt(pi) == '*') {
        starPi = pi; pi += 1; starSi = si
      } else if (pi < p.length && si < path.length &&
                   p.charAt(pi) == path.charAt(si)) {
        pi += 1; si += 1
      } else if (pi == p.length) {
        // pattern consumed: prefix match is done unless anchored
        if (!anchored || si == path.length) return true
        if (starPi < 0) return false
        starSi += 1; pi = starPi + 1; si = starSi
        if (si > path.length) return false
      } else if (starPi >= 0 && starSi < path.length) {
        starSi += 1; pi = starPi + 1; si = starSi
      } else return false
    }
    false
  }

  /** Rules of the most specific matching group(s): longest agent token
    * that is a case-insensitive prefix of `agent`; `*` only as
    * fallback. Same-token groups combine (RFC 9309 §2.2.1).
    */
  private def rulesFor(r: Robots, agent: String): Vector[(Boolean, String)] = {
    val a = agent.toLowerCase
    val named = r.groups.filter { case (tok, _) => tok != "*" && a.startsWith(tok) }
    val chosen =
      if (named.nonEmpty) {
        val best = named.map(_._1.length).max
        named.filter(_._1.length == best)
      } else r.groups.filter(_._1 == "*")
    chosen.flatMap(_._2)
  }

  /** Longest-match verdict; Allow wins ties; default allowed. */
  def decide(r: Robots, agent: String, path: String): Boolean = {
    val p = if (path == null || path.isEmpty) "/" else path
    var bestLen = -1
    var bestAllow = true
    for ((allow, pat) <- rulesFor(r, agent)) {
      if (ruleMatches(pat, p)) {
        // Allow wins ties: longer pattern wins; equal length → allow
        if (pat.length > bestLen || (pat.length == bestLen && allow)) {
          bestLen = pat.length; bestAllow = allow
        }
      }
    }
    bestAllow
  }

  /** Per-thread memo of the last parsed file — the frontier is fetched
    * host-grouped, so consecutive rows overwhelmingly share one file.
    */
  private val lastParsed = new ThreadLocal[(String, Robots)]

  private def cached(txt: String): Robots = {
    val hit = lastParsed.get()
    if (hit != null && (hit._1 eq txt)) hit._2
    else if (hit != null && hit._1 == txt) hit._2
    else {
      val r = parse(txt)
      lastParsed.set((txt, r))
      r
    }
  }

  /** Kernel behind `robots_allowed(robots, agent, url_or_path)`:
    * a leading `/` means the input IS a path (doubled slashes inside
    * it are path content, not a scheme separator); otherwise the path
    * starts at the first `/` after the authority — `scheme://host`,
    * scheme-relative `//host`, and bare `host/path` all resolve.
    */
  def allowed(robotsTxt: String, agent: String, url: String): Boolean = {
    if (robotsTxt == null || url == null) return true
    val path =
      if (url.startsWith("/") && !url.startsWith("//")) url
      else {
        val schemeIdx = url.indexOf("://")
        val afterAuthority =
          if (schemeIdx >= 0) schemeIdx + 3
          else if (url.startsWith("//")) 2
          else 0
        val slash = url.indexOf('/', afterAuthority)
        if (slash < 0) "/" else url.substring(slash)
      }
    decide(cached(robotsTxt), if (agent == null) "*" else agent, path)
  }

  /** Kernel behind `robots_sitemaps(robots)`. */
  def sitemapUrls(robotsTxt: String): Array[String] =
    if (robotsTxt == null) Array.empty else cached(robotsTxt).sitemaps.toArray

  /** `Crawl-delay:` seconds of the most specific matching group (same
    * selection rule as [[decide]]), or null when the file declares
    * none — the per-host pacing input for the fetch rate limiter.
    */
  def crawlDelay(robotsTxt: String, agent: String): java.lang.Double = {
    if (robotsTxt == null) return null
    val r = cached(robotsTxt)
    val a = (if (agent == null) "*" else agent).toLowerCase
    val named = r.groups.map(_._1).distinct
      .filter(tok => tok != "*" && a.startsWith(tok))
    val chosen =
      if (named.nonEmpty) {
        val best = named.map(_.length).max
        named.filter(_.length == best)
      } else Vector("*")
    chosen.flatMap(t => r.delays.get(t)).headOption
      .map(Double.box).orNull
  }
}

/** Sitemap XML (sitemaps.org protocol) — the crawl's push-side frontier
  * seed: `<urlset><url><loc>…` leaf sitemaps and
  * `<sitemapindex><sitemap><loc>…` index files. Tag-level scan (the
  * HtmlKit approach), not a DOM parse: tolerant of namespace prefixes,
  * attribute noise, and truncation — crawled sitemaps are routinely all
  * three. CDATA and entity-decoded `&amp;` in `<loc>` handled.
  */
object SitemapKernels {
  final case class Entry(kind: String, loc: String, lastmod: String,
                         changefreq: String, priority: String)

  private def textOf(xml: String, start: Int, end: Int, tag: String): String = {
    // first <tag>…</tag> inside [start, end); namespace-prefix tolerant
    var i = start
    while (i >= 0 && i < end) {
      i = xml.indexOf('<', i)
      if (i < 0 || i >= end) return null
      val close = xml.indexOf('>', i)
      if (close < 0 || close >= end) return null
      val name = xml.substring(i + 1, close).takeWhile(c =>
        c != ' ' && c != '\t' && c != '\n' && c != '/')
      val local = { val c = name.indexOf(':'); if (c >= 0) name.drop(c + 1) else name }
      if (local.equalsIgnoreCase(tag)) {
        val endTag = xml.indexOf("</", close)
        if (endTag < 0 || endTag > end) return null
        var body = xml.substring(close + 1, endTag).trim
        if (body.startsWith("<![CDATA[") && body.endsWith("]]>"))
          body = body.substring(9, body.length - 3).trim
        return body.replace("&amp;", "&").replace("&lt;", "<")
          .replace("&gt;", ">").replace("&quot;", "\"").replace("&apos;", "'")
      }
      i = close + 1
    }
    null
  }

  /** All url/sitemap entries of one sitemap document, in order. */
  def entries(xml: String): Seq[Entry] = {
    if (xml == null) return Nil
    val out = ArrayBuffer.empty[Entry]
    for (kind <- Seq("url", "sitemap")) {
      var i = 0
      while (i >= 0) {
        // locate <url>/<sitemap> element opens (not urlset/sitemapindex)
        i = xml.indexOf('<', i)
        if (i < 0) ()
        else {
          val close = xml.indexOf('>', i)
          if (close < 0) i = -1
          else {
            val name = xml.substring(i + 1, close).takeWhile(c =>
              c != ' ' && c != '\t' && c != '\n' && c != '/')
            val local = { val c = name.indexOf(':'); if (c >= 0) name.drop(c + 1) else name }
            if (local.equalsIgnoreCase(kind)) {
              var endEl = xml.indexOf("</" + name, close)
              if (endEl < 0) endEl = xml.length
              val loc = textOf(xml, close + 1, endEl, "loc")
              if (loc != null && loc.nonEmpty)
                out += Entry(kind, loc,
                  textOf(xml, close + 1, endEl, "lastmod"),
                  textOf(xml, close + 1, endEl, "changefreq"),
                  textOf(xml, close + 1, endEl, "priority"))
              i = endEl
            } else i = close + 1
          }
        }
      }
    }
    out.toSeq
  }
}

/** `robots_allowed(robots_txt, agent, url)` — RFC 9309 verdict as a
  * codegen scalar. Standard null-in/null-out (a null operand yields
  * null); the fail-open rule for a MISSING robots file (RFC 9309
  * §2.3.1.4) composes as `coalesce(robots_allowed(r, a, u), true)` —
  * see [[CrawlPolicyFuncs.robots_allowed_fail_open]].
  */
case class RobotsAllowed(first: Expression, second: Expression,
                         third: Expression) extends TernaryExpression {
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = true
  override def prettyName: String = "robots_allowed"

  override def nullSafeEval(r: Any, a: Any, u: Any): Any =
    RobotsKernels.allowed(
      r.asInstanceOf[UTF8String].toString,
      a.asInstanceOf[UTF8String].toString,
      u.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (r, a, u) =>
      s"""${ev.value} = graft.expr.RobotsKernels.allowed(
         |  $r.toString(), $a.toString(), $u.toString());""".stripMargin)

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): RobotsAllowed =
    copy(first = f, second = s, third = t)
}

/** `robots_crawl_delay(robots_txt, agent)` — the matching group's
  * Crawl-delay seconds, null when undeclared (or null operands).
  */
case class RobotsCrawlDelay(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "robots_crawl_delay"
  override def nullSafeEval(r: Any, a: Any): Any = {
    val d = RobotsKernels.crawlDelay(
      r.asInstanceOf[UTF8String].toString, a.asInstanceOf[UTF8String].toString)
    if (d == null) null else d.doubleValue()
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (r, a) => {
      val d = ctx.freshName("delay")
      s"""java.lang.Double $d = graft.expr.RobotsKernels.crawlDelay(
         |  $r.toString(), $a.toString());
         |if ($d == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $d.doubleValue(); }""".stripMargin
    })
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): RobotsCrawlDelay =
    copy(left = l, right = r)
}

/** `robots_sitemaps(robots_txt)` — the file's Sitemap: URLs. */
case class RobotsSitemaps(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "robots_sitemaps"
  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      RobotsKernels.sitemapUrls(input.asInstanceOf[UTF8String].toString)
        .map(UTF8String.fromString(_)).asInstanceOf[Array[Any]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val arr = ctx.freshName("urls")
      val out = ctx.freshName("utf8")
      s"""String[] $arr = graft.expr.RobotsKernels.sitemapUrls($c.toString());
         |Object[] $out = new Object[$arr.length];
         |for (int i = 0; i < $arr.length; i++) {
         |  $out[i] = UTF8String.fromString($arr[i]);
         |}
         |${ev.value} =
         |  new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
  override protected def withNewChildInternal(c: Expression): RobotsSitemaps =
    copy(child = c)
}

/** `extract_sitemap(xml)` — generator of (kind, loc, lastmod,
  * changefreq, priority) rows, one per `<url>`/`<sitemap>` element.
  */
case class ExtractSitemap(child: Expression)
    extends UnaryExpression with Generator with CodegenFallback {
  override def elementSchema: StructType = StructType(Seq(
    StructField("kind", StringType, nullable = false),
    StructField("loc", StringType, nullable = false),
    StructField("lastmod", StringType, nullable = true),
    StructField("changefreq", StringType, nullable = true),
    StructField("priority", StringType, nullable = true)))
  override def prettyName: String = "extract_sitemap"
  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = child.eval(input)
    if (v == null) Nil
    else SitemapKernels.entries(v.asInstanceOf[UTF8String].toString).map { e =>
      InternalRow(UTF8String.fromString(e.kind), UTF8String.fromString(e.loc),
        if (e.lastmod == null) null else UTF8String.fromString(e.lastmod),
        if (e.changefreq == null) null else UTF8String.fromString(e.changefreq),
        if (e.priority == null) null else UTF8String.fromString(e.priority))
    }
  }
  override protected def withNewChildInternal(c: Expression): ExtractSitemap =
    copy(child = c)
}

object CrawlPolicyFuncs {
  def robots_allowed(robots: Column, agent: Column, url: Column): Column =
    ColumnBridge.column(RobotsAllowed(ColumnBridge.expression(robots),
      ColumnBridge.expression(agent), ColumnBridge.expression(url)))
  /** RFC 9309 verdict, failing OPEN on a null/missing robots file
    * (§2.3.1.4's unreachable-robots rule): the crawl frontier's gate. */
  def robots_allowed_fail_open(robots: Column, agent: Column,
                               url: Column): Column =
    coalesce(robots_allowed(robots, agent, url), lit(true))
  def robots_sitemaps(robots: Column): Column =
    ColumnBridge.column(RobotsSitemaps(ColumnBridge.expression(robots)))
  def robots_crawl_delay(robots: Column, agent: Column): Column =
    ColumnBridge.column(RobotsCrawlDelay(
      ColumnBridge.expression(robots), ColumnBridge.expression(agent)))
  def extract_sitemap(xml: Column): Column =
    ColumnBridge.column(ExtractSitemap(ColumnBridge.expression(xml)))
}
