package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.expr.LinkFuncs
import graft.services.PageFetcher

/** IR-page discovery (reference src/scrapers/find_IR_pgs_v1.py:248-519):
  * for each company website, a cascade of probe strategies —
  *
  *   1. subdomain probe:  investors.example.com, ir.example.com, …
  *   2. path probe:       example.com/investors, /investor-relations, …
  *   3. homepage scan:    follow the best investor-ish link
  *
  * Each stage only runs for companies the previous stage failed
  * (`coalesce` of strategies, SURVEY §3 honorable mention). Probes are
  * scored with the IR-indicator keyword score (A5) and guarded by the
  * login/error-URL skip list (P10) and redirect-domain rule (P15).
  */
object Discovery {

  /** Subdomain prefixes probed, in priority order. */
  val subdomains: Seq[String] = Seq("investors", "investor", "ir")

  /** Paths probed on the main domain, in priority order. */
  val paths: Seq[String] =
    Seq("/investors", "/investor-relations", "/investor", "/ir")

  /** URL substrings that mark a probe result as a login/error page
    * (reference :64-81).
    */
  val skipPatterns: Seq[String] =
    Seq("login", "signin", "sign-in", "404", "error", "notfound",
        "not-found", "search?", "cookie", "privacy", "terms")

  private def hostOf(url: String): String = {
    val h = graft.expr.UrlKernels.host(url)
    if (h == null) "" else h.stripPrefix("www.")
  }

  /** Hosts with any of these substrings are investor-ish, exempt from
    * the same-domain redirect rule (reference find_IR_pgs_v1.py:94).
    */
  val investorMarkers: Seq[String] = Seq("investor", "ir", "pginvestor")

  /** P15 full redirect-domain rule (reference find_IR_pgs_v1.py:89-95):
    * a post-redirect host is acceptable iff it contains the company's
    * own host OR an investor-ish marker. Substring containment on both
    * sides, exactly like the reference — quirks (e.g. 'ir' matching
    * anywhere in the host) included. An empty own-host skips the check,
    * mirroring the reference's `if company_name:` guard.
    */
  def redirectHostOk(finalHost: String, ownHost: String): Boolean = {
    val fh = Option(finalHost).getOrElse("").toLowerCase
    val oh = Option(ownHost).getOrElse("").toLowerCase
    oh.isEmpty || fh.contains(oh) || investorMarkers.exists(fh.contains)
  }

  final case class Probe(ticker: String, company: String, website: String,
                         candidate: String, priority: Int)
  final case class Scored(ticker: String, company: String, website: String,
                          ir_url: String, priority: Int, score: Int)

  /** IR-page discovery scoring (SURVEY A5/P15); same JS-rendering
    * seam as [[Crawl.crawl]] — pass a rendering [[PageFetcher]] for
    * JS-shell sites.
    *
    * @param companies DataFrame(ticker, company, website)
    * @return DataFrame(ticker, company, website, ir_url, status) — one
    *         row per input company, status ∈ {Found, Not Found}.
    */
  def discover(spark: SparkSession, companies: DataFrame,
               fetcher: PageFetcher, minScore: Int = 2): DataFrame = {
    import spark.implicits._

    val base = companies.select(col("ticker"), col("company"), col("website"))

    // candidate URL per (company, strategy, variant), priority encodes
    // the cascade order so earlier strategies win ties
    val candidates = base.as[(String, String, String)].flatMap {
      case (ticker, company, website) =>
        val host = hostOf(website)
        val subs = subdomains.zipWithIndex.map { case (s, i) =>
          Probe(ticker, company, website, s"https://$s.$host", i) }
        val pths = paths.zipWithIndex.map { case (p, i) =>
          Probe(ticker, company, website, s"https://$host$p", subdomains.size + i) }
        subs ++ pths
    }

    // fetch + score: one fetcher per partition; cheap guards first.
    // A redirect-aware fetcher reports the final URL, which the
    // reference re-checks against both the skip patterns (:80) and the
    // P15 redirect-domain rule (:89-95).
    val scored = candidates
      .mapPartitions { it =>
        it.flatMap { p =>
          if (skipPatterns.exists(p.candidate.toLowerCase.contains)) None
          else {
            val fetched = fetcher match {
              case rf: graft.services.RedirectingPageFetcher =>
                rf.fetchFinal(p.candidate)
              case f => f.fetch(p.candidate).map(html => (p.candidate, html))
            }
            fetched
              .filterNot { case (finalUrl, _) =>
                skipPatterns.exists(finalUrl.toLowerCase.contains) }
              .filter { case (finalUrl, _) =>
                redirectHostOk(hostOf(finalUrl), hostOf(p.website)) }
              .map { case (finalUrl, html) =>
                (p.ticker, p.company, p.website, finalUrl, p.priority, html) }
          }
        }
      }
      .toDF("ticker", "company", "website", "ir_url", "priority", "html")
      .filter(LinkFuncs.irIndicatorScore(
        graft.html.HtmlFuncs.clean_html(col("html")),
        regexp_extract(col("html"), "<title>([^<]*)</title>", 1)) >= minScore)
      .select(col("ticker"), col("company"), col("website"),
        col("ir_url"), col("priority"))

    // cascade coalesce: best (lowest-priority) surviving probe per company
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("ticker")).orderBy(col("priority"), col("ir_url"))
    val found = scored
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("ticker"), col("ir_url"))

    base.join(found, Seq("ticker"), "left")
      .withColumn("status",
        when(col("ir_url").isNotNull, "Found").otherwise("Not Found"))
      .withColumn("ir_url", coalesce(col("ir_url"), lit("")))
  }

  /** URL substrings that mark a sitemap loc as an IR-page candidate —
    * the same investor-ish vocabulary the probe cascade and P15 use.
    */
  private val irUrlMarkers =
    Seq("investor", "shareholder", "/ir/", "ir.", "financial", "earnings")

  /** Sitemap-seeded discovery — the push-side alternative to the probe
    * cascade: instead of fetching |subdomains| + |paths| speculative
    * URLs per company, fetch the company's robots.txt, follow its
    * `Sitemap:` URLs (plus the conventional `/sitemap.xml` fallback),
    * and score only the locs whose URL already looks investor-ish.
    * Candidates then pass through the SAME fetch + indicator-score +
    * cascade-pick tail as [[discover]] (priority = sitemap position,
    * so earlier-listed pages win ties). At fleet scale this is the
    * difference between ~20 speculative fetches per company and
    * 2 + |IR-looking locs| — and the sitemap is the site's OWN claim
    * about what exists, so the miss rate is structural, not guessed.
    *
    * `<sitemapindex>` nesting is walked breadth-first to `maxDepth`
    * levels of children under one per-company `sitemapFetchBudget`
    * (real hosts nest indexes more than one level; an adversarial host
    * could nest forever — the budget bounds fetch cost either way).
    * Every fetch beyond robots.txt itself is gated by the host's
    * robots rules with the kernel's fail-open-on-missing-file
    * semantics (RFC 9309 §2.3.1.4): the conventional `/sitemap.xml`
    * fallback, each child sitemap, and each page candidate —
    * robots-DECLARED `Sitemap:` URLs are the host's own instruction
    * to fetch and are not re-gated.
    */
  def discoverFromSitemaps(spark: SparkSession, companies: DataFrame,
                           fetcher: PageFetcher, minScore: Int = 2,
                           maxCandidates: Int = 8,
                           robotsAgent: String = "graftbot",
                           maxDepth: Int = 2,
                           sitemapFetchBudget: Int = 64): DataFrame = {
    import spark.implicits._
    val base = companies.select(col("ticker"), col("company"), col("website"))

    val candidates = base.as[(String, String, String)].mapPartitions { it =>
      it.flatMap { case (ticker, company, website) =>
        val host = hostOf(website)
        val robots = fetcher.fetch(s"https://$host/robots.txt")
        // robots rules are PER HOST (RFC 9309): the body we hold
        // speaks only for `host`, so gate same-host URLs by it and
        // fail OPEN for cross-host locs (CDN-hosted child sitemaps,
        // off-site IR portals) — we hold no rules for those hosts,
        // and applying this host's paths to them would be both a miss
        // source and a politeness error in the other direction
        def robotsOk(u: String) =
          hostOf(u) != host ||
            graft.expr.RobotsKernels.allowed(robots.orNull, robotsAgent, u)
        val declared = robots.toSeq.flatMap(r =>
          graft.expr.RobotsKernels.sitemapUrls(r).toSeq)
        val roots = (declared ++
          Seq(s"https://$host/sitemap.xml").filter(robotsOk)).distinct
        // breadth-first sitemap-index walk: kind="sitemap" locs are
        // child sitemaps, kind="url" locs are pages; depth- and
        // budget-bounded, children robots-gated before fetching
        val pages = scala.collection.mutable.ArrayBuffer
          .empty[graft.expr.SitemapKernels.Entry]
        val seen = scala.collection.mutable.HashSet.empty[String]
        var frontier = roots
        var depth = 0
        var budget = sitemapFetchBudget
        while (frontier.nonEmpty && depth <= maxDepth && budget > 0) {
          val children = scala.collection.mutable.ArrayBuffer.empty[String]
          frontier.foreach { u =>
            if (budget > 0 && seen.add(u)) {
              budget -= 1
              val entries = fetcher.fetch(u).toSeq
                .flatMap(graft.expr.SitemapKernels.entries)
              pages ++= entries.filter(_.kind == "url")
              children ++= entries.filter(_.kind == "sitemap").map(_.loc)
            }
          }
          frontier = children.distinct.filter(robotsOk).toSeq
          depth += 1
        }
        val locs = pages.map(_.loc).toSeq
        locs.filter(l => irUrlMarkers.exists(l.toLowerCase.contains))
          // the robots body is already in hand — same-host candidates
          // its rules disallow are never fetched (fails open on a
          // missing file and on cross-host locs, the RFC 9309
          // §2.3.1.4 rule + per-host rule scoping)
          .filter(robotsOk)
          .distinct.take(maxCandidates).zipWithIndex
          .map { case (loc, i) => Probe(ticker, company, website, loc, i) }
      }
    }

    val scored = candidates
      .mapPartitions { it =>
        it.flatMap { p =>
          if (skipPatterns.exists(p.candidate.toLowerCase.contains)) None
          else fetcher.fetch(p.candidate).map(html =>
            (p.ticker, p.company, p.website, p.candidate, p.priority, html))
        }
      }
      .toDF("ticker", "company", "website", "ir_url", "priority", "html")
      .filter(LinkFuncs.irIndicatorScore(
        graft.html.HtmlFuncs.clean_html(col("html")),
        regexp_extract(col("html"), "<title>([^<]*)</title>", 1)) >= minScore)
      .select(col("ticker"), col("ir_url"), col("priority"))

    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("ticker")).orderBy(col("priority"), col("ir_url"))
    val found = scored
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("ticker"), col("ir_url"))

    base.join(found, Seq("ticker"), "left")
      .withColumn("status",
        when(col("ir_url").isNotNull, "Found").otherwise("Not Found"))
      .withColumn("ir_url", coalesce(col("ir_url"), lit("")))
  }
}
