package graft.pipeline

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.expr.{CrawlPolicyFuncs, LinkFuncs, UrlFuncs}
import graft.html.HtmlFuncs
import graft.services.PageFetcher

/** The BFS crawl (reference src/enhanced_selenium_scraper.py:710-785)
  * as an iterative dataflow: a driver-side loop of bounded depth where
  * each iteration is one distributed job —
  *
  *   frontier →(mapPartitions fetch, one client per partition)→ pages
  *           →(ExtractLinks generator + resolve/classify projection)→ links
  *
  * The next frontier is the reference's "promising links" top-5 per
  * company (score desc), anti-joined against visited URLs. Each depth's
  * `links` and each next frontier are `localCheckpoint`ed: no page is
  * fetched twice, and lineage stays bounded as depth grows — the loop
  * works at any depth, not just the reference's 2. The seed frontier
  * is not checkpointed (it is the caller's small seed relation, fetched
  * once, by the depth-0 links checkpoint), and neither is the visited
  * set: it is only the anti-join side of the next frontier, a lazy
  * union of the seed frontier and the checkpointed frontiers. The loop
  * stops on an empty frontier without a probe job: the frontier's
  * checkpoint carries an [[org.apache.spark.sql.Observation]] row
  * count, read on the driver once the checkpoint has run.
  *
  * Cheap filters (excluded domains, visited anti-join, internal-only)
  * run BEFORE the expensive fetch — the manual predicate-pushdown the
  * reference does by hand (:661-666, :745-751) is preserved because the
  * fetch sits behind a mapPartitions barrier Catalyst won't cross.
  */
object Crawl {

  final case class Page(company: String, url: String, depth: Int, html: String)

  /** @param seeds DataFrame(company, url) — one IR seed page per company.
    * @param promisingAtAllDepths the reference extends the frontier ONLY
    *   from depth-0 pages (`if depth == 0:`,
    *   src/enhanced_selenium_scraper.py:739-751), so deeper pages are
    *   leaves; `false` (default) reproduces that. `true` generalizes to
    *   a full bounded BFS that keeps extending from promising pages at
    *   every depth < maxDepth.
    * @param canonicalizeVisited key the visited set on
    *   [[UrlFuncs.canonical_url]] instead of the raw href, so tracking
    *   params / case noise / dot-segment spellings of an already-seen
    *   page cannot re-enter the frontier. `false` (default) is
    *   reference fidelity (its visited set is raw strings,
    *   src/enhanced_selenium_scraper.py:712-737); `true` is what a
    *   crawl at scale wants — the frontier still fetches the ORIGINAL
    *   href (servers may key on params), only the seen-key changes.
    * @param robots optional politeness table `(host, robots_txt)` — one
    *   row per hostname. When set, every frontier URL (seeds included)
    *   is gated by [[graft.expr.RobotsKernels]]' RFC 9309 verdict for
    *   `robotsAgent` BEFORE it is fetched. The table is tiny by
    *   construction (one row per crawled host), so the gate is a
    *   broadcast join + codegen filter — no extra shuffle on the
    *   frontier. Hosts absent from the table fail OPEN (RFC 9309
    *   §2.3.1.4's unreachable-robots rule). `None` (default) is
    *   reference fidelity: the scraper never consults robots.txt.
    *
    * PRODUCTION SEAM — JS rendering: the shipped
    * [[graft.services.HttpPageFetcher]] fetches raw HTTP bytes; the
    * reference renders pages in a real browser, so JS-shell IR sites
    * (most of them) yield far fewer links through the raw fetcher.
    * [[PageFetcher]] is the one-method seam: wrap a headless browser
    * (one per executor, `transient lazy val`) and pass it here — every
    * downstream operator is fetcher-agnostic. See README "Production
    * backends" for the recipe; CrawlSpec's archive-replay identity
    * shows the contract any impl must meet.
    */
  def crawl(spark: SparkSession, seeds: DataFrame, fetcher: PageFetcher,
            maxDepth: Int = 2, topK: Int = 5,
            promisingAtAllDepths: Boolean = false,
            canonicalizeVisited: Boolean = false,
            robots: Option[DataFrame] = None,
            robotsAgent: String = "graftbot"): DataFrame =
    crawlPages(spark, seeds, fetcherSource(fetcher), maxDepth, topK,
      promisingAtAllDepths, canonicalizeVisited, robots, robotsAgent)

  /** Distributed archive-backed crawl replay: the SAME BFS over a
    * CDX-indexed WARC capture ([[graft.io.Warc.cdxIndex]]), with pages
    * recovered by ranged point reads ([[graft.io.Warc.fetchRecords]])
    * instead of live fetches. Per iteration the slim index joins the
    * broadcast frontier, one capture per frontier URL is picked
    * deterministically (earliest (file, offset) among 2xx HTML
    * responses), and only those members are read — fetch cost ∝ the
    * FRONTIER, not the archive, and page payloads never touch the
    * driver (the `Warc.pageMap` + `MapPageFetcher` replay collects
    * every page into the fetcher closure; this is its at-scale
    * replacement, the Common-Crawl-sized shape). Cache the index
    * DataFrame when replaying deep crawls — each depth re-reads it.
    */
  def crawlArchive(spark: SparkSession, seeds: DataFrame,
                   index: DataFrame,
                   maxDepth: Int = 2, topK: Int = 5,
                   promisingAtAllDepths: Boolean = false,
                   canonicalizeVisited: Boolean = false,
                   robots: Option[DataFrame] = None,
                   robotsAgent: String = "graftbot"): DataFrame =
    crawlPages(spark, seeds, archiveSource(index), maxDepth, topK,
      promisingAtAllDepths, canonicalizeVisited, robots, robotsAgent)

  /** frontier (company, url, depth) → pages (company, url, depth, html) */
  private type PageSource = (SparkSession, DataFrame) => DataFrame

  /** The live-fetch page source: one [[PageFetcher]] client per
    * partition (U7), fetches inside `mapPartitions` so cheap frontier
    * filters always run BEFORE the expensive fetch.
    */
  private def fetcherSource(fetcher: PageFetcher): PageSource =
    (s, frontier) => {
      import s.implicits._
      frontier
        .as[(String, String, Int)]
        .mapPartitions { it =>
          // one fetcher per partition ≈ one browser per worker (U7)
          it.flatMap { case (c, u, dep) =>
            fetcher.fetch(u).map(html => Page(c, u, dep, html))
          }
        }
        .toDF()
    }

  /** The archive page source behind [[crawlArchive]]. `index` is
    * [[graft.io.Warc.cdxIndex]] output (slim rows — no payloads). The
    * frontier is broadcast into the index scan; the distinct matched
    * (file, offset, length) units go through ranged reads; the
    * recovered records re-join the frontier on (file, offset) +
    * target-URI equality (multi-record gzip members share bounds, the
    * URI check keeps the right one).
    */
  private def archiveSource(index: DataFrame): PageSource =
    (s, frontier) => {
      val idx = index.filter(col("warc_type") === "response" &&
          col("http_status").between(200, 299) &&
          col("http_content_type").startsWith("text/html") &&
          col("uri").isNotNull)
        .select(col("uri"), col("file"), col("offset"), col("length"))
      // earliest capture per frontier row wins — archives hold
      // re-crawls of the same URI; the pick must be deterministic
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("company"), col("url"), col("depth"))
        .orderBy(col("file"), col("offset"))
      val picked = idx
        .join(broadcast(frontier.select(col("company"), col("url"),
          col("depth"))), col("uri") === col("url"))
        .withColumn("__rk", row_number().over(w))
        .filter(col("__rk") === 1)
        .select(col("company"), col("url"), col("depth"),
          col("file"), col("offset"), col("length"))
      val units = picked
        .select(col("file"), col("offset"), col("length")).distinct()
      val recs = graft.io.Warc.fetchRecords(s, units)
        .filter(col("warc_type") === "response" &&
          col("http_status").between(200, 299) &&
          col("http_content_type").startsWith("text/html") &&
          col("target_uri").isNotNull)
        .select(col("file"), col("offset"), col("target_uri"),
          col("content").cast("string").as("html"))
      picked
        .join(recs, Seq("file", "offset"))
        .filter(col("target_uri") === col("url"))
        .select(col("company"), col("url"), col("depth"), col("html"))
    }

  private def crawlPages(spark: SparkSession, seeds: DataFrame,
                         pageSource: PageSource,
                         maxDepth: Int, topK: Int,
                         promisingAtAllDepths: Boolean,
                         canonicalizeVisited: Boolean,
                         robots: Option[DataFrame],
                         robotsAgent: String): DataFrame = {
    def visitKey(url: org.apache.spark.sql.Column) =
      if (canonicalizeVisited) UrlFuncs.canonical_url(url) else url

    // RFC 9309 frontier gate: broadcast the per-host robots bodies in,
    // keep rows whose verdict is allowed-or-unknown, drop the joined
    // columns again. Identity when no robots table is supplied.
    val politeness: DataFrame => DataFrame = df => robots match {
      case None => df
      case Some(r) =>
        df.withColumn("__host", UrlFuncs.url_host(col("url")))
          .join(
            broadcast(r.select(lower(col("host")).as("__host"),
              col("robots_txt").as("__robots"))),
            Seq("__host"), "left")
          .filter(CrawlPolicyFuncs.robots_allowed_fail_open(
            col("__robots"), lit(robotsAgent), col("url")))
          .drop("__host", "__robots")
    }

    var frontier = politeness(
        seeds.select(col("company"), col("url")).withColumn("depth", lit(0)))
    var visited = frontier
      .select(col("company"), visitKey(col("url")).as("url"))
    // the seed frontier's size is not known without a job; depth 0
    // fetches whatever it holds, and an empty one yields no links
    var frontierNonEmpty = true
    var allLinks: DataFrame = null

    var depth = 0
    while (depth <= maxDepth && frontierNonEmpty) {
      val links = linksOf(pageSource(spark, frontier)).localCheckpoint()

      allLinks = if (allLinks == null) links
                 else allLinks.unionByName(links).dropDuplicates("company", "href")

      if (depth < maxDepth && (depth == 0 || promisingAtAllDepths)) {
        // promising-links frontier: internal, unexcluded, scored, top-K
        // per company (W1), minus already-visited (D2), robots-gated
        // before the checkpoint so its observed size is what is fetched
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("company"))
          .orderBy(col("score").desc, col("href"))
        val nextSize = Observation()
        val next = politeness(links
          .filter(col("link_type") === "internal")
          .filter(!LinkFuncs.isExcludedDomain(col("href")))
          .withColumn("score", LinkFuncs.quarterlyScore(
            col("full_html"), col("text"), col("title"), col("href")))
          .filter(col("score") > 0)
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= topK)
          .select(col("company"), col("href").as("url"),
            visitKey(col("href")).as("__vkey"))
          .join(visited.withColumnRenamed("url", "__vkey"),
            Seq("company", "__vkey"), "left_anti")
          // one frontier row per seen-key: two tracking-param variants
          // of the same page surviving the anti-join must not BOTH
          // fetch (raw hrefs are already unique per company, so the
          // default path skips the extra dedup shuffle)
          .transform(df => if (canonicalizeVisited)
            df.dropDuplicates("company", "__vkey") else df)
          .withColumn("depth", lit(depth + 1)))
          .observe(nextSize, count(lit(1)).as("n"))
          .localCheckpoint()
        frontierNonEmpty = nextSize.get("n").asInstanceOf[Long] > 0
        visited = visited.unionByName(
          next.select(col("company"), col("__vkey").as("url")))
        frontier = next.drop("__vkey")
      } else {
        frontierNonEmpty = false
      }
      depth += 1
    }

    // maxDepth < 0 fetches nothing: still the links schema, no rows
    if (allLinks == null) linksOf(pageSource(spark, frontier.limit(0)))
    else allLinks
  }

  /** pages (company, url, depth, html) → one row per (company, href):
    * the ExtractLinks generator plus the resolve/classify projection.
    */
  private def linksOf(pages: DataFrame): DataFrame =
    pages
      .select(col("company"), col("url").as("source_url"), col("depth"),
        HtmlFuncs.extract_links(col("html")).as(Seq("href", "text", "title", "full_html")))
      .withColumn("href", UrlFuncs.resolve_url(col("href"), col("source_url")))
      .filter(col("href").isNotNull)
      .withColumn("link_type", LinkFuncs.classifyLink(col("href"), col("source_url")))
      .withColumn("file_extension", LinkFuncs.extension(col("href")))
      .withColumn("document_type", LinkFuncs.documentType(col("file_extension")))
      .dropDuplicates("company", "href")

  /** Crawl counters (SURVEY A7): per-company pages visited and document
    * links found.
    */
  def crawlStats(links: DataFrame): DataFrame =
    links.groupBy(col("company")).agg(
      countDistinct(col("source_url")).as("urls_visited"),
      sum(when(col("link_type") === "document", 1).otherwise(0)).as("urls_found"))
}
