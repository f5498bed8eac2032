package graft.pipeline

import graft.SparkTestBase
import graft.services.MapPageFetcher
import org.apache.spark.sql.functions._

class CrawlSpec extends SparkTestBase {
  import spark.implicits._

  val base = "https://ir.corp.com"
  val pages = Map(
    s"$base/index.html" ->
      """<html><body>
        |<a href="/docs/annual-report-2024.pdf">Annual Report</a>
        |<a href="/quarterly-earnings">Quarterly earnings</a>
        |<a href="/investor/results">Financial results</a>
        |<a href="https://app.q4inc.com/feed">Webcast</a>
        |<a href="https://other.com/out">External</a>
        |<a href="/about">About</a>
        |</body></html>""".stripMargin,
    s"$base/quarterly-earnings" ->
      """<html><body>
        |<a href="/docs/q2-2025-earnings.pdf">Q2 2025 Earnings</a>
        |<a href="/docs/q1-2025-earnings.pdf">Q1 2025 Earnings</a>
        |<a href="/quarterly-earnings">Self link</a>
        |</body></html>""".stripMargin,
    s"$base/investor/results" ->
      """<html><body>
        |<a href="/docs/results-2025.xlsx">Results workbook</a>
        |</body></html>""".stripMargin)

  lazy val links = Crawl.crawl(
    spark,
    Seq(("corp", s"$base/index.html")).toDF("company", "url"),
    MapPageFetcher(pages), maxDepth = 2, topK = 5).cache()

  test("crawl harvests documents from seed and promising pages") {
    val docs = links.filter($"link_type" === "document")
      .select($"href").as[String].collect().toSet
    assert(docs == Set(
      s"$base/docs/annual-report-2024.pdf",
      s"$base/docs/q2-2025-earnings.pdf",
      s"$base/docs/q1-2025-earnings.pdf",
      s"$base/docs/results-2025.xlsx"))
  }

  test("crawl does not follow excluded or external domains") {
    val visited = links.select($"source_url").distinct().as[String].collect().toSet
    assert(visited == pages.keySet)  // q4inc / other.com never fetched
  }

  test("hrefs are resolved absolute and deduped per company") {
    assert(links.filter(!$"href".startsWith("http")).count() == 0)
    assert(links.groupBy($"company", $"href").count().filter($"count" > 1).count() == 0)
  }

  test("depth 0 stays on the seed page; depth is a real parameter") {
    val shallow = Crawl.crawl(spark,
      Seq(("corp", s"$base/index.html")).toDF("company", "url"),
      MapPageFetcher(pages), maxDepth = 0, topK = 5)
    assert(shallow.select($"source_url").distinct().as[String].collect().toSeq ==
      Seq(s"$base/index.html"))
    assert(shallow.filter($"link_type" === "document").count() == 1)
  }

  test("frontier extends only from depth-0 pages by default (reference fidelity)") {
    // chain: index → earnings (depth 1) → archive (depth 2). The
    // reference's `if depth == 0:` guard makes depth-1 pages leaves, so
    // the archive page must NOT be fetched by default even at maxDepth=2.
    val chain = Map(
      s"$base/index.html" ->
        """<html><body><a href="/quarterly-earnings">Quarterly earnings</a></body></html>""",
      s"$base/quarterly-earnings" ->
        """<html><body>
          |<a href="/docs/q2-2025-earnings.pdf">Q2 2025 Earnings</a>
          |<a href="/earnings-archive">Quarterly results archive</a>
          |</body></html>""".stripMargin,
      s"$base/earnings-archive" ->
        """<html><body><a href="/docs/q1-2020-earnings.pdf">Q1 2020 Earnings</a></body></html>""")
    val seeds = Seq(("corp", s"$base/index.html")).toDF("company", "url")

    val faithful = Crawl.crawl(spark, seeds, MapPageFetcher(chain), maxDepth = 2)
    assert(faithful.select($"source_url").distinct().as[String].collect().toSet ==
      Set(s"$base/index.html", s"$base/quarterly-earnings"))

    val bfs = Crawl.crawl(spark, seeds, MapPageFetcher(chain), maxDepth = 2,
      promisingAtAllDepths = true)
    assert(bfs.select($"source_url").distinct().as[String].collect().toSet ==
      chain.keySet)
  }

  test("canonicalizeVisited: tracking-param variants of a page fetch once") {
    // the index links the SAME quarterly page under two utm variants
    val site = Map(
      s"$base/index.html" ->
        """<html><body>
          |<a href="/q?utm_source=a">Quarterly earnings</a>
          |<a href="/q?utm_source=b">Quarterly earnings</a>
          |</body></html>""".stripMargin,
      s"$base/q?utm_source=a" ->
        """<html><body><a href="/docs/q2-2025-earnings.pdf">Q2</a></body></html>""",
      s"$base/q?utm_source=b" ->
        """<html><body><a href="/docs/q1-2025-earnings.pdf">Q1</a></body></html>""")
    val seeds = Seq(("corp", s"$base/index.html")).toDF("company", "url")

    // reference fidelity (raw-string visited set): both variants fetch
    val raw = Crawl.crawl(spark, seeds, MapPageFetcher(site), maxDepth = 1)
    assert(raw.select($"source_url").distinct().count() == 3)

    // canonical visited set: the second variant is the SAME page — one
    // fetch (the tie breaks on href asc, so variant 'a' wins), and the
    // fetched URL is still the ORIGINAL href, params intact
    val canon = Crawl.crawl(spark, seeds, MapPageFetcher(site), maxDepth = 1,
      canonicalizeVisited = true)
    val visited = canon.select($"source_url").distinct()
      .as[String].collect().toSet
    assert(visited == Set(s"$base/index.html", s"$base/q?utm_source=a"),
      s"visited=$visited")
    val docs = canon.filter($"link_type" === "document")
      .select($"href").as[String].collect().toSet
    assert(docs == Set(s"$base/docs/q2-2025-earnings.pdf"))
  }

  test("robots gate: disallowed frontier pages are never fetched; " +
      "missing hosts fail open") {
    // the graftbot group forbids /quarterly-earnings; /investor stays
    // allowed — the promising-link to earnings must be pruned BEFORE
    // the fetch, the rest of the crawl proceeds unchanged.
    val robots = Seq(("ir.corp.com",
      "User-agent: graftbot\nDisallow: /quarterly-earnings\n" +
        "User-agent: *\nAllow: /\n")).toDF("host", "robots_txt")
    val polite = Crawl.crawl(spark,
      Seq(("corp", s"$base/index.html")).toDF("company", "url"),
      MapPageFetcher(pages), maxDepth = 2, topK = 5,
      robots = Some(robots))
    val visited = polite.select($"source_url").distinct()
      .as[String].collect().toSet
    assert(visited == Set(s"$base/index.html", s"$base/investor/results"),
      s"visited=$visited")
    assert(polite.filter($"href" === s"$base/docs/q2-2025-earnings.pdf")
      .count() == 0) // the disallowed page's documents were never seen

    // a robots table that doesn't know this host gates nothing
    val unknownHost = Seq(("other.example", "User-agent: *\nDisallow: /\n"))
      .toDF("host", "robots_txt")
    val open = Crawl.crawl(spark,
      Seq(("corp", s"$base/index.html")).toDF("company", "url"),
      MapPageFetcher(pages), maxDepth = 2, topK = 5,
      robots = Some(unknownHost))
    assert(open.select($"source_url").distinct().count() == 3)

    // a deny-all group for the agent blocks even the seed
    val denyAll = Seq(("ir.corp.com", "User-agent: *\nDisallow: /\n"))
      .toDF("host", "robots_txt")
    val blocked = Crawl.crawl(spark,
      Seq(("corp", s"$base/index.html")).toDF("company", "url"),
      MapPageFetcher(pages), maxDepth = 2, topK = 5,
      robots = Some(denyAll))
    assert(blocked.count() == 0)
    assert(blocked.columns.toSeq == links.columns.toSeq)
  }

  test("empty seeds: the links schema with no rows, and crawlStats runs") {
    val none = Crawl.crawl(spark,
      Seq.empty[(String, String)].toDF("company", "url"),
      MapPageFetcher(pages), maxDepth = 2, topK = 5)
    assert(none.columns.toSeq == links.columns.toSeq)
    assert(none.count() == 0)
    assert(Crawl.crawlStats(none).count() == 0)
    // no depth at all still types its (empty) result
    val noDepth = Crawl.crawl(spark,
      Seq(("corp", s"$base/index.html")).toDF("company", "url"),
      MapPageFetcher(pages), maxDepth = -1)
    assert(noDepth.columns.toSeq == links.columns.toSeq)
    assert(noDepth.count() == 0)
  }

  test("no promising link at depth 0: no depth-1 fetch, no probe job") {
    // the seed links one document and one external page: the next
    // frontier is empty, which the frontier checkpoint's observed size
    // reports, so the loop stops without fetching or probing again
    val leaf = Map(s"$base/index.html" ->
      """<html><body>
        |<a href="/docs/annual-report-2024.pdf">Annual Report</a>
        |<a href="https://other.com/quarterly-earnings">Quarterly earnings</a>
        |</body></html>""".stripMargin)
    CountingFetcher.calls.set(0)
    var got: Array[String] = null
    val jobs = jobsIn("crawlspec-leaf") {
      got = Crawl.crawl(spark,
        Seq(("corp", s"$base/index.html")).toDF("company", "url"),
        CountingFetcher(leaf), maxDepth = 2, topK = 5)
        .select($"href").as[String].collect()
    }
    assert(got.toSet == Set(s"$base/docs/annual-report-2024.pdf",
      "https://other.com/quarterly-earnings"))
    assert(CountingFetcher.calls.get == 1) // the seed page only
    // depth 0's links checkpoint (its dedupe exchange, then the
    // checkpoint), the next frontier's checkpoint (the top-K window's
    // exchange, the visited side of the anti-join, then the checkpoint)
    // and the final collect: no emptiness probe, no depth-1 links job
    assert(jobs == 6, s"$jobs jobs")
  }

  test("crawlStats matches reference counter semantics") {
    val stats = Crawl.crawlStats(links).head()
    assert(stats.getAs[Long]("urls_visited") == 3)
    assert(stats.getAs[Long]("urls_found") == 4)
  }

  test("crawlArchive: CDX-ranged archive replay produces the identical " +
      "link output to the live-fetch crawl — payloads never driver-side") {
    import graft.io.Warc
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val dir = java.nio.file.Files.createTempDirectory("graft-crawl-warc")
    dir.toFile.deleteOnExit()
    // the site capture: every fixture page as a WARC response, plus
    // noise the replay must skip — a warcinfo record, a 404, a non-HTML
    // response under a crawlable URL, and a RE-CRAWL of the seed whose
    // content differs (the earliest capture must win deterministically)
    val recs =
      Warc.encodeWarcinfo("crawl.warc", "2026-01-01T00:00:00Z") +:
      pages.toSeq.sortBy(_._1).map { case (url, html) =>
        Warc.encodeResponse(url, "2026-01-01T00:00:00Z", html.getBytes(utf8))
      } :+
      Warc.encodeResponse(s"$base/gone", "2026-01-01T00:00:00Z",
        "<html>gone</html>".getBytes(utf8), status = 404) :+
      Warc.encodeResponse(s"$base/feed.pdf", "2026-01-01T00:00:00Z",
        "%PDF".getBytes(utf8), httpContentType = "application/pdf") :+
      Warc.encodeResponse(s"$base/index.html", "2026-02-01T00:00:00Z",
        "<html><body><a href=\"/late\">Late recrawl</a></body></html>"
          .getBytes(utf8))
    java.nio.file.Files.write(dir.resolve("crawl.warc.gz"),
      Warc.encodeFile(recs, gzip = true))

    val idx = Warc.cdxIndex(spark, dir.toString + "/*").cache()
    val seeds = Seq(("corp", s"$base/index.html")).toDF("company", "url")
    val replayed = Crawl.crawlArchive(spark, seeds, idx,
      maxDepth = 2, topK = 5)

    // identical rows, column for column, to the fixture-fetcher crawl
    val cols = links.columns.sorted.map(col)
    assert(replayed.select(cols: _*).except(links.select(cols: _*))
      .count() == 0)
    assert(links.select(cols: _*).except(replayed.select(cols: _*))
      .count() == 0)
    assert(replayed.count() == links.count())
    // the re-crawled seed's "late" link must NOT appear (first capture
    // won), and nothing from the 404/non-HTML records leaked
    assert(replayed.filter($"href".contains("/late")).count() == 0)
    assert(replayed.filter($"source_url" === s"$base/gone").count() == 0)
  }
}

/** A fixture fetcher that counts its calls in one JVM-wide counter (the
  * tasks of a `local` session run in the test's JVM).
  */
final case class CountingFetcher(pages: Map[String, String])
    extends graft.services.PageFetcher {
  override def fetch(url: String): Option[String] = {
    CountingFetcher.calls.incrementAndGet()
    pages.get(url)
  }
}

object CountingFetcher {
  val calls = new java.util.concurrent.atomic.AtomicInteger
}
