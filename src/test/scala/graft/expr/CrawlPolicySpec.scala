package graft.expr

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class CrawlPolicySpec extends SparkTestBase {

  private val robots =
    """# fixture
      |User-agent: graftbot-images
      |Disallow: /
      |
      |User-agent: graftbot
      |Disallow: /private/
      |Allow: /private/open/
      |Disallow: /*.pdf$
      |Crawl-delay: 2
      |Sitemap: https://ex.com/sitemap.xml
      |Sitemap: https://ex.com/news.xml
      |
      |User-agent: *
      |Disallow: /
      |""".stripMargin

  test("group selection: most specific named group, * only as fallback") {
    val r = RobotsKernels.parse(robots)
    // graftbot/1.0 matches the graftbot group, not graftbot-images, not *
    assert(RobotsKernels.decide(r, "graftbot/1.0", "/docs/x.html"))
    assert(!RobotsKernels.decide(r, "graftbot-images/2", "/docs/x.html"))
    // unknown agent falls to * which disallows everything
    assert(!RobotsKernels.decide(r, "otherbot", "/docs/x.html"))
    // more specific token wins over shorter prefix
    assert(!RobotsKernels.decide(r, "graftbot-images", "/anything"))
  }

  test("longest-match precedence and Allow tie-break") {
    val r = RobotsKernels.parse(robots)
    assert(!RobotsKernels.decide(r, "graftbot", "/private/p1"))
    // /private/open/ (14) outranks /private/ (9)
    assert(RobotsKernels.decide(r, "graftbot", "/private/open/p1"))
    // Allow wins an exact length tie
    val tie = RobotsKernels.parse(
      "User-agent: *\nDisallow: /a/\nAllow: /a/\n")
    assert(RobotsKernels.decide(tie, "any", "/a/x"))
  }

  test("wildcard and $ anchor") {
    val r = RobotsKernels.parse(robots)
    assert(!RobotsKernels.decide(r, "graftbot", "/docs/r1.pdf"))
    assert(RobotsKernels.decide(r, "graftbot", "/docs/r1.pdfx")) // anchored
    assert(RobotsKernels.decide(r, "graftbot", "/docs/r1.html"))
    val mid = RobotsKernels.parse("User-agent: *\nDisallow: /a/*/secret\n")
    assert(!RobotsKernels.decide(mid, "x", "/a/b/secret"))
    assert(!RobotsKernels.decide(mid, "x", "/a/b/c/secretX")) // prefix match
    assert(RobotsKernels.decide(mid, "x", "/a/secret")) // * needs a segment? no:
    // '*' may match empty — /a//secret would match, /a/secret lacks the
    // second slash, so it stays allowed.
  }

  test("empty file, empty Disallow, missing group default to allowed") {
    val empty = RobotsKernels.parse("")
    assert(RobotsKernels.decide(empty, "any", "/x"))
    val open = RobotsKernels.parse("User-agent: *\nDisallow:\n")
    assert(RobotsKernels.decide(open, "any", "/x"))
    // group for a different agent only
    val other = RobotsKernels.parse("User-agent: foo\nDisallow: /\n")
    assert(RobotsKernels.decide(other, "bar", "/x"))
  }

  test("multiple UA lines share one rule block; later UA starts a new group") {
    val multi = RobotsKernels.parse(
      "User-agent: a\nUser-agent: b\nDisallow: /x/\n" +
        "User-agent: c\nAllow: /\n")
    assert(!RobotsKernels.decide(multi, "a", "/x/1"))
    assert(!RobotsKernels.decide(multi, "b", "/x/1"))
    assert(RobotsKernels.decide(multi, "c", "/x/1"))
  }

  test("crawl-delay: matching group's value, null when undeclared") {
    // the fixture declares Crawl-delay: 2 inside the graftbot group
    assert(RobotsKernels.crawlDelay(robots, "graftbot/1.0") == 2.0)
    // graftbot-images and * groups declare none
    assert(RobotsKernels.crawlDelay(robots, "graftbot-images") == null)
    assert(RobotsKernels.crawlDelay(robots, "otherbot") == null)
    assert(RobotsKernels.crawlDelay(null, "any") == null)
    // * group delay reaches unmatched agents; malformed values ignored
    val star = RobotsKernels.parse(
      "User-agent: *\nCrawl-delay: 1.5\nDisallow: /x\n" +
        "User-agent: bad\nCrawl-delay: soon\n")
    assert(RobotsKernels.crawlDelay("User-agent: *\nCrawl-delay: 1.5\n",
      "any") == 1.5)
    assert(star.delays.get("bad").isEmpty)
    // expression path: DataFrame + SQL, null for undeclared
    import spark.implicits._
    val df = Seq(robots).toDF("r")
    val row = df.select(
      CrawlPolicyFuncs.robots_crawl_delay($"r", lit("graftbot")).as("d"),
      CrawlPolicyFuncs.robots_crawl_delay($"r", lit("nobody")).as("n")).head
    assert(row.getDouble(0) == 2.0 && row.isNullAt(1))
    df.createOrReplaceTempView("rcd_t")
    assert(spark.sql("SELECT robots_crawl_delay(r, 'graftbot') FROM rcd_t")
      .head.getDouble(0) == 2.0)
  }

  test("sitemap URLs are collected file-wide") {
    assert(RobotsKernels.sitemapUrls(robots).toSeq ==
      Seq("https://ex.com/sitemap.xml", "https://ex.com/news.xml"))
    assert(RobotsKernels.sitemapUrls(null).isEmpty)
  }

  test("allowed kernel path extraction: bare paths with doubled " +
      "slashes, schemeless and scheme-relative URLs") {
    val r = "User-agent: *\nDisallow: /downloads\nDisallow: /private/\n"
    // a bare path IS the path — '//' inside it is path content
    assert(!RobotsKernels.allowed(r, "a", "/downloads//file.pdf"))
    assert(RobotsKernels.allowed(r, "a", "/public//file.pdf"))
    // schemeless host/path form
    assert(!RobotsKernels.allowed(r, "a", "www.ex.com/private/x"))
    assert(RobotsKernels.allowed(r, "a", "www.ex.com/open/x"))
    // scheme-relative
    assert(!RobotsKernels.allowed(r, "a", "//ex.com/private/x"))
    // host only -> path "/"
    assert(RobotsKernels.allowed(r, "a", "//ex.com"))
  }

  test("allowed kernel extracts the path from a full URL") {
    assert(!RobotsKernels.allowed(robots, "graftbot", "https://ex.com/private/a"))
    assert(RobotsKernels.allowed(robots, "graftbot", "https://ex.com/private/open/a"))
    // bare host → path "/" → matched against the graftbot rules → allowed
    assert(RobotsKernels.allowed(robots, "graftbot", "https://ex.com"))
    // null robots fails open
    assert(RobotsKernels.allowed(null, "graftbot", "https://ex.com/private/a"))
  }

  test("expressions: DataFrame, SQL registration, null propagation") {
    import spark.implicits._
    val df = Seq(
      ("/private/p", robots), ("/private/open/p", robots),
      ("/r.pdf", robots), ("/r.html", robots))
      .toDF("path", "robots")
    val got = df.select(CrawlPolicyFuncs.robots_allowed(
        $"robots", lit("graftbot/1.0"),
        concat(lit("https://ex.com"), $"path")).as("ok"))
      .as[Boolean].collect.toSeq
    assert(got == Seq(false, true, false, true))

    df.createOrReplaceTempView("robots_t")
    val sqlGot = spark.sql(
      """SELECT robots_allowed(robots, 'graftbot/1.0',
        |         'https://ex.com' || path) AS ok,
        |       size(robots_sitemaps(robots)) AS n
        |FROM robots_t ORDER BY path""".stripMargin)
      .as[(Boolean, Int)].collect.toSeq
    assert(sqlGot.map(_._2).forall(_ == 2))

    // null operand → null (fail-open composes via robots_allowed_fail_open)
    val nullRow = Seq((Option.empty[String], "u"))
      .toDF("robots", "agent")
      .select(CrawlPolicyFuncs.robots_allowed(
        $"robots", $"agent", lit("https://x.com/a")).as("v"),
        CrawlPolicyFuncs.robots_allowed_fail_open(
          $"robots", $"agent", lit("https://x.com/a")).as("open"))
      .head
    assert(nullRow.isNullAt(0) && nullRow.getBoolean(1))
  }

  test("sitemap kernel: urlset entries with optional fields") {
    val xml =
      """<?xml version="1.0"?>
        |<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
        | <url><loc>https://s.com/a</loc><lastmod>2026-01-01</lastmod>
        |   <changefreq>daily</changefreq><priority>0.8</priority></url>
        | <url><loc>https://s.com/b?x=1&amp;y=2</loc></url>
        | <url><loc><![CDATA[https://s.com/c]]></loc></url>
        |</urlset>""".stripMargin
    val es = SitemapKernels.entries(xml)
    assert(es.map(_.loc) ==
      Seq("https://s.com/a", "https://s.com/b?x=1&y=2", "https://s.com/c"))
    assert(es.head.lastmod == "2026-01-01")
    assert(es.head.changefreq == "daily")
    assert(es.head.priority == "0.8")
    assert(es(1).lastmod == null)
  }

  test("sitemap kernel: index files, namespace prefixes, truncation") {
    val idx =
      """<sm:sitemapindex xmlns:sm="http://www.sitemaps.org/schemas/sitemap/0.9">
        | <sm:sitemap><sm:loc>https://s.com/s1.xml</sm:loc></sm:sitemap>
        | <sm:sitemap><sm:loc>https://s.com/s2.xml</sm:loc></sm:sitemap>
        |</sm:sitemapindex>""".stripMargin
    val es = SitemapKernels.entries(idx)
    assert(es.map(e => (e.kind, e.loc)) ==
      Seq(("sitemap", "https://s.com/s1.xml"),
        ("sitemap", "https://s.com/s2.xml")))
    // truncated mid-element: parsed prefix survives, no throw
    val trunc = SitemapKernels.entries(
      "<urlset><url><loc>https://s.com/a</loc></url><url><loc>https://s")
    assert(trunc.map(_.loc) == Seq("https://s.com/a"))
    assert(SitemapKernels.entries("junk not xml").isEmpty)
    assert(SitemapKernels.entries(null).isEmpty)
  }

  test("extract_sitemap generator in DataFrame and SQL") {
    import spark.implicits._
    val xml = "<urlset><url><loc>https://s.com/a</loc></url>" +
      "<url><loc>https://s.com/b</loc><priority>0.1</priority></url></urlset>"
    val df = Seq(xml).toDF("xml")
    val rows = df.select(CrawlPolicyFuncs.extract_sitemap($"xml")
        .as(Seq("kind", "loc", "lastmod", "changefreq", "priority")))
      .collect.toSeq
    assert(rows.map(_.getString(1)) == Seq("https://s.com/a", "https://s.com/b"))
    assert(rows(1).getString(4) == "0.1")
    df.createOrReplaceTempView("sm_t")
    val n = spark.sql(
      "SELECT loc FROM sm_t LATERAL VIEW extract_sitemap(xml) t AS " +
        "kind, loc, lastmod, changefreq, priority").count
    assert(n == 2)
  }

  test("robots -> sitemap -> frontier composition") {
    import spark.implicits._
    val sm = "<urlset><url><loc>https://ex.com/private/a</loc></url>" +
      "<url><loc>https://ex.com/docs/b.html</loc></url>" +
      "<url><loc>https://ex.com/docs/c.pdf</loc></url></urlset>"
    val frontier = Seq((robots, sm)).toDF("robots", "sm")
      .select($"robots", CrawlPolicyFuncs.extract_sitemap($"sm")
        .as(Seq("kind", "loc", "lastmod", "changefreq", "priority")))
      .where(CrawlPolicyFuncs.robots_allowed_fail_open(
        $"robots", lit("graftbot"), $"loc"))
      .select($"loc").as[String].collect.toSeq
    assert(frontier == Seq("https://ex.com/docs/b.html"))
  }
}
