package graft.pipeline

import java.nio.file.Files

import graft.SparkTestBase
import graft.services.{LocalFileDownloader, MapPageFetcher}
import org.apache.spark.sql.functions._

class OrchestratorSpec extends SparkTestBase {
  import spark.implicits._

  test("end-to-end: crawl → extract → download → metadata") {
    val work = Files.createTempDirectory("graft-e2e")
    val pdfA = work.resolve("q2-2025.pdf")
    val pdfB = work.resolve("annual-2025.pdf")
    Files.write(pdfA, "fake-pdf-bytes-A".getBytes)
    Files.write(pdfB, "fake-pdf-bytes-B".getBytes)

    val base = "https://ir.corp.com"
    val pages = Map(
      s"$base/index.html" ->
        s"""<html><body>
           |<a href="file:$pdfA">Q2 2025 Earnings</a>
           |<a href="file:$pdfB">Annual Report 2025</a>
           |<a href="file:${work.resolve("missing.pdf")}">Q2 2025 broken</a>
           |</body></html>""".stripMargin)

    val companies = Seq(("corp", "MMM", s"$base/index.html"))
      .toDF("company", "ticker", "ir_url")
    val clock = new graft.services.FixedClock(
      java.time.Instant.parse("2026-02-01T00:00:00Z").toEpochMilli, 1000L)
    var rows: Array[org.apache.spark.sql.Row] = null
    val jobs = jobsIn("orchestrator-run") {
      rows = Orchestrator.run(spark, companies, MapPageFetcher(pages),
        new LocalFileDownloader, work.resolve("out").toString, maxYear = 2026,
        clock = clock).collect()
    }
    // the crawl (depth 0's links, the empty next frontier, the stage's
    // links), extract, download and the metadata collect: no frontier
    // probe, and no stage is planned twice
    assert(jobs == 16, s"$jobs jobs")
    assert(rows.length == 1)
    val row = rows.head
    // stage boundaries stamped by the injected clock, in pipeline order
    val stampCols = Seq("pipeline_start_time", "scraping_start_time",
      "scraping_end_time", "extraction_start_time", "extraction_end_time",
      "pipeline_end_time")
    val stamps = stampCols.map(c => row.getAs[String](c))
    assert(stamps.forall(_ != null))
    assert(stamps == stamps.sorted, s"stage stamps out of order: $stamps")
    assert(stamps.head == "2026-02-01T00:00:00.000Z")
    // download window comes from per-row stamps taken on the executors
    assert(row.getAs[String]("download_start_time") >= stamps(4))
    assert(row.getAs[String]("download_end_time") >=
      row.getAs[String]("download_start_time"))
    assert(row.getAs[String]("status") == "failed") // one missing file
    assert(row.getAs[Long]("n_downloaded") == 2)
    assert(row.getAs[Long]("n_failed") == 1)
    assert(row.getAs[Long]("urls_found") == 3)
    val files = row.getSeq[org.apache.spark.sql.Row](
      row.fieldIndex("downloaded_files"))
    assert(files.size == 3)
    val ok = files.filter(_.getAs[Boolean]("success"))
    assert(ok.map(_.getAs[String]("checksum")).forall(_.length == 32))

    // downloaded bytes really landed with sanitized names
    val outDir = work.resolve("out/corp").toFile
    assert(outDir.isDirectory && outDir.listFiles().length == 2)
  }

  test("no companies: no metadata rows, no error") {
    val none = Seq.empty[(String, String, String)]
      .toDF("company", "ticker", "ir_url")
    val work = Files.createTempDirectory("graft-e2e-empty")
    val meta = Orchestrator.run(spark, none, MapPageFetcher(Map.empty),
      new LocalFileDownloader, work.resolve("out").toString, maxYear = 2026)
    assert(meta.collect().isEmpty)
  }

  test("runs leave no cached stages behind") {
    spark.catalog.clearCache()
    val work = Files.createTempDirectory("graft-e2e-cache")
    val page = "https://ir.corp.com/index.html"
    val companies = Seq(("corp", "MMM", page)).toDF("company", "ticker", "ir_url")
    val fetcher = MapPageFetcher(Map(page ->
      s"""<html><body><a href="file:${work.resolve("q2-2025.pdf")}">Q2 2025</a></body></html>"""))
    (1 to 3).foreach { i =>
      Orchestrator.run(spark, companies, fetcher, new LocalFileDownloader,
        work.resolve(s"out$i").toString, maxYear = 2026).collect()
    }
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("download computes streamed md5 identical to whole-file digest") {
    val work = Files.createTempDirectory("graft-md5")
    val f = work.resolve("x.bin")
    val payload = Array.fill[Byte](10000)(7)
    Files.write(f, payload)
    val res = new LocalFileDownloader()
      .download(s"file:$f", work.resolve("d").toString, "x.bin")
    assert(res.ok)
    val want = java.security.MessageDigest.getInstance("MD5").digest(payload)
      .map("%02x".format(_)).mkString
    assert(res.checksum == want)
    assert(res.size == 10000)
  }
}
