package graft.pipeline

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** W4/A2 edge semantics of the latest-quarter extraction. */
class ExtractEdgeSpec extends SparkTestBase {
  import spark.implicits._

  private def links(rows: (String, String)*) =
    rows.toDF("url", "text")
      .withColumn("title", lit(""))
      .withColumn("link_type", lit("document"))
      .withColumn("full_html", lit(""))
      .withColumn("source_url", lit(""))
      .withColumn("file_extension",
        lower(substring_index($"url", ".", -1)))
      .withColumn("document_type", lit("PDF Document"))

  test("no dated links: everything passes, labeled (maxYear, 4)") {
    val out = Extract.latestQuarterReports(
      links(("https://x/a.pdf", "no dates"), ("https://x/b.pdf", "none")),
      maxYear = 2026)
    assert(out.count() == 2)
    assert(out.select($"year", $"quarter").distinct()
      .as[(Int, Int)].collect().toSet == Set((2026, 4)))
  }

  test("quarter-less max year defaults latest quarter to 4") {
    val out = Extract.latestQuarterReports(
      links(
        ("https://x/a.pdf", "Annual 2025"),          // (2025, null)
        ("https://x/b.pdf", "Q3 2024 earnings")),    // older year
      maxYear = 2026)
    // latest = (2025, 4): the null-quarter 2025 doc passes, Q3-2024 drops
    assert(out.select($"url").as[String].collect().toSeq == Seq("https://x/a.pdf"))
    assert(out.select($"year", $"quarter").as[(Int, Int)].head() == ((2025, 4)))
  }

  test("old-PDF guard drops known-old PDFs but keeps undated ones") {
    val out = Extract.latestQuarterReports(
      links(
        ("https://x/old.pdf", "Q1 2019 report"),
        ("https://x/new.pdf", "Q2 2025 report"),
        ("https://x/undated.pdf", "whitepaper")),
      maxYear = 2026, minYear = 2023)
    assert(out.select($"url").as[String].collect().toSet ==
      Set("https://x/new.pdf", "https://x/undated.pdf"))
  }

  test("per-company latest is computed independently") {
    val df = Seq(
      ("a", "https://x/a1.pdf", "Q2 2025"),
      ("a", "https://x/a2.pdf", "Q1 2025"),
      ("b", "https://x/b1.pdf", "Q4 2023"))
      .toDF("company", "url", "text")
      .withColumn("title", lit("")).withColumn("link_type", lit("document"))
      .withColumn("full_html", lit("")).withColumn("source_url", lit(""))
      .withColumn("file_extension", lit("pdf"))
      .withColumn("document_type", lit("PDF Document"))
    val out = Extract.latestQuarterReports(df, maxYear = 2026)
    assert(out.select($"company", $"url").as[(String, String)].collect().toSet ==
      Set(("a", "https://x/a1.pdf"), ("b", "https://x/b1.pdf")))
  }

  test("selection equals a driver-side replay of the A2/W4/P6 rules") {
    // generated links: dated, quarter-less, undated and old documents
    // for several companies, plus non-document rows that never qualify
    val rnd = new scala.util.Random(7)
    val rows = for {
      c <- Seq("a", "b", "c", "d", "e")
      i <- 0 until 12
    } yield {
      val y = 2019 + rnd.nextInt(8)
      val text = rnd.nextInt(4) match {
        case 0 => s"Q${1 + rnd.nextInt(4)} $y earnings"
        case 1 => s"Annual report $y"
        case 2 => "whitepaper"
        case _ => s"Q${1 + rnd.nextInt(4)} $y results"
      }
      val ext = if (rnd.nextInt(3) == 0) "html" else "pdf"
      val kind = if (rnd.nextInt(6) == 0) "internal" else "document"
      (c, s"https://x/$c/$i.$ext", text, ext, kind)
    }
    val df = rows.toDF("company", "url", "text", "file_extension", "link_type")
      .withColumn("title", lit("")).withColumn("full_html", lit(""))
      .withColumn("source_url", lit("")).withColumn("document_type", lit("doc"))
    val (maxYear, minYear) = (2026, 2023)
    val got = Extract.latestQuarterReports(df, maxYear, minYear)
      .select($"company", $"url", $"year", $"quarter")
      .as[(String, String, Int, Int)].collect().toSet

    // the parsed (year, quarter) per document, then the rules in Scala
    val parsed = Extract.docsWithYearQuarter(df, maxYear)
      .select($"company", $"url", $"file_extension", $"year", $"quarter")
      .as[(String, String, String, Option[Int], Option[Int])].collect()
      .filterNot { case (_, _, ext, y, _) => ext == "pdf" && y.exists(_ < minYear) }
    val want = parsed.groupBy(_._1).toSeq.flatMap { case (_, docs) =>
      val latest = docs.collect { case (_, _, _, Some(y), q) => (y, q.getOrElse(-1)) }
        .maxOption.map { case (y, q) => (y, if (q == -1) 4 else q) }
      docs.filter { case (_, _, _, y, q) =>
        latest.isEmpty || y.isEmpty || y.get > latest.get._1 ||
          (y.get == latest.get._1 && q.forall(_ >= latest.get._2))
      }.map { case (c, u, _, y, q) =>
        (c, u, y.orElse(latest.map(_._1)).getOrElse(maxYear),
          q.orElse(latest.map(_._2)).getOrElse(4))
      }
    }.toSet
    assert(want.nonEmpty && want.size < parsed.length) // the rules select
    assert(got == want)
    // without a company column the whole input is one group
    val one = Extract.latestQuarterReports(
        df.filter($"company" === "a").drop("company"), maxYear, minYear)
      .select($"url", $"year", $"quarter").as[(String, Int, Int)].collect().toSet
    assert(one == want.collect { case ("a", u, y, q) => (u, y, q) })
  }
}
