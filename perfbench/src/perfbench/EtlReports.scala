package perfbench

import java.nio.file.Path
import java.time.Instant

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.pipeline.Orchestrator

/** The paper's own pipeline: one op is `Orchestrator.run` (crawl depth
  * 2, top 5 promising links) over 30 generated investor-relations
  * sites, then the collect of its per-company metadata.
  */
final class EtlReports(spark: SparkSession, trace: Trace, root: Path, seed: Long)
    extends Workload {
  import spark.implicits._

  private val nCompanies = 30
  private var sites: Gen.Sites = _
  private var companies: DataFrame = _

  val mainKind = "run"
  val minCycles = 2
  val warmOps = 1
  /** The download stage, from the run's own stamps, is the op's write. */
  def writeS(o: OpRec): Option[Double] = o.attrs.get("download_s")

  def setup(): Unit = {
    // documents are relative file: links, so the sites go under the
    // run root, which is the JVM's working directory
    sites = Gen.sites(root, nCompanies, seed)
    companies = sites.companies.toDF("company", "ticker", "ir_url")
  }

  def inputs: Map[String, Any] = Map(
    "companies" -> nCompanies, "pages" -> sites.pages,
    "missing_pages" -> sites.missingPages, "doc_links" -> sites.docs.size,
    "planted_reports" -> sites.planted.size,
    "planted_broken" -> sites.planted.count(_.broken))

  private def secs(a: String, b: String): Double =
    (Instant.parse(b).toEpochMilli - Instant.parse(a).toEpochMilli) / 1000.0

  def op(i: Int): Done = {
    val dest = root.resolve(s"out/op$i")
    val fetcher = new DiskPageFetcher(root.resolve("sites").toString)
    val rows = trace.span("orchestrator_run", "pipeline") {
      Orchestrator.run(spark, companies, fetcher, new CountingDownloader,
        dest.toString, maxYear = 2026).collect()
    }
    val stamps = rows.head
    def stamp(c: String) = stamps.getAs[String](c)
    val attrs = Map(
      "crawl_s" -> secs(stamp("scraping_start_time"), stamp("scraping_end_time")),
      "extract_s" -> secs(stamp("extraction_start_time"), stamp("extraction_end_time")),
      "download_s" -> secs(stamp("extraction_end_time"), stamp("pipeline_end_time")),
      "links_found" -> rows.map(_.getAs[Long]("urls_found")).sum.toDouble,
      "reports_selected" -> rows.map(r => r.getSeq[Row](r.fieldIndex("downloaded_files")).size).sum.toDouble,
      "files_downloaded" -> rows.map(_.getAs[Long]("n_downloaded")).sum.toDouble)
    Done("run", nCompanies, () => {
      val (errs, intact) = check(rows)
      val (_, bytes) = Workload.du(dest)
      samples(i) = (intact, bytes.toDouble / sites.planted.filterNot(_.broken).map(_.bytes).sum)
      spark.catalog.clearCache()
      Workload.deleteTree(dest)
      errs
    }, attrs)
  }

  /** Per op: (share of planted reports selected with the planted
    * outcome and bytes, downloaded bytes on disk / planted bytes).
    */
  private val samples = scala.collection.mutable.Map.empty[Int, (Double, Double)]

  /** Selected reports equal the planted set, every download's MD5 is the
    * generated bytes', and planted broken links are each company's
    * failures. Returns the errors and the share of planted reports that
    * came through intact.
    */
  private def check(rows: Array[Row]): (Seq[String], Double) = {
    val errs = Seq.newBuilder[String]
    var intact = 0
    val planted = sites.planted.groupBy(_.company)
    if (rows.length != nCompanies) errs += s"${rows.length} metadata rows, want $nCompanies"
    rows.foreach { r =>
      val co = r.getAs[String]("company")
      val want = planted.getOrElse(co, Nil).map(d => d.url -> d).toMap
      val files = r.getSeq[Row](r.fieldIndex("downloaded_files"))
      val got = files.map(f => f.getAs[String]("url") -> f).toMap
      if (got.keySet != want.keySet)
        errs += s"$co selected ${got.keySet.size} reports, want ${want.keySet.size}: " +
          s"extra ${(got.keySet -- want.keySet).take(3)}, missing ${(want.keySet -- got.keySet).take(3)}"
      got.foreach { case (url, f) =>
        want.get(url).foreach { d =>
          val ok = f.getAs[Boolean]("success")
          val sumOk = !ok || f.getAs[String]("checksum") == d.md5
          if (ok == d.broken) errs += s"$co $url success=$ok, planted broken=${d.broken}"
          else if (!sumOk) errs += s"$co $url md5 mismatch"
          else intact += 1
        }
      }
      val nFailed = r.getAs[Long]("n_failed")
      val wantFailed = want.values.count(_.broken)
      if (nFailed != wantFailed) errs += s"$co n_failed=$nFailed, want $wantFailed"
    }
    (errs.result(), intact.toDouble / sites.planted.size)
  }

  def quality(ops: Seq[OpRec]): (Double, Double) = {
    val got = ops.flatMap(o => samples.get(o.i))
    (Workload.median(got.map(_._1)), Workload.median(got.map(_._2)))
  }

  def layers(ops: Seq[OpRec]): Map[String, Double] = {
    def med(k: String) = Workload.median(ops.map(_.attrs.getOrElse(k, 0.0)))
    def mean(k: String) = Workload.mean(ops.map(_.attrs.getOrElse(k, 0.0)))
    Map(
      "run_s" -> Workload.median(ops.map(_.wallS)),
      "crawl_s" -> med("crawl_s"), "extract_s" -> med("extract_s"),
      "download_s" -> med("download_s"),
      "pages_fetched" -> mean("fetch_hits"), "links_found" -> mean("links_found"),
      "reports_selected" -> mean("reports_selected"),
      "files_downloaded" -> mean("files_downloaded"),
      "fetch_calls" -> mean("fetch_calls"),
      "fetch_hit_ratio" -> ops.map(_.attrs.getOrElse("fetch_hits", 0.0)).sum /
        math.max(1.0, ops.map(_.attrs.getOrElse("fetch_calls", 0.0)).sum),
      "fetch_busy_s" -> mean("fetch_nanos") / 1e9,
      "download_bytes" -> mean("download_bytes"),
      "download_busy_s" -> mean("download_nanos") / 1e9)
  }
}
