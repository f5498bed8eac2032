package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.services.{Clock, Downloader, FileResult, PageFetcher, SystemClock}

/** End-to-end pipeline (reference src/orchestrator.py:54-243) as one
  * Dataset program: crawl → extract → enrich → download → metadata.
  * The reference's thread-pool fan-out becomes task parallelism: the
  * selected reports are hash-partitioned by company into the session's
  * `defaultParallelism` before the download stage, so downloads run
  * in that many tasks. The inter-stage files-on-disk handoff becomes
  * DataFrame lineage cut at each stage boundary by an eager
  * `localCheckpoint` (the "shuffle as filesystem" anti-pattern
  * disappears).
  */
object Orchestrator {

  final case class DownloadRow(
      company: String, url: String, title: String, category: String,
      year: Int, quarter: Int, source_url: String, file_extension: String)

  /** Stage 3: distributed download via per-partition service clients
    * (SURVEY U8) — `mapPartitions`, never an expression, so the planner
    * can't reorder the side effect.
    */
  def download(spark: SparkSession, reports: DataFrame,
               downloader: Downloader, destRoot: String,
               clock: Clock = SystemClock): DataFrame = {
    import spark.implicits._
    val rows = reports.select(
      col("company"), col("url"), col("title"), col("category"),
      col("year"), col("quarter"),
      coalesce(col("source_url"), lit("")).as("source_url"),
      coalesce(col("file_extension"), lit("")).as("file_extension"))
      .as[DownloadRow]
    rows.mapPartitions { it =>
      it.map { r =>
        // Reference filename chain (download_reports.py:389-418): no
        // response headers exist pre-request, so the known metadata
        // extension stands in for Content-Type in the inference step.
        val ctHint = r.file_extension match {
          case "pdf" => "application/pdf"
          case "html" | "htm" => "text/html"
          case "xlsx" => "application/vnd.ms-excel"
          case "zip" => "application/zip"
          case "docx" => "application/msword"
          case "txt" => "text/plain"
          case _ => ""
        }
        val fname = graft.services.FilenameKernel.build(
          r.url, "", ctHint, r.title, r.year, r.quarter)
        val res: FileResult =
          downloader.download(r.url, s"$destRoot/${r.company}", fname)
        (r.company, r.url, r.title, r.category, r.year, r.quarter,
          r.source_url, r.file_extension, res.path, res.size, res.checksum,
          res.contentType, res.ok, res.error, clock.nowIso())
      }
    }.toDF("company", "url", "title", "category", "year", "quarter",
      "source_url", "file_extension", "file_path", "file_size", "checksum",
      "content_type", "success", "error", "download_timestamp")
  }

  /** Driver-side stage boundary stamps (ISO-8601 UTC), recorded by
    * `run` around each materialization point — the dataflow analog of
    * the reference collector's update_* calls
    * (src/simple_metadata_collector.py:62-117). Per-company download
    * windows come from per-row `download_timestamp` min/max instead,
    * since downloads for all companies run in parallel here rather
    * than sequentially per company.
    */
  final case class StageTimes(
      pipelineStart: String, scrapingStart: String, scrapingEnd: String,
      extractionStart: String, extractionEnd: String, pipelineEnd: String)

  private val isoFmt = "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"

  private def secsBetween(start: Column, end: Column): Column =
    (unix_millis(to_timestamp(end, isoFmt)) -
      unix_millis(to_timestamp(start, isoFmt))) / 1000.0

  /** A10: per-company nested metadata document — `collect_list(struct)`
    * replaces the reference's mutable collector object
    * (src/simple_metadata_collector.py:36-130).
    */
  def metadata(companies: DataFrame, stats: DataFrame,
               downloads: DataFrame, modelUsed: String,
               times: Option[StageTimes] = None): DataFrame = {
    val files = downloads.groupBy(col("company")).agg(
      collect_list(struct(
        col("title"), col("file_size").as("size"), col("checksum"),
        col("quarter"), col("year"), col("url"),
        col("download_timestamp"),
        col("source_url").as("source_page"),
        col("file_extension").as("file_type"),
        col("success"))).as("downloaded_files"),
      sum(when(col("success"), 1).otherwise(0)).as("n_downloaded"),
      sum(when(!col("success"), 1).otherwise(0)).as("n_failed"),
      // parallel downloads: the per-company stage window is the span of
      // its file stamps (fixed-width ISO strings: min/max = chronology)
      min(col("download_timestamp")).as("download_start_time"),
      max(col("download_timestamp")).as("download_end_time"))
    def stamp(v: Option[StageTimes] => Option[String]): Column =
      v(times).map(lit).getOrElse(lit(null).cast("string"))
    companies
      .join(stats, Seq("company"), "left")
      .join(files, Seq("company"), "left")
      .withColumn("urls_visited", coalesce(col("urls_visited"), lit(0L)))
      .withColumn("urls_found", coalesce(col("urls_found"), lit(0L)))
      .withColumn("downloaded_files",
        coalesce(col("downloaded_files"), array()))
      .withColumn("n_downloaded", coalesce(col("n_downloaded"), lit(0L)))
      .withColumn("n_failed", coalesce(col("n_failed"), lit(0L)))
      .withColumn("status",
        when(col("n_failed") === 0, "completed").otherwise("failed"))
      .withColumn("error_message",
        when(col("n_failed") > 0,
          concat(lit("download failures: "), col("n_failed"))))
      .withColumn("model_used", lit(modelUsed))
      // the reference collector's 8 stage stamps
      // (src/simple_metadata_collector.py:40-58)
      .withColumn("pipeline_start_time", stamp(_.map(_.pipelineStart)))
      .withColumn("pipeline_end_time", stamp(_.map(_.pipelineEnd)))
      .withColumn("scraping_start_time", stamp(_.map(_.scrapingStart)))
      .withColumn("scraping_end_time", stamp(_.map(_.scrapingEnd)))
      .withColumn("extraction_start_time", stamp(_.map(_.extractionStart)))
      .withColumn("extraction_end_time", stamp(_.map(_.extractionEnd)))
      .withColumn("scraping_secs",
        secsBetween(col("scraping_start_time"), col("scraping_end_time")))
      .withColumn("extraction_secs",
        secsBetween(col("extraction_start_time"), col("extraction_end_time")))
      .withColumn("download_secs",
        secsBetween(col("download_start_time"), col("download_end_time")))
      .withColumn("pipeline_secs",
        secsBetween(col("pipeline_start_time"), col("pipeline_end_time")))
  }

  /** Full pipeline over fixture-backed services. Each stage ends in an
    * eager `localCheckpoint`, so the injected clock stamps real start
    * and end times, mirroring the reference's sequential stage updates
    * while keeping each stage distributed. A checkpointed block is never
    * recomputed, so each page is fetched and each report downloaded
    * once, and nothing is left in the session's cache manager.
    */
  def run(spark: SparkSession, companies: DataFrame, fetcher: PageFetcher,
          downloader: Downloader, destRoot: String, maxYear: Int,
          clock: Clock = SystemClock): DataFrame = {
    val pipelineStart = clock.nowIso()
    val seeds = companies.select(col("company"), col("ir_url").as("url"))
    val scrapingStart = clock.nowIso()
    val links = Crawl.crawl(spark, seeds, fetcher).localCheckpoint()
    val scrapingEnd = clock.nowIso()
    val stats = Crawl.crawlStats(links)
    val extractionStart = clock.nowIso()
    val reports = Extract.latestQuarterReports(
        links.withColumnRenamed("href", "url"), maxYear)
      .repartition(spark.sparkContext.defaultParallelism, col("company"))
      .localCheckpoint()
    val extractionEnd = clock.nowIso()
    val downloads = download(spark, reports, downloader, destRoot, clock)
      .localCheckpoint()
    val pipelineEnd = clock.nowIso()
    metadata(companies, stats, downloads, modelUsed = "rule-based",
      times = Some(StageTimes(pipelineStart, scrapingStart, scrapingEnd,
        extractionStart, extractionEnd, pipelineEnd)))
  }
}
