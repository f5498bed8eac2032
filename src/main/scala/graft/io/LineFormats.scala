package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's ad-hoc `key='value'` wire formats as Spark sources
  * and sinks (SURVEY S3/S4/S9/S10). Kept bug-for-bug compatible: the
  * `[^']+` regexes stop at the first single quote exactly like the
  * reference's `re.search` parses (src/orchestrator.py:109-159), which
  * is intentionally lossy on `full_html`. Engine-native persistence is
  * Parquet; these exist for golden-file replay against the committed
  * fixtures.
  */
object LineFormats {

  private def field(name: String) =
    regexp_extract(col("value"), name + "='([^']*)'", 1).as(name)

  /** `financial_links_*.txt` reader → one row per link record. Records
    * are physical lines starting with `title='`; `full_html` payloads
    * embed raw newlines, so continuation lines (no parseable url) are
    * dropped exactly like the reference's per-line `re.search` returning
    * no match (src/orchestrator.py:116-119).
    */
  def readLinks(spark: SparkSession, path: String): DataFrame =
    parseLinks(spark.read.text(path))

  /** [[readLinks]] over lines already read: a frame with one string
    * column `value`. An empty one gives an empty frame with
    * [[readLinks]]' schema.
    */
  def parseLinks(lines: DataFrame): DataFrame =
    lines
      .filter(col("value").rlike("url='[^']"))
      .select(
        field("title"), field("text"),
        regexp_extract(col("value"), "url='([^']*)'", 1).as("url"),
        regexp_extract(col("value"), " type='([^']*)'", 1).as("link_type"),
        field("file_extension"), field("document_type"),
        field("source_url"), field("full_html"))

  /** Links sink in the reference's line format (SURVEY S9). */
  def linksToLines(links: DataFrame): DataFrame =
    links.select(concat(
      lit("title='"), col("title"),
      lit("' text='"), col("text"),
      lit("' url='"), col("url"),
      lit("' type='"), col("link_type"),
      lit("' file_extension='"), col("file_extension"),
      lit("' document_type='"), col("document_type"),
      lit("' source_url='"), col("source_url"),
      lit("' full_html='"), col("full_html"), lit("'")).as("value"))

  /** `extracted_reports_*.txt` reader: `Report(title='…' category='…'
    * url='…' year=N quarter=N)` pydantic-repr lines (SURVEY S4).
    * year/quarter standardized to int (the reference's download-side
    * copy keeps them strings — divergence documented in SURVEY).
    */
  def readReports(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)
      .filter(length(trim(col("value"))) > 0)
      .select(
        regexp_extract(col("value"), "title='([^']*)'", 1).as("title"),
        regexp_extract(col("value"), "category='([^']*)'", 1).as("category"),
        regexp_extract(col("value"), "url='([^']*)'", 1).as("url"),
        regexp_extract(col("value"), "year=(\\d+)", 1).cast("int").as("year"),
        regexp_extract(col("value"), "quarter=(\\d+)", 1).cast("int").as("quarter"))

  /** Reports sink: `str(pydantic_model)` parity (SURVEY S10). */
  def reportsToLines(reports: DataFrame): DataFrame =
    reports.select(format_string(
      "title='%s' category='%s' url='%s' year=%d quarter=%d",
      col("title"), col("category"), col("url"), col("year"), col("quarter"))
      .as("value"))

  /** dow30_companies.csv reader (SURVEY S1/S2 unified: header-keyed). */
  def readCompaniesCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").csv(path)
      .select(
        col("Ticker").as("ticker"),
        col("Company").as("company"),
        col("Sector").as("sector"),
        col("Investor_Relations_URL").as("ir_url"),
        col("Last_Updated").cast("timestamp").as("last_updated"))
}
