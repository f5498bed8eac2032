package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.expr.LinkFuncs

/** Deterministic latest-quarter report selection — the relational
  * equivalent of the reference's LLM extraction prompt ("Extract the
  * documents for the latest financial quarter only",
  * /root/reference/src/extract_reports.py:133), encoding the
  * tie-breaking rules of the scraper's quarter filter
  * (src/enhanced_selenium_scraper.py:373-425):
  *
  *  - year/quarter parsed from text ∥ title ∥ url (U5)
  *  - latest = struct-max (year, quarter), quarter defaulting to 4
  *    when absent within the max year (A2, :410-411)
  *  - accept a document iff its year is null (unknown dates pass) or
  *    (year, coalesce(quarter, 4)) ≥ (latest_year, latest_quarter) (W4)
  *  - old-PDF guard: drop PDFs with a known year < minYear (P6)
  */
object Extract {

  /** Document rows with parsed (year, quarter) — the U5 extraction
    * stage of `latestQuarterReports`, exposed so callers (e.g. the q40
    * oracle materialization) can checkpoint the pre-selection table.
    */
  def docsWithYearQuarter(links: DataFrame, maxYear: Int): DataFrame = {
    val hasCompany = links.columns.contains("company")
    links
      .filter(col("link_type") === "document")
      .dropDuplicates((if (hasCompany) Seq("company") else Nil) :+ "url")
      .withColumn("yq", LinkFuncs.extractYearQuarter(
        concat_ws(" ", col("text"), col("title"), col("url")), maxYear))
      .withColumn("year", col("yq.year"))
      .withColumn("quarter", col("yq.quarter"))
      .drop("yq")
  }

  /** Latest-quarter report pick (SURVEY U5→A2→W4), the relational
    * twin of the reference's LLM extraction step.
    *
    * PRODUCTION SEAM — LLM extraction: the reference prompts an LLM
    * for this answer; the engine's [[graft.services.StructuredExtractor]]
    * trait is the drop-in point for that backend (same
    * `Seq[DocumentLink] => Seq[Report]` shape, `Report` as the
    * response schema), while [[graft.services.RuleBasedExtractor]] is
    * the deterministic impl this relational query cross-checks. See
    * README "Production backends".
    *
    * @param links DocumentLink rows, optionally with a `company` column
    *              (per-company latest computed when present).
    */
  def latestQuarterReports(links: DataFrame, maxYear: Int,
                           minYear: Int = 2023): DataFrame = {
    val hasCompany = links.columns.contains("company")

    // A2: latest_year = max known year; latest_quarter = max known
    // quarter *within* that year, defaulting to 4 when no link in the
    // max year carries a quarter (reference :400-425). The struct-max
    // with null-quarter→-1 computes both in one pass: the max struct is
    // (maxYear, maxQuarterWithinMaxYear | -1). It is a window (per
    // company, or one group without a company column), so the parsed
    // docs are computed once and need no join back; undated docs
    // contribute a null, which max skips, and a group with no dated
    // doc gets a null latest (null-permissive acceptance below).
    val group = org.apache.spark.sql.expressions.Window.partitionBy(
      if (hasCompany) col("company") else lit(1))
    val latest = max(when(col("year").isNotNull, struct(col("year"),
      coalesce(col("quarter"), lit(-1)).as("quarter")))).over(group)
    val docs = docsWithYearQuarter(links, maxYear)
      // P6: old-PDF filter — known-old PDFs never qualify
      .filter(!(col("file_extension") === "pdf" &&
        col("year").isNotNull && col("year") < minYear))
      .withColumn("latest", latest)
      .withColumn("latest_year", col("latest.year"))
      .withColumn("latest_quarter",
        when(col("latest.quarter") === -1, 4).otherwise(col("latest.quarter")))

    // W4: acceptance with null-permissive rules — unknown year passes;
    // within the latest year an unknown quarter passes (reference
    // :373-398); older years/quarters are dropped. latest_year null
    // (no dated links at all) → everything passes.
    docs
      .filter(col("latest_year").isNull || col("year").isNull ||
        (col("year") === col("latest_year") &&
          (col("quarter").isNull || col("quarter") >= col("latest_quarter"))) ||
        col("year") > col("latest_year"))
      .select(
        (if (hasCompany) Seq(col("company")) else Nil) ++ Seq(
          when(length(trim(col("text"))) > 0, trim(col("text")))
            .otherwise(col("title")).as("title"),
          col("document_type").as("category"),
          col("url"),
          // J1 enrichment fields ride along for the download stage
          col("source_url"),
          col("file_extension"),
          // docs selected for the latest quarter are labeled with it
          // when their own year/quarter is unknown — mirroring the
          // LLM's labeling of every selected doc with the quarter it
          // was asked for (src/extract_reports.py:133)
          coalesce(col("year"), col("latest_year"), lit(maxYear)).as("year"),
          coalesce(col("quarter"), col("latest_quarter"), lit(4)).as("quarter")): _*)
  }
}
