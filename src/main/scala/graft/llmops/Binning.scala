package graft.llmops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Quantile binning without a global sort — curriculum bucketing for
  * training-data pipelines (mix-by-length, mix-by-quality).
  *
  * `ntile` over a global ORDER BY funnels the whole corpus through one
  * window partition; this instead computes the exact quantile
  * thresholds in ONE aggregation (a handful of doubles), broadcasts
  * them back, and assigns bins with a narrow `when`-chain — two scans,
  * zero wide shuffles, any corpus size. Thresholds are exact
  * (`percentile`, not approx), so the binning is deterministic and
  * reproducible across engines.
  */
object Binning {

  /** Append `binCol` (0..probs.size) to `df`, where row value ≤ the
    * k-th quantile of `value` ⇒ bin k. `probs` must be strictly
    * increasing, each in (0, 1).
    */
  def quantileBins(df: DataFrame, value: Column, probs: Seq[Double],
                   binCol: String = "bin"): DataFrame = {
    require(probs.nonEmpty && probs.forall(p => p > 0 && p < 1) &&
      probs == probs.sorted && probs.distinct == probs,
      "probs must be strictly increasing fractions in (0,1)")
    val thrCols = probs.indices.map(i => s"__q$i")
    val thresholds = df.agg(
      percentile(value, lit(probs.head)).as(thrCols.head),
      probs.tail.zipWithIndex.map { case (p, i) =>
        percentile(value, lit(p)).as(thrCols(i + 1)) }: _*)
    val bin = thrCols.zipWithIndex.foldLeft(null.asInstanceOf[Column]) {
      case (acc, (c, i)) =>
        if (acc == null) when(value <= col(c), i)
        else acc.when(value <= col(c), i)
    }.otherwise(probs.size)
    df.crossJoin(broadcast(thresholds))
      .withColumn(binCol, bin)
      .drop(thrCols: _*)
  }

  /** Per-group quantile thresholds — the CCNet move (Wenzek et al.
    * 2020 bucket perplexity into head/middle/tail PER LANGUAGE, not
    * globally, because perplexity scales differ by language). One
    * aggregation (|groups|·|probs| doubles), returned as its own
    * frame so callers can persist/dump it: bucketing then replays
    * from the threshold table alone in any engine — the q102 oracle
    * contract. Thresholds are rounded to 6 decimals so the replayed
    * comparisons are unambiguous across engines.
    */
  def groupQuantileThresholds(df: DataFrame, group: Column,
                              value: Column, probs: Seq[Double])
      : DataFrame = {
    require(probs.nonEmpty && probs.forall(p => p > 0 && p < 1) &&
      probs == probs.sorted && probs.distinct == probs,
      "probs must be strictly increasing fractions in (0,1)")
    df.groupBy(group.as("grp")).agg(
      round(percentile(value, lit(probs.head)), 6).as("q0"),
      probs.tail.zipWithIndex.map { case (p, i) =>
        round(percentile(value, lit(p)), 6).as(s"q${i + 1}") }: _*)
  }

  /** Per-group rank normalization (X174): percent_rank of `valueCol`
    * WITHIN `byCol`, as a join against per-(group, value) cumulative
    * counts instead of a window over raw rows. Why it exists: a
    * global quality threshold over heterogeneous sources silently
    * reweights the mixture (one source's score distribution sits
    * higher, so "top 30% overall" is 60% of it and 5% of another);
    * rank-normalizing per source first makes "keep the top p of EACH
    * source" a single global cut. Why not `percent_rank().over(...)`:
    * that window sorts each group in one task — with |sources| groups
    * over a 100 TB corpus that is a handful of straggler tasks doing
    * all the work. Here raw rows only hash-join back against the
    * (group, value, below, n) dimension, whose size is DISTINCT
    * values per group (tiny for quantized scores; document the
    * degenerate continuous case where it approaches the row count).
    *
    * Exactly percent_rank's definition: (rows strictly below) /
    * (n − 1); single-row groups get 0. Ties share a rank — identical
    * scores stay identical after normalization (no fake ordering
    * injected). NULL handling matches the window too: the dimension
    * join is null-SAFE (`<=>` on both keys), so null-valued or
    * null-group rows keep flowing instead of silently vanishing, and
    * a null value ranks FIRST within its group (Spark's default
    * nulls-first ascending order — percent_rank's null placement).
    */
  def rankNormalize(df: DataFrame, valueCol: String, byCol: String,
                    outCol: String = "rank_norm"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = df.groupBy(col(byCol), col(valueCol))
      .agg(count(lit(1)).as("__c"))
    val wOrd = Window.partitionBy(col(byCol)).orderBy(col(valueCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy(col(byCol))
    val dim = counts
      .withColumn("__below", coalesce(sum(col("__c")).over(wOrd), lit(0L)))
      .withColumn("__n", sum(col("__c")).over(wAll))
      .select(col(byCol).as("__by"), col(valueCol).as("__val"),
        col("__below"), col("__n"))
    df.join(dim,
        col(byCol) <=> col("__by") && col(valueCol) <=> col("__val"))
      .withColumn(outCol,
        when(col("__n") > 1,
          col("__below").cast("double") / (col("__n") - lit(1)))
          .otherwise(lit(0.0)))
      .drop("__by", "__val", "__below", "__n")
  }

  /** Winsorize a numeric column per group (X186): clamp values
    * outside the [lo, hi] percentile band to the band edges — the
    * standard outlier treatment before any mean-based statistic
    * (a single 100 MB document drags a source's average length into
    * fiction; clamping at p01/p99 keeps the row, bounds its leverage,
    * and unlike dropping preserves counts). Exact interpolated
    * percentiles per group (one aggregate; `percentile` — the
    * thresholds are also returned so the clamp is auditable), then a
    * broadcast join back. Two shuffles of slim rows.
    *
    * @return df + (loCol, hiCol, outCol): the group's band edges and
    *         the clamped value (4dp)
    */
  def winsorize(df: DataFrame, valueCol: String, byCol: String,
                lo: Double = 0.01, hi: Double = 0.99,
                outCol: String = "winsorized"): DataFrame = {
    require(lo >= 0 && hi <= 1 && lo < hi, "need 0 <= lo < hi <= 1")
    val bands = df.groupBy(col(byCol))
      .agg(percentile(col(valueCol), lit(lo)).as("__lo"),
        percentile(col(valueCol), lit(hi)).as("__hi"))
    df.join(broadcast(bands), Seq(byCol), "left")
      .withColumn(outCol,
        round(least(greatest(col(valueCol).cast("double"), col("__lo")),
          col("__hi")), 4))
      .withColumnRenamed("__lo", s"${outCol}_lo")
      .withColumnRenamed("__hi", s"${outCol}_hi")
  }

  /** Assign per-group bins from a [[groupQuantileThresholds]] table:
    * value ≤ group's q_k ⇒ bin k, else |probs|. A broadcast join on
    * the group key (the table is |groups| rows) plus a narrow
    * when-chain — no wide shuffle, any corpus size.
    */
  def groupBins(df: DataFrame, thresholds: DataFrame, group: Column,
                value: Column, binCol: String = "bin"): DataFrame = {
    val nq = thresholds.columns.count(_.startsWith("q"))
    val bin = (0 until nq).foldLeft(null.asInstanceOf[Column]) {
      case (acc, i) =>
        if (acc == null) when(value <= col(s"q$i"), i)
        else acc.when(value <= col(s"q$i"), i)
    }.otherwise(nq)
    df.join(broadcast(thresholds), group === col("grp"), "left")
      .withColumn(binCol, bin)
      .drop((0 until nq).map(i => s"q$i") :+ "grp": _*)
  }

  /** Population Stability Index drift report (X211) — the standard
    * model/data-monitoring drift number: bin the CURRENT snapshot by
    * the REFERENCE snapshot's quantile edges and measure
    *
    *   PSI = Σ_b (p_cur(b) − p_ref(b)) · ln(p_cur(b)/p_ref(b))
    *
    * (< 0.1 stable, 0.1–0.25 moderate, > 0.25 action — the classic
    * credit-scoring rule of thumb). The pipeline use: did this crawl
    * round shift the document-length / quality-score distribution
    * enough to re-examine the mix before training on it. Complements
    * the categorical χ² audit (X189) on the numeric axis and the
    * per-key SnapshotDiff (X41) with a distribution-level verdict.
    *
    * Deterministic and oracle-replayable: edges are EXACT interpolated
    * reference quantiles rounded to 6dp (the [[groupQuantileThresholds]]
    * convention), bin assignment is `Σ 1[edge < v]` — a pure codegen
    * when-chain, no sort — and empty-bin proportions are clamped at
    * `1e-6` inside the log (the standard PSI fix, stated rather than
    * hidden). Shape: one aggregate per side for counts, one tiny
    * edge aggregate, a `bins`-row broadcast frame at the end; the
    * corpus never shuffles.
    *
    * @return one row per bin: (bin, lo, hi, n_ref, n_cur, p_ref,
    *         p_cur, contrib, psi) — lo/hi the bin's edge band (null at
    *         the open ends), proportions/contrib/psi 4dp, `psi` the
    *         total riding every row
    */
  def psiReport(ref: DataFrame, cur: DataFrame, valueCol: String,
                bins: Int = 10): DataFrame = {
    require(bins >= 2 && bins <= 1000, "bins in [2, 1000]")
    val spark = ref.sparkSession
    val probs = (1 until bins).map(_.toDouble / bins)
    def clean(df: DataFrame) = df
      .select(col(valueCol).cast("double").as("__v"))
      .where(col("__v").isNotNull)
    val refNN = clean(ref)
    val curNN = clean(cur)
    val eRow = refNN.agg(
      round(percentile(col("__v"), lit(probs.head)), 6).as("e0"),
      probs.tail.zipWithIndex.map { case (p, i) =>
        round(percentile(col("__v"), lit(p)), 6).as(s"e${i + 1}") }: _*)
      .head()
    // percentile of an empty input is null — fail with the cause, not
    // an opaque NPE from getDouble
    require(!eRow.isNullAt(0),
      s"psiReport: reference has no non-null values in '$valueCol'")
    val edges = (0 until bins - 1).map(eRow.getDouble)
    def counted(df: DataFrame, name: String) = df
      .withColumn("__bin",
        edges.map(e => when(col("__v") > e, 1).otherwise(0))
          .reduce(_ + _))
      .groupBy(col("__bin").as("bin"))
      .agg(count(lit(1)).as(name))
    val allBins = spark.range(bins)
      .select(col("id").cast("int").as("bin"))
    val joined = allBins
      .join(counted(refNN, "n_ref"), Seq("bin"), "left")
      .join(counted(curNN, "n_cur"), Seq("bin"), "left")
      .select(col("bin"),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
    val edgeArr = array(edges.map(lit): _*)
    val eps = 1e-6
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1))
    joined
      .withColumn("__tr", sum(col("n_ref")).over(w))
      .withColumn("__tc", sum(col("n_cur")).over(w))
      .withColumn("p_ref", col("n_ref") / col("__tr").cast("double"))
      .withColumn("p_cur", col("n_cur") / col("__tc").cast("double"))
      .withColumn("contrib",
        (col("p_cur") - col("p_ref")) *
          log(greatest(col("p_cur"), lit(eps)) /
            greatest(col("p_ref"), lit(eps))))
      .withColumn("psi", round(sum(col("contrib")).over(w), 4))
      .select(col("bin"),
        when(col("bin") > 0, element_at(edgeArr, col("bin"))).as("lo"),
        when(col("bin") < bins - 1,
          element_at(edgeArr, col("bin") + 1)).as("hi"),
        col("n_ref"), col("n_cur"),
        round(col("p_ref"), 4).as("p_ref"),
        round(col("p_cur"), 4).as("p_cur"),
        round(col("contrib"), 4).as("contrib"),
        col("psi"))
  }
}
