package graft.llmops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.io.ParquetStore

/** Parquet persistence for ANN model parameters — coarse centroids and
  * product-quantizer codebooks. This is the train-once / serve-many
  * seam behind every `*WithCentroids` / `*WithBooks` / `*WithModels`
  * entry point: train on one (expensive) corpus scan, persist, and
  * serve later query batches — or other clusters — from the saved
  * model without retraining. Reference analog: its extraction model
  * (the LLM choice at `extract_reports.py:38-51`) is externally
  * persisted by definition; here the "model" is the quantizer itself.
  *
  * Layout matches the Verify dump shape the DuckDB oracle already
  * replays (SparkEntry q87/q88): one row per weight,
  * `(sub, code, sdim, w)` for codebooks and `(code, sdim, w)` for
  * centroids — but `w` is stored as FLOAT, not DOUBLE, so a
  * load∘save round-trip is bit-identical and a query served from a
  * persisted model reproduces the in-memory run exactly (pinned by
  * ModelsSpec). Weights are tiny (nlist·dim + m·k·dim/m floats), so
  * single-file parquet and a driver-side collect are the right shape
  * at any corpus scale — the model size never grows with the data.
  */
object Models {

  /** Save a coarse-quantizer centroid table: rows (code, sdim, w). */
  def saveCentroids(spark: SparkSession, path: String,
                    cents: Array[Array[Float]]): Unit = {
    import spark.implicits._
    val rows = for {
      (c, code) <- cents.zipWithIndex.toSeq
      (w, sdim) <- c.zipWithIndex
    } yield (code, sdim, w)
    rows.toDF("code", "sdim", "w")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load centroids saved by [[saveCentroids]]. Rebuilds the ragged
    * array from explicit (code, sdim) indices, so it is insensitive
    * to parquet row order.
    */
  def loadCentroids(spark: SparkSession, path: String): Array[Array[Float]] =
    centroidsOf(spark.read.parquet(path))

  private def centroidsOf(table: DataFrame): Array[Array[Float]] = {
    val rows = table.select("code", "sdim", "w").collect()
    rebuild2(rows.map(r => (r.getInt(0), r.getInt(1), r.getFloat(2))))
  }

  /** Save PQ codebooks (or IMI half-codebooks — any ragged
    * `books(sub)(code)(sdim)`): rows (sub, code, sdim, w).
    */
  def saveCodebooks(spark: SparkSession, path: String,
                    books: Array[Array[Array[Float]]]): Unit = {
    import spark.implicits._
    val rows = for {
      (book, sub) <- books.zipWithIndex.toSeq
      (c, code) <- book.zipWithIndex.toSeq
      (w, sdim) <- c.zipWithIndex.toSeq
    } yield (sub, code, sdim, w)
    rows.toDF("sub", "code", "sdim", "w")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load codebooks saved by [[saveCodebooks]]. */
  def loadCodebooks(spark: SparkSession, path: String)
      : Array[Array[Array[Float]]] =
    codebooksOf(spark.read.parquet(path))

  private def codebooksOf(table: DataFrame): Array[Array[Array[Float]]] = {
    val rows = table.select("sub", "code", "sdim", "w").collect()
    val bySub = rows.groupBy(_.getInt(0))
    Array.tabulate(if (bySub.isEmpty) 0 else bySub.keys.max + 1) { sub =>
      rebuild2(bySub.getOrElse(sub, Array.empty[Row])
        .map(r => (r.getInt(1), r.getInt(2), r.getFloat(3))))
    }
  }

  /** Save a full IVFADC model (coarse centroids + PQ codebooks) under
    * one directory: `dir/centroids`, `dir/codebooks`.
    */
  def saveIvfAdc(spark: SparkSession, dir: String,
                 cents: Array[Array[Float]],
                 books: Array[Array[Array[Float]]]): Unit = {
    saveCentroids(spark, s"$dir/centroids", cents)
    saveCodebooks(spark, s"$dir/codebooks", books)
  }

  /** Load a model saved by [[saveIvfAdc]]: (centroids, codebooks).
    * Every ANN serve and append loads its model, so the weights are
    * memoized by the stores' file listings ([[graft.io.ParquetStore.small]]):
    * a repeat load runs no Spark job, any re-save reloads, and the two
    * stores load side by side. The caller gets its own copy of the
    * arrays.
    */
  def loadIvfAdc(spark: SparkSession, dir: String)
      : (Array[Array[Float]], Array[Array[Array[Float]]]) = {
    val Seq(centsA, booksA) = Par.run(Seq[() => AnyRef](
      () => ParquetStore.small(spark, s"$dir/centroids",
        "ivfadc-centroids")(centroidsOf),
      () => ParquetStore.small(spark, s"$dir/codebooks",
        "ivfadc-codebooks")(codebooksOf)))
    (centsA.asInstanceOf[Array[Array[Float]]].map(_.clone),
      booksA.asInstanceOf[Array[Array[Array[Float]]]].map(_.map(_.clone)))
  }

  /** Save an OPQ model (rotation matrix + PQ codebooks trained in the
    * rotated space) under one directory: `dir/rotation`,
    * `dir/codebooks`. The rotation reuses the centroid row shape —
    * (code, sdim, w) = (row, col, weight) — d² floats, single-file.
    */
  def saveOpq(spark: SparkSession, dir: String,
              rot: Array[Array[Float]],
              books: Array[Array[Array[Float]]]): Unit = {
    saveCentroids(spark, s"$dir/rotation", rot)
    saveCodebooks(spark, s"$dir/codebooks", books)
  }

  /** Load a model saved by [[saveOpq]]: (rotation, codebooks). */
  def loadOpq(spark: SparkSession, dir: String)
      : (Array[Array[Float]], Array[Array[Array[Float]]]) =
    (loadCentroids(spark, s"$dir/rotation"),
      loadCodebooks(spark, s"$dir/codebooks"))

  /** Save an IMI coarse quantizer (two half-codebooks) — stored in
    * codebook shape with sub ∈ {0, 1}; the halves may have different
    * widths (odd dim), which the ragged rebuild preserves.
    */
  def saveImi(spark: SparkSession, path: String,
              c1: Array[Array[Float]], c2: Array[Array[Float]]): Unit =
    saveCodebooks(spark, path, Array(c1, c2))

  /** Load an IMI quantizer saved by [[saveImi]]: (firstHalf, secondHalf). */
  def loadImi(spark: SparkSession, path: String)
      : (Array[Array[Float]], Array[Array[Float]]) = {
    val halves = loadCodebooks(spark, path)
    require(halves.length == 2,
      s"IMI model at $path has ${halves.length} halves, expected 2")
    (halves(0), halves(1))
  }

  /** Persist the LSH plan a sketch-table pair was built with — one row
    * (bands, rows_per_band, threshold, shingle_size) next to the
    * persisted [[Dedup.minhashSigs]]/[[Dedup.lshBanded]] outputs, so a
    * later [[Dedup.incrementalDedup]] run can re-derive the EXACT split
    * instead of re-planning from a threshold that may since have
    * defaulted differently. Same train-once/serve-many contract as the
    * ANN models: load∘save identity, pinned by ModelsSpec.
    */
  def saveLshPlan(spark: SparkSession, path: String, plan: LshPlan.Plan,
                  shingleSize: Int = 5): Unit = {
    import spark.implicits._
    Seq((plan.bands, plan.rowsPerBand, plan.threshold, shingleSize))
      .toDF("bands", "rows_per_band", "threshold", "shingle_size")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load a plan saved by [[saveLshPlan]]: (plan, shingleSize). */
  def loadLshPlan(spark: SparkSession, path: String)
      : (LshPlan.Plan, Int) = {
    val r = spark.read.parquet(path)
      .select("bands", "rows_per_band", "threshold", "shingle_size").head()
    (LshPlan.Plan(r.getInt(0), r.getInt(1), r.getDouble(2)), r.getInt(3))
  }

  /** Persist a trained BPE merge list ([[Vocab.trainBpe]] output).
    * Merge ORDER is the model — rank is stored explicitly as a column
    * so the load is insensitive to parquet row order, and a fresh
    * session's `bpe_encode` over the loaded list is bit-identical to
    * the training session's (pinned by ModelsSpec). Train-once /
    * serve-many for tokenizers, mirroring the ANN model seam.
    */
  def saveBpe(spark: SparkSession, path: String,
              merges: Seq[(String, String)]): Unit = {
    import spark.implicits._
    merges.zipWithIndex.map { case ((l, r), rank) => (rank, l, r) }
      .toDF("rank", "left", "right")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load merges saved by [[saveBpe]], in training order. */
  def loadBpe(spark: SparkSession, path: String): Seq[(String, String)] =
    spark.read.parquet(path).select("rank", "left", "right").collect()
      .sortBy(_.getInt(0))
      .map(r => (r.getString(1), r.getString(2))).toSeq

  /** Persist a trained unigram-LM vocabulary ([[Vocab.trainUnigram]]
    * output): rows (rank, piece, logp), logp as DOUBLE so load∘save is
    * the identity and `unigram_encode` from the loaded table Viterbi-
    * segments bit-identically to the in-memory model.
    */
  def saveUnigram(spark: SparkSession, path: String,
                  pieces: Seq[(String, Double)]): Unit = {
    import spark.implicits._
    pieces.zipWithIndex.map { case ((p, lp), rank) => (rank, p, lp) }
      .toDF("rank", "piece", "logp")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load a vocabulary saved by [[saveUnigram]], in model order. */
  def loadUnigram(spark: SparkSession, path: String): Seq[(String, Double)] =
    spark.read.parquet(path).select("rank", "piece", "logp").collect()
      .sortBy(_.getInt(0))
      .map(r => (r.getString(1), r.getDouble(2))).toSeq

  /** Persist the n-gram LM count tables behind [[LangModel.nllScores]]
    * / [[LangModel.knNllScores]] under one directory (`dir/unigrams`,
    * `dir/bigrams`). The tables are exact integer counts, so persisted
    * scoring is bit-identical to in-session scoring by construction;
    * count-prune with `LangModel.bigramCounts(minCount)` BEFORE saving
    * to keep the stored model broadcastable (the KenLM discipline).
    * Unlike the driver-side models above these stay DataFrames end to
    * end — the count tables join against the corpus, so they must live
    * on the cluster, never on the driver.
    */
  def saveLmTables(dir: String, uni: DataFrame, bi: DataFrame): Unit = {
    uni.select("w", "c").write.mode("overwrite").parquet(s"$dir/unigrams")
    bi.select("w1", "w2", "c").write.mode("overwrite").parquet(s"$dir/bigrams")
  }

  /** Load LM tables saved by [[saveLmTables]]: (unigrams, bigrams). */
  def loadLmTables(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame) =
    (spark.read.parquet(s"$dir/unigrams"),
      spark.read.parquet(s"$dir/bigrams"))

  /** Persist a trained quality model ([[QualityModel.train]] output):
    * rows (fh, w), the bias under [[QualityModel.BiasKey]] (4 chars,
    * non-hex — can never collide with an md5-prefix bucket). Weights
    * stay DOUBLE (the training arithmetic is double end-to-end), so
    * load∘save is the identity and a fresh session scoring from the
    * loaded weights is bit-identical to the training session
    * (ModelsSpec). ≤ 65 537 rows by construction — the same
    * bounded-model contract as every other seam here.
    */
  def saveQualityModel(spark: SparkSession, path: String,
                       weights: Map[String, Double], bias: Double): Unit = {
    import spark.implicits._
    (weights.toSeq :+ (QualityModel.BiasKey -> bias)).toDF("fh", "w")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load a model saved by [[saveQualityModel]]: (weights, bias). */
  def loadQualityModel(spark: SparkSession, path: String)
      : (Map[String, Double], Double) = {
    val rows = spark.read.parquet(path).select("fh", "w").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    val bias = rows.collectFirst {
      case (QualityModel.BiasKey, v) => v }.getOrElse(0.0)
    (rows.toMap - QualityModel.BiasKey, bias)
  }

  /** Persist a DSIR ratio table ([[Dsir.logRatios]] output, its
    * [[Dsir.DefaultKey]] unseen-bucket row included): rows (fh, lr),
    * lr as DOUBLE. ≤ 65 537 rows regardless of corpus size. The loaded
    * table drops into [[Dsir.importanceScores]] (DataFrame form) or
    * [[Dsir.ratioMap]] → [[Dsir.logwColumn]] (scalar/streaming form)
    * with scores bit-identical to the training session (ModelsSpec).
    */
  def saveDsir(path: String, ratios: DataFrame): Unit =
    ratios.select("fh", "lr")
      .coalesce(1).write.mode("overwrite").parquet(path)

  /** Load a ratio table saved by [[saveDsir]]. */
  def loadDsir(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path).select("fh", "lr")

  /** (outer, inner, w) triples → ragged Array[Array[Float]], shaped by
    * the max indices actually present.
    */
  private def rebuild2(rows: Array[(Int, Int, Float)]): Array[Array[Float]] = {
    if (rows.isEmpty) return Array.empty
    val byOuter = rows.groupBy(_._1)
    Array.tabulate(byOuter.keys.max + 1) { outer =>
      val inner = byOuter.getOrElse(outer, Array.empty[(Int, Int, Float)])
      val arr = new Array[Float](
        if (inner.isEmpty) 0 else inner.map(_._2).max + 1)
      inner.foreach { case (_, i, w) => arr(i) = w }
      arr
    }
  }
}
