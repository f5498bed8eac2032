package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Public facade: the session builder, the table sources, and the
  * compositions that exist only here. Every operator lives on its
  * module object (`llmops.Dedup`, `pipeline.Crawl`, `expr.UrlFuncs`, ...)
  * and is called there; see README.md's coverage matrix for the
  * SURVEY §2 mapping.
  *
  * {{{
  * import graft.Graft
  * val spark = Graft.session()                  // extensions registered
  * val docs  = Graft.documents(spark, dir)
  * val clean = llmops.Dedup.minhashDedup(docs)  // near-dup removal
  * val ranked = llmops.VectorFuncs.bruteForceTopK(emb, queries, k = 10)
  * }}}
  */
object Graft {

  /** Session with the engine's extensions, tuned local defaults: the
    * one session builder of the library, its drivers, tools and tests. */
  def session(master: String = "local[*]", shufflePartitions: Int = 32)
      : SparkSession = {
    val s = SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // Spark's 128-group default abandons hash aggregation and SORTS
      // the whole input — sized for unbounded object buffers like
      // collect_list. This engine's object aggregates (CollectTopK
      // heaps, HLL sketches) are bounded per group, so hashing tens of
      // thousands of groups is safe; the AdcProbe measured the sort
      // fallback at +1.6 s over 51 M rows × 1 024 groups.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "65536")
      // The 100-entry default codegen class cache thrashes under the
      // iterative lifecycle operators (k-means/PQ training + encode +
      // serve produce hundreds of distinct generated classes per
      // query): every task then RE-compiles its projections behind
      // the compile KeyLock, serializing short stages — thread dumps
      // showed 23/32 task threads blocked on that lock. Sized to hold
      // a full lifecycle run; entries are soft-referenced, so this is
      // a cap, not a reservation.
      .config("spark.sql.codegen.cache.maxEntries", "3000")
      // AQE's parallelism-first coalescing targets
      // max(shuffleBytes/parallelism, minPartitionSize); the 1m default
      // floor serializes compute-dense slim shuffles (string-kernel
      // verifies, exploded-gram windows: KBs of bytes, seconds of CPU)
      // onto a handful of cores. 64k keeps every core busy whenever a
      // shuffle holds >= 64k*cores bytes and is a no-op at production
      // shuffle sizes, where bytes/parallelism is far above 1m anyway.
      // Measured 2x on the exact-join tiers (OPTIMIZATION_r14.md);
      // A/B other floors with `graft.tools.Run ab`.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        "64k")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  // ---- sources -----------------------------------------------------
  def documents(s: SparkSession, dir: String): DataFrame = Tables.documents(s, dir)
  def embeddings(s: SparkSession, dir: String): DataFrame = Tables.embeddings(s, dir)
  def events(s: SparkSession, dir: String): DataFrame = Tables.events(s, dir)

  // ---- compositions ------------------------------------------------
  /** Transitive-closure-correct dedup: one representative per
    * connected component of the near-dup pair graph.
    */
  def clusterDedup(docs: DataFrame, threshold: Double = 0.7): DataFrame =
    ops.ConnectedComponents.dedupByComponent(docs,
      llmops.Dedup.minhashPairs(docs, threshold)
        .select(org.apache.spark.sql.functions.col("id_a"),
                org.apache.spark.sql.functions.col("id_b")))
  /** [[clusterDedup]] keeping each cluster's BEST member by quality
    * score (min-id tiebreak) instead of the arbitrary minimum id —
    * near-dup clusters keep their clean copy (q145).
    */
  def clusterDedupBest(docs: DataFrame, threshold: Double = 0.7): DataFrame =
    ops.ConnectedComponents.dedupByComponentBest(docs,
      llmops.Dedup.minhashPairs(docs, threshold)
        .select(org.apache.spark.sql.functions.col("id_a"),
                org.apache.spark.sql.functions.col("id_b")),
      llmops.TextFuncs.qualityScore(
        org.apache.spark.sql.functions.col("text")))
  /** DSIR Gumbel-top-k selection from a ratio model (q100). */
  def dsirSelect(raw: DataFrame, ratios: DataFrame, k: Int): DataFrame = {
    val scored = llmops.Dsir.importanceScores(raw, ratios)
      .join(raw, Seq("doc_id"))
    llmops.Dsir.gumbelTopK(scored, k, org.apache.spark.sql.functions.col("text"))
  }
  /** Per-group quantile thresholds + bucket assignment (CCNet, q102). */
  def groupQuantileBins(df: DataFrame, group: Column, value: Column,
                        probs: Seq[Double], binCol: String = "bin")
      : DataFrame = {
    val thr = llmops.Binning.groupQuantileThresholds(df, group, value, probs)
    llmops.Binning.groupBins(df, thr, group, value, binCol)
  }
  /** Corpus minus documents quoting the reference at or beyond
    * `maxQuoteTokens` — [[llmops.Dedup.quoteSpans]] as a
    * decontamination filter (anti-join on the flagged corpus ids; X224
    * composition). The corpus/reference column names are forwarded to
    * the detector, so the flag key and the anti-join key are always the
    * SAME column. */
  def quoteSafeCorpus(corpus: DataFrame, reference: DataFrame,
                      maxQuoteTokens: Long, n: Int = 8,
                      idCol: String = "doc_id", textCol: String = "text",
                      refId: String = "doc_id", refText: String = "text",
                      maxRefDf: Int = 100): DataFrame = {
    val flagged = llmops.Dedup.quoteSpans(corpus, reference, n,
        corpusId = idCol, corpusText = textCol,
        refId = refId, refText = refText, maxRefDf = maxRefDf)
      .where(col("max_quote_tokens") >= maxQuoteTokens)
      .select(col("corpus_id").as(idCol))
    corpus.join(flagged, Seq(idCol), "left_anti")
  }
}
