package graft.llmops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}

/** Random-hyperplane kernels: pseudo-random ±1 weight rows derived from
  * a seed (no stored model — any executor recomputes identical planes).
  */
object RhpKernels {
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(Long, Int, Int), Array[Array[Float]]]()

  def signs(seed: Long, planes: Int, dim: Int): Array[Array[Float]] =
    cache.computeIfAbsent((seed, planes, dim), { case (s, p, d) =>
      Array.tabulate(p) { pl =>
        Array.tabulate(d) { i =>
          val h = SketchKernels.mix64(s * 0x9e3779b97f4a7c15L ^ (pl * 1000003L) ^ i)
          if ((h & 1L) == 1L) 1.0f else -1.0f
        }
      }
    })

  def bucket(vec: ArrayData, planes: Int, seed: Long): Long = {
    val d = vec.numElements()
    val w = signs(seed, planes, d)
    var out = 0L
    var p = 0
    while (p < planes) {
      var proj = 0.0
      val row = w(p)
      var i = 0
      while (i < d) { proj += vec.getFloat(i) * row(i); i += 1 }
      if (proj > 0) out |= (1L << p)
      p += 1
    }
    out
  }

  /** Margin-ordered multi-probe bucket sequence (Lv et al. 2007,
    * "Multi-Probe LSH"): the query's own bucket first, then the
    * buckets reached by flipping one sign bit each, in INCREASING
    * |projection| order — the planes the query sat closest to, i.e.
    * the flips most likely to hold its true neighbors. `nprobe`
    * bounds the sequence, so probe cost is a KNOB independent of the
    * plane count: 16 planes (65k buckets of fine selectivity) with
    * nprobe = 4 touches 4 buckets, where the all-flips probe set
    * ([[VectorFuncs.lshProbes]]) must touch 17. Deterministic: ties
    * in |proj| break on plane index.
    */
  def probes(vec: ArrayData, planes: Int, seed: Long,
             nprobe: Int): Array[Long] = {
    val d = vec.numElements()
    val w = signs(seed, planes, d)
    val proj = new Array[Double](planes)
    var base = 0L
    var p = 0
    while (p < planes) {
      var s = 0.0
      val row = w(p)
      var i = 0
      while (i < d) { s += vec.getFloat(i) * row(i); i += 1 }
      proj(p) = s
      if (s > 0) base |= (1L << p)
      p += 1
    }
    val order = (0 until planes).sortBy(i => (math.abs(proj(i)), i))
    val n = math.min(nprobe, planes + 1)
    val out = new Array[Long](n)
    out(0) = base
    var j = 1
    while (j < n) {
      out(j) = base ^ (1L << order(j - 1))
      j += 1
    }
    out
  }
}

/** `rhp_bucket(vec)` — sign bits of `planes` pseudo-random hyperplane
  * projections packed into a long. One kernel call per row replaces a
  * per-element expression tree (planes × dim xxhash64 calls), keeping
  * the bucketing pass I/O-bound rather than CPU-bound.
  */
case class RhpBucket(child: Expression, planes: Int, seed: Long)
    extends UnaryExpression {
  require(planes <= 63, "bucket packed into a long")
  override def dataType: DataType = LongType
  override def prettyName: String = "rhp_bucket"
  override def nullSafeEval(input: Any): Any =
    RhpKernels.bucket(input.asInstanceOf[ArrayData], planes, seed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.llmops.RhpKernels.bucket($c, $planes, ${seed}L);")
  override protected def withNewChildInternal(c: Expression): RhpBucket =
    copy(child = c)
}

/** `rhp_probes(vec)` — the margin-ordered multi-probe bucket sequence
  * ([[RhpKernels.probes]]) as an array-of-long scalar: element 0 is
  * the vector's own bucket, elements 1..nprobe−1 flip the
  * smallest-|margin| planes in order.
  */
case class RhpProbes(child: Expression, planes: Int, seed: Long,
                     nprobe: Int) extends UnaryExpression {
  require(planes <= 63, "bucket packed into a long")
  require(nprobe >= 1, "nprobe must be >= 1")
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
  override def prettyName: String = "rhp_probes"
  override def nullSafeEval(input: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      RhpKernels.probes(input.asInstanceOf[ArrayData], planes, seed,
        nprobe))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.llmops.RhpKernels.probes($c, $planes, ${seed}L, $nprobe));"""
        .stripMargin)
  override protected def withNewChildInternal(c: Expression): RhpProbes =
    copy(child = c)
}

/** `cosine_sim(a, b)` — one tight kernel call per row. Replaces the
  * zip_with/aggregate higher-order formulation on the verify hot path:
  * HOFs evaluate their lambdas interpreted and allocate an intermediate
  * array per call, which measured ~4× slower than this kernel across
  * the banded pair generators' cosine-verify stage. Semantics mirror
  * the HOF form EXACTLY (same left-to-right accumulation, same
  * `sqrt(na)·sqrt(nb)` denominator, null on length mismatch or null
  * element, 0.0 on a zero denominator) so oracle hashes are unchanged.
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_sim"
  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.cosineBoxed(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val r = ctx.freshName("cos")
      s"""java.lang.Double $r = graft.llmops.VectorKernels.cosineBoxed($a, $b);
         |if ($r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $r.doubleValue(); }""".stripMargin
    })
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

object VectorKernels {
  /** Kernel behind [[CosineSim]] — see its scaladoc for the exact
    * semantics contract with the HOF formulation it replaced.
    */
  def cosineBoxed(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = a.getFloat(i).toDouble; val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0) 0.0 else dot / denom
  }

  /** Kernel behind [[DotProduct]]: Σ aᵢ·bᵢ, left-to-right double
    * accumulation (bit-matching DuckDB's `list_inner_product` order),
    * null on length mismatch or null element — the same contract
    * shape as [[cosineBoxed]].
    */
  def dotBoxed(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var dot = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      dot += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    dot
  }
}

/** `dot_product(a, b)` — native inner product; the ranking metric of
  * the ADC family ([[Ivf.pqTopK]] and descendants score dot(q,
  * reconstruction)), so the exact baseline those operators are
  * recall-measured against must rank by the SAME metric
  * ([[VectorFuncs.bruteForceTopK]] `metric = "dot"`; q89).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "dot_product"
  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.dotBoxed(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val r = ctx.freshName("dp")
      s"""java.lang.Double $r = graft.llmops.VectorKernels.dotBoxed($a, $b);
         |if ($r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $r.doubleValue(); }""".stripMargin
    })
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Embedding-vector operators over `array<float>` columns: the hot
  * paths ([[VectorFuncs.cosine]], [[RhpBucket]]) are native codegen
  * kernels; `dot`/`norm` remain higher-order-function utilities for
  * ad-hoc expression building.
  */
object VectorFuncs {

  /** Σ aᵢ·bᵢ as double. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** L2 norm. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity in [-1, 1]; 0 when either vector is zero.
    * Native kernel — see [[CosineSim]].
    */
  def cosine(a: Column, b: Column): Column =
    ColumnBridge.column(
      CosineSim(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Native inner product — see [[DotProduct]]. Unlike [[dot]] (the
    * HOF utility) this is a single codegen'd kernel call per row.
    */
  def dotp(a: Column, b: Column): Column =
    ColumnBridge.column(
      DotProduct(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Per-query top-k re-rank of a scored candidate set — the shared
    * tail of every similarity-search entry point. Bounded-heap partial
    * aggregation ([[TopK]]): each partition pre-reduces to ≤k
    * candidates per query before the shuffle (map-side combine), so
    * the exchange carries ≤ partitions·|queries|·k slim pairs no
    * matter how large the candidate set is. Ties break id-ascending,
    * so the result equals a `row_number` window over (sim desc, id) —
    * the form the oracles replay — without funnelling every candidate
    * through |queries| window reducers. Requires an integral id column
    * (the heap entry type).
    */
  private[llmops] def rerankTopK(scored: DataFrame, k: Int,
                                 queryId: String,
                                 corpusId: String): DataFrame = {
    TopK.requireIntegralId(scored, corpusId, "the vector top-k re-rank")
    scored
      .groupBy(col(queryId))
      .agg(TopK.topK(col(corpusId), col("sim"), k).as("topk"))
      .select(col(queryId), posexplode(col("topk")).as(Seq("pos", "t")))
      .select(col(queryId), col("t._1").as(corpusId),
        col("t._2").as("sim"), (col("pos") + 1).cast("int").as("rk"))
  }

  /** Brute-force top-k nearest neighbours by cosine similarity.
    *
    * `queries` must be small (it is broadcast); the corpus streams
    * map-side. This is the exact baseline; [[lshTopK]] / [[Ivf.ivfTopK]]
    * are the sublinear variants. The re-rank is the scale-safe
    * bounded-heap aggregation ([[rerankTopK]]).
    *
    * Output: (query_id, vec_id, sim, rk).
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     corpusId: String = "vec_id", corpusVec: String = "embedding",
                     queryId: String = "query_id", queryVec: String = "query_vec",
                     metric: String = "cosine")
      : DataFrame = {
    val score = metric match {
      case "cosine" => cosine(col(corpusVec), col(queryVec))
      // the ADC family ranks by inner product, so its exact recall
      // baseline must too (q89's contract)
      case "dot" => dotp(col(corpusVec), col(queryVec))
      case other => throw new IllegalArgumentException(
        s"""metric must be "cosine" or "dot", got "$other"""")
    }
    val scored = corpus.join(broadcast(queries)).withColumn("sim", score)
    rerankTopK(scored, k, queryId, corpusId)
  }

  /** Random-hyperplane LSH bucket id — see [[RhpBucket]]. */
  def rhpBucket(vec: Column, planes: Int, seed: Long = 42L): Column =
    ColumnBridge.column(RhpBucket(ColumnBridge.expression(vec), planes, seed))

  /** Multi-probe bucket list for a query set: the query's own bucket
    * plus all 1-bit flips. Exposed so callers (and the verify dump) can
    * materialize the exact probe set [[lshTopK]] joins on.
    */
  def lshProbes(queries: DataFrame, planes: Int,
                queryId: String = "query_id", queryVec: String = "query_vec")
      : DataFrame = {
    val probeCols = col("bucket0") +: (0 until planes).map(p =>
      col("bucket0").bitwiseXOR(shiftleft(lit(1L), p)))
    queries
      .withColumn("bucket0", rhpBucket(col(queryVec), planes))
      .withColumn("bucket", explode(array(probeCols: _*)))
      .drop("bucket0")
      .dropDuplicates(queryId, "bucket")
  }

  /** LSH-bucketed approximate top-k: corpus and queries are bucketed by
    * [[rhpBucket]]; candidates = corpus rows sharing the query's bucket
    * (plus optional multi-probe neighbours at Hamming distance 1), then
    * exact cosine re-ranking within the candidate set. At scale the
    * bucket column is a partition key: each query touches 1/2^planes of
    * the corpus instead of all of it.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int, planes: Int = 8,
              corpusId: String = "vec_id", corpusVec: String = "embedding",
              queryId: String = "query_id", queryVec: String = "query_vec")
      : DataFrame = {
    val cb = corpus.withColumn("bucket", rhpBucket(col(corpusVec), planes))
    val qb = lshProbes(queries, planes, queryId, queryVec)
    val scored = cb.join(broadcast(qb), Seq("bucket"))
      .withColumn("sim", cosine(col(corpusVec), col(queryVec)))
    // bucketing prunes candidates ~2^planes-fold, but at corpus scale a
    // query's bucket can still hold millions of rows — same bounded-heap
    // re-rank as the brute-force path ([[rerankTopK]])
    rerankTopK(scored, k, queryId, corpusId)
  }

  /** Margin-ordered multi-probe sequence — see [[RhpProbes]]. */
  def rhpProbes(vec: Column, planes: Int, nprobe: Int,
                seed: Long = 42L): Column =
    ColumnBridge.column(RhpProbes(ColumnBridge.expression(vec), planes,
      seed, nprobe))

  /** Multi-probe bucket list for a query set, margin-ordered and
    * bounded at `nprobe` — [[lshProbes]]' scale successor: the probe
    * count is a knob independent of `planes`, so the plane count can
    * buy bucket selectivity (fine partitions of the corpus) without
    * multiplying probe fan-out. Exposed for the verify dump, like
    * [[lshProbes]].
    */
  def lshMultiProbes(queries: DataFrame, planes: Int, nprobe: Int,
                     queryId: String = "query_id",
                     queryVec: String = "query_vec"): DataFrame =
    queries
      .withColumn("bucket",
        explode(rhpProbes(col(queryVec), planes, nprobe)))
      .dropDuplicates(queryId, "bucket")

  /** [[lshTopK]] with margin-ordered multi-probing (X191): candidates
    * = corpus rows in the query's `nprobe` most promising buckets,
    * exact cosine re-rank within them. At corpus scale the bucket
    * column is the partition key and `nprobe` is the fraction-touched
    * knob — the RHP-flat analog of IVF's nprobe, chosen by the same
    * recall/IO trade (and auditable the same way: q218 dumps the
    * probe sequences).
    */
  def lshMultiProbeTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                        planes: Int = 16, nprobe: Int = 4,
                        corpusId: String = "vec_id",
                        corpusVec: String = "embedding",
                        queryId: String = "query_id",
                        queryVec: String = "query_vec"): DataFrame = {
    val cb = corpus.withColumn("bucket", rhpBucket(col(corpusVec), planes))
    val qb = lshMultiProbes(queries, planes, nprobe, queryId, queryVec)
    val scored = cb.join(broadcast(qb), Seq("bucket"))
      .withColumn("sim", cosine(col(corpusVec), col(queryVec)))
    rerankTopK(scored, k, queryId, corpusId)
  }

  // ---------------------------------------------- feature-hash embedder

  /** The ONE hash space both embedders live in: explode tokens, drop
    * empties, bucket = md5[0:8] mod dim, sign = md5[8] < '8'. Shared
    * so count- and tfidf-embedded corpora stay ANN-compatible by
    * construction — a drift in either copy would silently break
    * cross-embedder similarity.
    */
  private def tokenBucketSign(docs: DataFrame, dim: Int,
                              idCol: String, textCol: String): DataFrame = {
    require(dim > 0, "dim must be positive")
    val h = md5(col("__t"))
    docs
      .select(col(idCol), explode(TextFuncs.tokens(col(textCol))).as("__t"))
      .filter(length(col("__t")) > 0)
      .withColumn("bucket",
        (conv(substring(h, 1, 8), 16, 10).cast("long") % dim).cast("int"))
      .withColumn("__sgn",
        when(substring(h, 9, 1) < "8", 1L).otherwise(-1L))
  }

  /** Signed feature-hashing core (Weinberger et al. 2009, the hashing
    * trick): each token OCCURRENCE lands in bucket
    * `md5[0:8] mod dim` with sign `md5[8] < '8' ? +1 : -1`, and the
    * per-(doc, bucket) signed counts are the raw sparse embedding. All
    * integer and md5-deterministic, so any engine replays every bucket
    * and value exactly — this is the oracle-checkable half of
    * [[hashedEmbedding]]. Empty tokens are dropped. One count
    * aggregation over slim (id, bucket, sign) rows; text never
    * shuffles.
    */
  def hashedBuckets(docs: DataFrame, dim: Int,
                    idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame =
    tokenBucketSign(docs, dim, idCol, textCol)
      .groupBy(col(idCol), col("bucket"))
      .agg(sum(col("__sgn")).as("v"))

  /** Dense L2-normalized `array<float>` embedding from
    * [[hashedBuckets]] — the model-free text embedder that makes the
    * whole retrieval path (sentence chunks → embed → IVF/ANN index)
    * executable end-to-end with nothing external: hashed bag-of-words
    * cosine IS token-distribution similarity (random signs make
    * colliding buckets cancel in expectation). A token-less document
    * yields NO row (there is nothing to embed — same contract as a
    * doc with no sentences yielding no chunks); callers that need
    * every input id present anti-join for the missing ones. Output
    * shape matches the `embeddings` table (`Array[Float]`), so every
    * ANN operator consumes it directly.
    */
  def hashedEmbedding(docs: DataFrame, dim: Int,
                      idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame =
    densifyNormalize(hashedBuckets(docs, dim, idCol, textCol), dim, idCol)

  /** (id, bucket, v) sparse rows → dense L2-normalized `array<float>`
    * — the shared tail of both hashed embedders. Bucket sums densify
    * in FIXED bucket order (sequence 0..dim−1), so the norm sum is
    * deterministic for a given bucket-value table.
    */
  private def densifyNormalize(bucketVals: DataFrame, dim: Int,
                               idCol: String): DataFrame =
    bucketVals
      .groupBy(col(idCol))
      .agg(map_from_entries(
        collect_list(struct(col("bucket"), col("v")))).as("__m"))
      .withColumn("__raw", transform(sequence(lit(0), lit(dim - 1)),
        i => coalesce(element_at(col("__m"), i), lit(0L)).cast("double")))
      .withColumn("__norm",
        sqrt(aggregate(col("__raw"), lit(0.0), (a, x) => a + x * x)))
      .withColumn("embedding", transform(col("__raw"), x =>
        when(col("__norm") > 0, x / col("__norm"))
          .otherwise(lit(0.0)).cast("float")))
      .select(col(idCol), col("embedding"))

  /** TF-IDF-weighted signed bucket values — [[hashedBuckets]] with
    * each (doc, term) contributing `sign · tf · ln(N/df)` instead of
    * its raw signed count, so corpus-common tokens (stopwords,
    * boilerplate vocabulary) nearly vanish from the vector instead of
    * dominating its buckets. The idf form is the q51 TF-IDF
    * operator's (`ln(n_docs / df)`, df = distinct docs containing the
    * term). Deterministic md5 bucketing and exact corpus stats, so
    * the oracle replays every (doc, bucket) value to a 6-decimal
    * round (float-summation order inside a bucket is the only
    * divergence). Scale shape: tf ⋈ df is a term-keyed join of two
    * slim derived tables (the vocabulary side is NOT broadcastable at
    * corpus scale — it grows with the vocabulary); text never
    * shuffles.
    */
  def hashedTfidfBuckets(docs: DataFrame, dim: Int,
                         idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame = {
    val words = tokenBucketSign(docs, dim, idCol, textCol)
    val tf = words.groupBy(col(idCol), col("__t"), col("bucket"),
        col("__sgn"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = words.groupBy(col("__t"))
      .agg(countDistinct(col(idCol)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    tf.join(dfreq, Seq("__t"))
      .crossJoin(broadcast(nDocs))
      .withColumn("__w", col("__sgn") * col("tf") *
        log(col("n_docs").cast("double") / col("df")))
      .groupBy(col(idCol), col("bucket"))
      .agg(sum(col("__w")).as("v"))
  }

  /** Dense L2-normalized TF-IDF hashed embedding — the quality step
    * between [[hashedEmbedding]]'s raw count hashing and a trained
    * encoder, in the same `embeddings`-table shape so every ANN
    * operator (and [[Retrieval]]) consumes it directly. Same
    * no-tokens → no-row contract as [[hashedEmbedding]].
    */
  def hashedTfidfEmbedding(docs: DataFrame, dim: Int,
                           idCol: String = "doc_id",
                           textCol: String = "text"): DataFrame =
    densifyNormalize(hashedTfidfBuckets(docs, dim, idCol, textCol),
      dim, idCol)

  /** Embedding-outlier report (X214): the top-k vectors by
    * centroid-distance z-score — the cheap pre-index hygiene pass
    * that catches corrupted rows (zeroed vectors, wrong-model
    * embeddings, scale bugs) BEFORE they poison IVF centroids and
    * cosine thresholds. Complements [[Pca.isotropyReport]]: that one
    * judges the population's shape, this one names the rows.
    *
    * Exact and oracle-replayable: the centroid is a d-row aggregate
    * (posexplode → avg per dim — a bounded model collected to the
    * driver, the IVF-centroid discipline), distances are one narrow
    * `zip_with`/`aggregate` projection against the broadcast-literal
    * centroid, the z-score normalizes by the population stddev (one
    * more aggregate), and the top-k is a rounded-score sort-limit
    * (TakeOrdered — per-partition heaps, no global sort). Ranks break
    * ties on id after a 4dp round so any engine replays them.
    *
    * @return k rows: (rk, idCol, dist, z) — dist/z 4dp, z against the
    *         population (stddev_pop); all-identical vectors (stddev
    *         0) report z 0
    */
  def embeddingOutliers(vecs: DataFrame, k: Int = 10,
                        vecCol: String = "embedding",
                        idCol: String = "vec_id"): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val nn = vecs.select(col(idCol), col(vecCol))
      .where(col(vecCol).isNotNull)
    val mu = nn.select(posexplode(col(vecCol)).as(Seq("__i", "__x")))
      .groupBy(col("__i")).agg(avg(col("__x")).as("__m"))
      .orderBy(col("__i")).collect().map(_.getDouble(1))
    require(mu.nonEmpty,
      s"embeddingOutliers: no non-null vectors in column '$vecCol'")
    val muArr = array(mu.map(lit): _*)
    val dist = sqrt(aggregate(
      zip_with(col(vecCol), muArr,
        (x, m) => (x.cast("double") - m) * (x.cast("double") - m)),
      lit(0.0), (a, y) => a + y))
    val dists = nn.select(col(idCol), dist.as("__dist"))
    val stats = dists.agg(avg(col("__dist")).as("__mu"),
      stddev_pop(col("__dist")).as("__sd"))
    dists.crossJoin(broadcast(stats))
      .select(col(idCol),
        round(col("__dist"), 4).as("dist"),
        round(when(col("__sd") > 0,
          (col("__dist") - col("__mu")) / col("__sd"))
          .otherwise(lit(0.0)), 4).as("z"))
      .orderBy(col("z").desc, col(idCol))
      .limit(k)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("z").desc, col(idCol))).cast("int"))
      .select(col("rk"), col(idCol), col("dist"), col("z"))
  }
}
