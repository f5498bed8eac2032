package graft.llmops

import graft.expr.FastRound
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType}

/** IVF-style approximate nearest neighbour: a coarse quantizer assigns
  * every vector to its nearest centroid (inverted list); queries probe
  * only their `nprobe` nearest lists and re-rank exactly within them.
  * Complements [[VectorFuncs.lshTopK]]: IVF adapts to the data's
  * cluster structure (the synthetic embeddings are label-clustered,
  * where random hyperplanes are blind to geometry).
  *
  * Centroids come either from a deterministic hash-ordered sample of
  * the corpus (cheapest) or from [[kmeansCentroids]], a distributed
  * Lloyd refinement whose per-iteration driver traffic is just
  * nlist·dim means. Either way the assignment/probe/re-rank dataflow
  * is identical and is the part that must scale: assignment is a
  * map-side kernel call, the probe join is an equi-join on `list_id`,
  * and only (query, list) pairs ever meet.
  */
object Ivf {

  /** Kernel: nearest / top-n nearest centroid indices. Default metric
    * is cosine (the coarse-quantizer contract every existing oracle
    * pins); `l2 = true` ranks by squared Euclidean distance instead —
    * the metric product-quantizer codebooks train and encode under,
    * where subvector magnitude matters for reconstruction.
    */
  def nearestCentroids(vec: ArrayData, cents: Array[Array[Float]],
                       nprobe: Int, l2: Boolean = false): GenericArrayData = {
    val d = vec.numElements()
    val sims = new Array[Double](cents.length)
    var c = 0
    while (c < cents.length) {
      val cv = cents(c)
      if (l2) {
        var dist = 0.0
        var i = 0
        while (i < d && i < cv.length) {
          val diff = vec.getFloat(i) - cv(i)
          dist += diff * diff
          i += 1
        }
        sims(c) = -dist // higher = closer, same sort as cosine
      } else {
        var dot = 0.0; var nv = 0.0; var nc = 0.0
        var i = 0
        while (i < d && i < cv.length) {
          val x = vec.getFloat(i); val y = cv(i)
          dot += x * y; nv += x * x; nc += y * y
          i += 1
        }
        sims(c) = if (nv == 0 || nc == 0) -2.0 else dot / math.sqrt(nv * nc)
      }
      c += 1
    }
    val idx = sims.zipWithIndex.sortBy { case (s, i) => (-s, i) }
      .take(nprobe).map(_._2)
    new GenericArrayData(idx)
  }

  /** `nearest_centroids(vec)` → array<int> of the nprobe nearest
    * centroid indices. Centroids ride along as a reference object in
    * generated code (no per-row deserialization).
    */
  case class NearestCentroids(child: Expression,
                              centroids: Array[Array[Float]], nprobe: Int,
                              l2: Boolean = false)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def prettyName: String = "nearest_centroids"
    override def nullSafeEval(input: Any): Any =
      nearestCentroids(input.asInstanceOf[ArrayData], centroids, nprobe, l2)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("centroids", centroids, "float[][]")
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.llmops.Ivf.nearestCentroids($c, $ref, $nprobe, $l2);")
    }
    override protected def withNewChildInternal(c: Expression): NearestCentroids =
      copy(child = c)
  }

  def nearest_centroids(vec: Column, centroids: Array[Array[Float]],
                        nprobe: Int): Column =
    ColumnBridge.column(
      NearestCentroids(ColumnBridge.expression(vec), centroids, nprobe))

  private def nearest_centroids_l2(vec: Column,
                                   centroids: Array[Array[Float]],
                                   nprobe: Int): Column =
    ColumnBridge.column(
      NearestCentroids(ColumnBridge.expression(vec), centroids, nprobe,
        l2 = true))

  /** Kernel: squared L2 distance to the closest centroid — the
    * per-vector term of k-means inertia. The [[AnnIndex]] drift probe
    * averages it to compare a new batch's fit under the persisted
    * coarse quantizer with the training-time fit.
    */
  def minCentroidSqDist(vec: ArrayData, cents: Array[Array[Float]]): Double = {
    val d = vec.numElements()
    var best = Double.MaxValue
    var c = 0
    while (c < cents.length) {
      val cv = cents(c)
      var dist = 0.0
      var i = 0
      while (i < d && i < cv.length) {
        val diff = vec.getFloat(i) - cv(i)
        dist += diff * diff
        i += 1
      }
      if (dist < best) best = dist
      c += 1
    }
    if (cents.isEmpty) 0.0 else best
  }

  /** `centroid_sq_dist(vec)` → double: squared distance to the nearest
    * centroid (codegen; centroids ride as a reference object).
    */
  case class CentroidSqDist(child: Expression,
                            centroids: Array[Array[Float]])
      extends UnaryExpression {
    override def dataType: DataType = DoubleType
    override def prettyName: String = "centroid_sq_dist"
    override def nullSafeEval(input: Any): Any =
      minCentroidSqDist(input.asInstanceOf[ArrayData], centroids)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("centroids", centroids, "float[][]")
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.llmops.Ivf.minCentroidSqDist($c, $ref);")
    }
    override protected def withNewChildInternal(c: Expression): CentroidSqDist =
      copy(child = c)
  }

  def centroid_sq_dist(vec: Column, centroids: Array[Array[Float]]): Column =
    ColumnBridge.column(
      CentroidSqDist(ColumnBridge.expression(vec), centroids))

  /** `pq_reconstruction_sq_dist(vec)` → double: squared error of the
    * vector's PQ reconstruction, Σ_s min_c ‖vec[s·dsub..] − books(s)(c)‖².
    * Exact by construction — [[pqEncode]] picks the NEAREST codeword
    * per subspace, so the per-subspace reconstruction error IS the
    * minimum squared distance, and this composes the same
    * [[CentroidSqDist]] codegen kernel per slice (all m calls stay in
    * one whole-stage-codegen projection, like [[pqEncode]]).
    */
  def pq_reconstruction_sq_dist(vec: Column,
                                books: Array[Array[Array[Float]]]): Column = {
    require(books.nonEmpty, "empty codebooks")
    val dsub = books(0)(0).length
    books.indices.map(s =>
      centroid_sq_dist(slice(vec, s * dsub + 1, dsub), books(s)))
      .reduce(_ + _)
  }

  /** Deterministic coarse centroids: the `nlist` corpus vectors with
    * the smallest xxhash64(id) — a seeded uniform sample.
    */
  def sampleCentroids(corpus: DataFrame, nlist: Int,
                      idCol: String = "vec_id", vecCol: String = "embedding")
      : Array[Array[Float]] =
    corpus.select(col(idCol), col(vecCol))
      .where(col(vecCol).isNotNull) // a null vector can't seed a list
      .withColumn("__h", xxhash64(col(idCol)))
      .orderBy(col("__h"))
      .limit(nlist)
      .select(col(vecCol))
      .collect()
      .map(_.getSeq[Float](0).toArray)

  /** Distributed Lloyd k-means for the coarse quantizer. Assignment is
    * the same map-side [[nearest_centroids]] kernel the query path
    * uses; the update step averages member vectors per (cluster, dim)
    * with partial aggregation, so only nlist·dim means ever reach the
    * driver per iteration — the corpus itself never moves. Seeded by
    * [[sampleCentroids]]; empty clusters keep their previous centroid.
    */
  def kmeansCentroids(corpus: DataFrame, nlist: Int, iters: Int = 5,
                      idCol: String = "vec_id", vecCol: String = "embedding")
      : Array[Array[Float]] = {
    var cents = sampleCentroids(corpus, nlist, idCol, vecCol)
    var it = 0
    while (it < iters) {
      val assigned = corpus.withColumn("list_id",
        element_at(nearest_centroids(col(vecCol), cents, 1), 1))
      val means = assigned
        .select(col("list_id"), posexplode(col(vecCol)).as(Seq("dim", "x")))
        .groupBy(col("list_id"), col("dim"))
        .agg(avg(col("x")).as("m"))
        .collect()
        .groupBy(_.getInt(0))
      cents = cents.zipWithIndex.map { case (old, ci) =>
        means.get(ci) match {
          case Some(rows) =>
            val arr = old.clone()
            rows.foreach(r => arr(r.getInt(1)) = r.getDouble(2).toFloat)
            arr
          case None => old
        }
      }
      it += 1
    }
    cents
  }

  /** Two-level inverted multi-index (IMI) coarse quantizer: the
    * vector is split in half and each half gets its own k-centroid
    * codebook, so k² product lists cost only 2·k·(dim/2) assignment
    * flops per vector — versus k²·dim for a flat quantizer with the
    * same list count. This is the hierarchical quantizer SCALING.md
    * prescribes once `nlist ∝ corpus` makes flat assignment
    * quadratic: at equal occupancy, assignment cost grows as √nlist
    * instead of nlist. Training reuses [[kmeansCentroids]] on the
    * half-vectors (`iters = 0` degrades to the hash-ordered sample
    * seed, same as the flat path). After Babenko & Lempitsky, "The
    * inverted multi-index" (CVPR 2012), re-expressed as dataflow:
    * everything downstream of `list_id` is IDENTICAL to the flat
    * path — capped bucket self-join, map-side cosine verify.
    */
  def imiCentroids(corpus: DataFrame, k: Int, iters: Int = 0,
                   idCol: String = "vec_id", vecCol: String = "embedding")
      : (Array[Array[Float]], Array[Array[Float]]) = {
    // Seed both halves from ONE hash-ordered sample scan (identical to
    // seeding each half-corpus separately — same ids, same hash order).
    val seeds = sampleCentroids(corpus, k, idCol, vecCol)
    if (seeds.isEmpty || seeds(0).length < 2) return (Array.empty, Array.empty)
    val d = seeds(0).length
    val h = d / 2
    var c1 = seeds.map(_.slice(0, h))
    var c2 = seeds.map(_.slice(h, d))
    // Joint Lloyd: one corpus scan per iteration updates BOTH
    // half-codebooks — a posexploded dim either belongs to half 1
    // (cluster l1) or half 2 (cluster l2), so one partial-agg shuffle
    // carries both update sets and only 2·k·(d/2) means reach the
    // driver. Training therefore costs the same scans as the FLAT
    // quantizer while the assignment kernel probes 2·k half-centroids
    // instead of nlist full ones.
    var it = 0
    while (it < iters) {
      val halfDim = when(col("dim") < h, col("dim"))
        .otherwise(col("dim") - h)
      // assignment in its OWN projection below the explode — in the
      // same select as the generator it would re-evaluate per
      // exploded dim (see pqCodebooks)
      val means = corpus
        .select(
          element_at(nearest_centroids(
            slice(col(vecCol), 1, h), c1, 1), 1).as("l1"),
          element_at(nearest_centroids(
            slice(col(vecCol), h + 1, d - h), c2, 1), 1).as("l2"),
          col(vecCol))
        .select(col("l1"), col("l2"),
          posexplode(col(vecCol)).as(Seq("dim", "x")))
        .select(
          when(col("dim") < h, lit(0)).otherwise(lit(1)).as("half"),
          when(col("dim") < h, col("l1")).otherwise(col("l2")).as("list_id"),
          halfDim.as("hdim"), col("x"))
        .groupBy(col("half"), col("list_id"), col("hdim"))
        .agg(avg(col("x")).as("m"))
        .collect()
        .groupBy(r => (r.getInt(0), r.getInt(1)))
      def refresh(old: Array[Array[Float]], half: Int) =
        old.zipWithIndex.map { case (prev, ci) =>
          means.get((half, ci)) match {
            case Some(rows) =>
              val arr = prev.clone()
              rows.foreach(r => arr(r.getInt(2)) = r.getDouble(3).toFloat)
              arr
            case None => prev // empty cluster keeps its centroid
          }
        }
      c1 = refresh(c1, 0)
      c2 = refresh(c2, 1)
      it += 1
    }
    (c1, c2)
  }

  /** Product-list ids for the crossed top-p probes per half: an
    * array of p² ints in [0, k²) — `first_half_centroid · k +
    * second_half_centroid`. p = 1 is plain assignment; p > 1 is the
    * multi-probe analog (a vector near a codeword boundary in either
    * half still meets its neighbors in a runner-up product list).
    * Built from the existing [[nearest_centroids]] kernel plus
    * higher-order array functions — no new Expression needed.
    */
  def imiLists(vec: Column, cents1: Array[Array[Float]],
               cents2: Array[Array[Float]], p: Int): Column = {
    if (cents1.isEmpty || cents2.isEmpty)
      return typedLit(Array.empty[Int])
    val h = cents1(0).length
    val rest = cents2(0).length
    val k = cents1.length
    val a = nearest_centroids(slice(vec, 1, h), cents1, p)
    val b = nearest_centroids(slice(vec, h + 1, rest), cents2, p)
    flatten(transform(a, x => transform(b, y => x * lit(k) + y)))
  }

  /** IVF approximate top-k by cosine. Output: (query_id, vec_id, sim, rk).
    * @param kmeansIters 0 = hash-sampled centroids (cheapest); >0 runs
    *   that many Lloyd refinement passes first (the production-shape
    *   quantizer — better list balance on clustered corpora).
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nlist: Int = 16, nprobe: Int = 4, kmeansIters: Int = 0,
              corpusId: String = "vec_id", corpusVec: String = "embedding",
              queryId: String = "query_id", queryVec: String = "query_vec")
      : DataFrame = {
    val cents =
      if (kmeansIters > 0)
        kmeansCentroids(corpus, nlist, kmeansIters, corpusId, corpusVec)
      else sampleCentroids(corpus, nlist, corpusId, corpusVec)
    ivfTopKWithCentroids(corpus, queries, k, cents, nprobe,
      corpusId, corpusVec, queryId, queryVec)
  }

  /** [[ivfTopK]] with an externally supplied quantizer. Lets a caller
    * train centroids once and reuse them across query batches (and
    * lets the verify dump derive the materialized inverted lists from
    * the SAME centroid instance the query uses — Lloyd means are
    * float sums, so re-training is not guaranteed bit-identical).
    */
  def ivfTopKWithCentroids(corpus: DataFrame, queries: DataFrame, k: Int,
                           centroids: Array[Array[Float]], nprobe: Int = 4,
                           corpusId: String = "vec_id",
                           corpusVec: String = "embedding",
                           queryId: String = "query_id",
                           queryVec: String = "query_vec")
      : DataFrame = {
    val assigned = corpus.withColumn("list_id",
      element_at(nearest_centroids(col(corpusVec), centroids, 1), 1))
    val probes = queries.withColumn("list_id",
      explode(nearest_centroids(col(queryVec), centroids, nprobe)))
    val scored = assigned.join(broadcast(probes), Seq("list_id"))
      .filter(col(corpusId) =!= col(queryId))
      .withColumn("sim", VectorFuncs.cosine(col(corpusVec), col(queryVec)))
    // an inverted list holds |corpus|/nlist vectors — still huge at
    // corpus scale, so the re-rank is the scale-safe bounded heap
    // ([[VectorFuncs.rerankTopK]])
    VectorFuncs.rerankTopK(scored, k, queryId, corpusId)
  }

  // ---------------------------------------------------------------- PQ

  /** Product-quantizer codebooks (Jégou, Douze & Schmid, "Product
    * quantization for nearest neighbor search", TPAMI 2011): the
    * vector splits into `m` subvectors of dim/m dims, each with its
    * own `k`-codeword codebook trained by L2 k-means, so a vector
    * compresses to m small ints (m bytes at k ≤ 256) — the memory
    * story for similarity search over a 100 TB corpus, where full
    * float vectors cannot stay resident. Training generalizes
    * [[imiCentroids]]'s joint Lloyd: ONE corpus scan per iteration
    * assigns all m subspaces map-side and one partial-agg shuffle
    * carries every (subspace, code, dim) mean — m·k·(dim/m) = k·dim
    * values reach the driver per iteration regardless of m.
    * `iters = 0` keeps the hash-ordered sample seeds, mirroring the
    * flat/IMI paths. Returns `books(sub)(code)(subdim)`.
    */
  def pqCodebooks(corpus: DataFrame, m: Int, k: Int, iters: Int = 0,
                  idCol: String = "vec_id", vecCol: String = "embedding")
      : Array[Array[Array[Float]]] = {
    val seeds = sampleCentroids(corpus, k, idCol, vecCol)
    if (seeds.isEmpty) return Array.empty
    val d = seeds(0).length
    require(m > 0 && d % m == 0, s"dim $d must divide into m=$m subspaces")
    val dsub = d / m
    var books = Array.tabulate(m)(s =>
      seeds.map(_.slice(s * dsub, (s + 1) * dsub)))
    var it = 0
    while (it < iters) {
      val assigns = (0 until m).map(s =>
        element_at(nearest_centroids_l2(
          slice(col(vecCol), s * dsub + 1, dsub), books(s), 1), 1)
          .as(s"__l$s"))
      // assignment in its OWN projection below the explode: an
      // expression in the same select as a generator is evaluated in
      // the Project above Generate — i.e. dim× per vector, not once
      val assigned = corpus.select(assigns :+ col(vecCol): _*)
      val means = assigned
        .select((0 until m).map(s => col(s"__l$s")) :+
          posexplode(col(vecCol)).as(Seq("dim", "x")): _*)
        .select(
          (col("dim") / dsub).cast("int").as("sub"),
          element_at(
            array((0 until m).map(s => col(s"__l$s")): _*),
            (col("dim") / dsub).cast("int") + 1).as("code"),
          (col("dim") % dsub).as("sdim"), col("x"))
        .groupBy(col("sub"), col("code"), col("sdim"))
        .agg(avg(col("x")).as("mn"))
        .collect()
        .groupBy(r => (r.getInt(0), r.getInt(1)))
      books = Array.tabulate(m)(s => books(s).zipWithIndex.map {
        case (prev, ci) =>
          means.get((s, ci)) match {
            case Some(rows) =>
              val arr = prev.clone()
              rows.foreach(r => arr(r.getInt(2)) = r.getDouble(3).toFloat)
              arr
            case None => prev // empty code keeps its codeword
          }
      })
      it += 1
    }
    books
  }

  /** Encode a vector to its `m` nearest codeword ids (L2 per
    * subspace) — array<int> of length m, each in [0, k). Composed
    * from the [[NearestCentroids]] kernel per slice; all m calls stay
    * in one whole-stage-codegen projection.
    */
  def pqEncode(vec: Column, books: Array[Array[Array[Float]]]): Column = {
    require(books.nonEmpty, "empty codebooks")
    val dsub = books(0)(0).length
    array(books.indices.map(s =>
      element_at(nearest_centroids_l2(
        slice(vec, s * dsub + 1, dsub), books(s), 1), 1)): _*)
  }

  /** Kernel behind [[PqAdcDot]]: asymmetric-distance inner product —
    * the exact query vector against the codeword reconstruction of a
    * coded corpus vector: Σ_s dot(query[s·dsub..], books(s)(code_s)).
    * Null on a null code element, a code out of range, or a query
    * whose length is not m·dsub.
    */
  def pqAdcDot(codes: ArrayData, query: ArrayData,
               books: Array[Array[Array[Float]]]): java.lang.Double = {
    val m = books.length
    if (codes.numElements() != m) return null
    val dsub = books(0)(0).length
    if (query.numElements() != m * dsub) return null
    var acc = 0.0
    var s = 0
    while (s < m) {
      if (codes.isNullAt(s)) return null
      val c = codes.getInt(s)
      if (c < 0 || c >= books(s).length) return null
      val cw = books(s)(c)
      var j = 0
      while (j < dsub) {
        acc += query.getFloat(s * dsub + j).toDouble * cw(j)
        j += 1
      }
      s += 1
    }
    acc
  }

  /** `pq_adc_dot(codes, query)` → double: ADC inner-product score of
    * a PQ-coded corpus vector against an uncompressed query. The
    * codebooks ride along as a codegen reference object; the scan
    * reads m ints per corpus row instead of dim floats.
    */
  case class PqAdcDot(left: Expression, right: Expression,
                      books: Array[Array[Array[Float]]])
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def prettyName: String = "pq_adc_dot"
    override def nullSafeEval(codes: Any, query: Any): Any =
      pqAdcDot(codes.asInstanceOf[ArrayData],
        query.asInstanceOf[ArrayData], books)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("books", books, "float[][][]")
      nullSafeCodeGen(ctx, ev, (c, q) => {
        val r = ctx.freshName("adc")
        s"""java.lang.Double $r = graft.llmops.Ivf.pqAdcDot($c, $q, $ref);
           |if ($r == null) { ${ev.isNull} = true; }
           |else { ${ev.value} = $r.doubleValue(); }""".stripMargin
      })
    }
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): PqAdcDot =
      copy(left = newLeft, right = newRight)
  }

  def pq_adc_dot(codes: Column, query: Column,
                 books: Array[Array[Array[Float]]]): Column =
    ColumnBridge.column(PqAdcDot(ColumnBridge.expression(codes),
      ColumnBridge.expression(query), books))

  /** Kernel behind [[PqLut]]: the classic per-query ADC lookup table
    * (Jégou et al. 2011 §IV-A) — `lut[s·k + c] = dot(query[s·dsub..],
    * books(s)(c))` for every (subspace, codeword). Built ONCE per
    * query row; afterwards a candidate's ADC score is just m table
    * lookups ([[pqLutDot]]) instead of a dim-float reconstruction
    * dot. Null on a query whose length is not m·dsub.
    */
  def pqLut(query: ArrayData,
            books: Array[Array[Array[Float]]]): GenericArrayData = {
    val m = books.length
    val k = books(0).length
    val dsub = books(0)(0).length
    if (query.numElements() != m * dsub) return null
    val lut = new Array[Double](m * k)
    var s = 0
    while (s < m) {
      var c = 0
      while (c < k) {
        val cw = books(s)(c)
        var acc = 0.0
        var j = 0
        while (j < dsub) {
          acc += query.getFloat(s * dsub + j).toDouble * cw(j)
          j += 1
        }
        lut(s * k + c) = acc
        c += 1
      }
      s += 1
    }
    new GenericArrayData(lut)
  }

  /** `pq_lut(query)` → array<double> of m·k precomputed subspace
    * partial dots. Evaluated on the QUERY side before the broadcast,
    * so the table is built once per query row and ships inside the
    * broadcast relation — the corpus-side scan never recomputes it.
    */
  case class PqLut(child: Expression, books: Array[Array[Array[Float]]])
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def nullable: Boolean = true
    override def prettyName: String = "pq_lut"
    override def nullSafeEval(input: Any): Any =
      pqLut(input.asInstanceOf[ArrayData], books)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("books", books, "float[][][]")
      nullSafeCodeGen(ctx, ev, q => {
        val r = ctx.freshName("lut")
        s"""org.apache.spark.sql.catalyst.util.GenericArrayData $r =
           |  graft.llmops.Ivf.pqLut($q, $ref);
           |if ($r == null) { ${ev.isNull} = true; }
           |else { ${ev.value} = $r; }""".stripMargin
      })
    }
    override protected def withNewChildInternal(c: Expression): PqLut =
      copy(child = c)
  }

  def pq_lut(query: Column, books: Array[Array[Array[Float]]]): Column =
    ColumnBridge.column(PqLut(ColumnBridge.expression(query), books))

  /** Kernel behind [[PqLutDot]]: Σ_s lut[s·k + codes_s] — the
    * lookup-table ADC score. Same null contract as [[pqAdcDot]]
    * (null code element or out-of-range code → null; a lut of the
    * wrong length → null), so the two scans rank identically.
    */
  def pqLutDot(codes: ArrayData, lut: ArrayData, k: Int): java.lang.Double = {
    val m = codes.numElements()
    if (lut.numElements() != m * k) return null
    var acc = 0.0
    var s = 0
    while (s < m) {
      if (codes.isNullAt(s)) return null
      val c = codes.getInt(s)
      if (c < 0 || c >= k) return null
      acc += lut.getDouble(s * k + c)
      s += 1
    }
    acc
  }

  /** `pq_lut_dot(codes, lut)` → double: the table-lookup ADC score.
    * Needs no codebook reference at all — the per-query table already
    * folded the codewords in, so the hot scan touches only m ints and
    * m table cells per candidate.
    */
  case class PqLutDot(left: Expression, right: Expression, k: Int)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def prettyName: String = "pq_lut_dot"
    override def nullSafeEval(codes: Any, lut: Any): Any =
      pqLutDot(codes.asInstanceOf[ArrayData], lut.asInstanceOf[ArrayData], k)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (c, l) => {
        val r = ctx.freshName("lutdot")
        s"""java.lang.Double $r = graft.llmops.Ivf.pqLutDot($c, $l, $k);
           |if ($r == null) { ${ev.isNull} = true; }
           |else { ${ev.value} = $r.doubleValue(); }""".stripMargin
      })
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): PqLutDot =
      copy(left = newLeft, right = newRight)
  }

  def pq_lut_dot(codes: Column, lut: Column, k: Int): Column =
    ColumnBridge.column(PqLutDot(ColumnBridge.expression(codes),
      ColumnBridge.expression(lut), k))

  /** PQ approximate top-k by ADC inner product: train codebooks,
    * compress the corpus to (id, m codes), broadcast the query batch
    * and scan the codes — the exhaustive-scan shape whose per-row
    * cost is m table lookups over m ints (each query's m·k subspace
    * dots are precomputed once — Jégou et al. 2011 §IV-A), versus dim
    * float multiplies for brute force, and whose scan input is
    * ~dim·4/m× smaller than the raw vectors.
    * Output: (query_id, vec_id, sim,
    * rk) where sim is the ADC score ROUNDED to 6 dp before ranking:
    * identical-code candidates tie exactly and fall back to the id
    * tiebreak deterministically, in this engine and in any replay
    * whose floating-point summation order differs (the driver
    * oracle's GROUP BY sum).
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
             m: Int = 8, codewords: Int = 16, iters: Int = 0,
             corpusId: String = "vec_id", corpusVec: String = "embedding",
             queryId: String = "query_id", queryVec: String = "query_vec")
      : DataFrame = {
    val books = pqCodebooks(corpus, m, codewords, iters, corpusId, corpusVec)
    pqTopKWithBooks(corpus, queries, k, books,
      corpusId, corpusVec, queryId, queryVec)
  }

  /** [[pqTopK]] with externally trained codebooks — same seam as
    * [[ivfTopKWithCentroids]]: train once, reuse across query
    * batches, and let the verify dump derive codes from the SAME
    * codebook instance the query scores with.
    */
  def pqTopKWithBooks(corpus: DataFrame, queries: DataFrame, k: Int,
                      books: Array[Array[Array[Float]]],
                      corpusId: String = "vec_id",
                      corpusVec: String = "embedding",
                      queryId: String = "query_id",
                      queryVec: String = "query_vec"): DataFrame = {
    val coded = corpus.select(col(corpusId),
      pqEncode(col(corpusVec), books).as("codes"))
    adcTopK(coded, queries, k, books, None, corpusId, queryId, queryVec)
  }

  /** The scoring tail of every PQ-coded scan ([[pqTopKWithBooks]],
    * [[ivfAdcTopKWithModels]], [[imiAdcTopKWithModels]],
    * [[ivfAdcResidualTopKWithModels]], [[AnnIndex.topKWithModels]]).
    * Each query row gets its m·k lookup table ([[pq_lut]]) on the
    * query side, so the table ships inside the broadcast relation and
    * a candidate costs m lookups and adds instead of a dim-float
    * reconstruction dot. With `lists` (the list ids each query
    * probes) the queries explode to one row per probed list and join
    * the coded rows on `list_id`; without, every query meets every
    * coded row (the exhaustive scan's cross join). `coarse`, a
    * per-(query, list) term evaluated on the query side, adds to the
    * score: the residual path's centroid dot. The score rounds to
    * 6 dp before ranking, so identical-code candidates tie exactly
    * and fall back to the id tie-break in any replay; self-pairs and
    * unscorable candidates (null vector, dim mismatch) drop before
    * the bounded-heap re-rank.
    */
  private[llmops] def adcTopK(coded: DataFrame, queries: DataFrame, k: Int,
                              books: Array[Array[Array[Float]]],
                              lists: Option[Column],
                              corpusId: String, queryId: String,
                              queryVec: String,
                              coarse: Option[Column] = None): DataFrame = {
    val withLut = queries.withColumn("__lut", pq_lut(col(queryVec), books))
    val pairs = lists match {
      case None => coded.crossJoin(broadcast(withLut))
      case Some(ls) =>
        // the lut projection sits BELOW the probe explode — in the same
        // select it would land in the Project above Generate and rebuild
        // the m·k table once per probed list instead of once per query
        val probes = withLut.withColumn("list_id", explode(ls))
        coded.join(broadcast(coarse.fold(probes)(
          probes.withColumn("__cdot", _))), Seq("list_id"))
    }
    val lutDot = pq_lut_dot(col("codes"), col("__lut"), books(0).length)
    // fast_round, not functions.round: Spark's double round goes
    // through BigDecimal.valueOf (a Double.toString per row) and
    // measured ~20× the cost of the whole lookup-table kernel it
    // quantizes (AdcProbe, 51 M candidates) — and the pushed-down
    // null filter makes the join condition pay it a second time
    val scored = pairs
      .withColumn("sim", FastRound.fast_round(
        coarse.fold(lutDot)(_ => col("__cdot") + lutDot), 6))
      .drop("__lut", "__cdot")
      .filter(col(corpusId) =!= col(queryId))
      // an unscorable candidate cannot rank — drop it rather than let
      // a null score pad a sparse heap
      .filter(col("sim").isNotNull)
    VectorFuncs.rerankTopK(scored, k, queryId, corpusId)
  }

  /** Kernel behind [[CentroidResidual]]: vec − centroids(list), the
    * residual the classic IVFADC encodes (Jégou et al. 2011 §V.A) —
    * residuals concentrate around the origin, so the same m·k codeword
    * budget quantizes them with less error than raw vectors. Null on
    * an out-of-range list id or a dim mismatch.
    */
  def centroidResidual(vec: ArrayData, list: Int,
                       cents: Array[Array[Float]]): GenericArrayData = {
    if (list < 0 || list >= cents.length) return null
    val cv = cents(list)
    val d = vec.numElements()
    if (d != cv.length) return null
    val out = new Array[Float](d)
    var i = 0
    while (i < d) {
      out(i) = vec.getFloat(i) - cv(i)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** `centroid_residual(vec, list_id)` → array<float>: the vector
    * minus its assigned coarse centroid. Centroids ride along as a
    * codegen reference object, same as [[NearestCentroids]].
    */
  case class CentroidResidual(left: Expression, right: Expression,
                              cents: Array[Array[Float]])
      extends BinaryExpression {
    override def dataType: DataType = ArrayType(FloatType, containsNull = false)
    override def nullable: Boolean = true
    override def prettyName: String = "centroid_residual"
    override def nullSafeEval(vec: Any, list: Any): Any =
      centroidResidual(vec.asInstanceOf[ArrayData],
        list.asInstanceOf[Int], cents)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("cents", cents, "float[][]")
      nullSafeCodeGen(ctx, ev, (v, l) => {
        val r = ctx.freshName("resid")
        s"""org.apache.spark.sql.catalyst.util.GenericArrayData $r =
           |  graft.llmops.Ivf.centroidResidual($v, $l, $ref);
           |if ($r == null) { ${ev.isNull} = true; }
           |else { ${ev.value} = $r; }""".stripMargin
      })
    }
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): CentroidResidual =
      copy(left = newLeft, right = newRight)
  }

  def centroid_residual(vec: Column, listId: Column,
                        cents: Array[Array[Float]]): Column =
    ColumnBridge.column(CentroidResidual(ColumnBridge.expression(vec),
      ColumnBridge.expression(listId), cents))

  /** Kernel behind [[CentroidDot]]: dot(vec, centroids(list)) — the
    * coarse term of the residual ADC score: dot(q, centroid + Σ
    * codewords) = dot(q, centroid) + the residual LUT sum, so the
    * centroid dot is computed once per (query, probed list) on the
    * broadcast side and every candidate in the list reuses it. Null
    * on an out-of-range list or dim mismatch.
    */
  def centroidDot(vec: ArrayData, list: Int,
                  cents: Array[Array[Float]]): java.lang.Double = {
    if (list < 0 || list >= cents.length) return null
    val cv = cents(list)
    val d = vec.numElements()
    if (d != cv.length) return null
    var acc = 0.0
    var i = 0
    while (i < d) {
      acc += vec.getFloat(i).toDouble * cv(i)
      i += 1
    }
    acc
  }

  /** `centroid_dot(vec, list_id)` → double. */
  case class CentroidDot(left: Expression, right: Expression,
                         cents: Array[Array[Float]])
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def prettyName: String = "centroid_dot"
    override def nullSafeEval(vec: Any, list: Any): Any =
      centroidDot(vec.asInstanceOf[ArrayData], list.asInstanceOf[Int], cents)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("cents", cents, "float[][]")
      nullSafeCodeGen(ctx, ev, (v, l) => {
        val r = ctx.freshName("cdot")
        s"""java.lang.Double $r = graft.llmops.Ivf.centroidDot($v, $l, $ref);
           |if ($r == null) { ${ev.isNull} = true; }
           |else { ${ev.value} = $r.doubleValue(); }""".stripMargin
      })
    }
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): CentroidDot =
      copy(left = newLeft, right = newRight)
  }

  def centroid_dot(vec: Column, listId: Column,
                   cents: Array[Array[Float]]): Column =
    ColumnBridge.column(CentroidDot(ColumnBridge.expression(vec),
      ColumnBridge.expression(listId), cents))

  /** PQ codebooks trained on coarse residuals (vec − assigned
    * centroid) instead of raw vectors — the codebook half of IVFADC
    * proper (Jégou et al. 2011 §V.A). One extra map-side projection
    * (assign + subtract) in front of the SAME one-scan-per-iteration
    * joint Lloyd as [[pqCodebooks]]; driver traffic is unchanged at
    * k·dim means per iteration.
    */
  def pqCodebooksResidual(corpus: DataFrame,
                          centroids: Array[Array[Float]],
                          m: Int, k: Int, iters: Int = 0,
                          idCol: String = "vec_id",
                          vecCol: String = "embedding")
      : Array[Array[Array[Float]]] = {
    val resid = corpus.where(col(vecCol).isNotNull)
      .select(col(idCol),
        centroid_residual(col(vecCol),
          element_at(nearest_centroids(col(vecCol), centroids, 1), 1),
          centroids).as(vecCol))
    pqCodebooks(resid, m, k, iters, idCol, vecCol)
  }

  // ---------------------------------------------------------------- SQ8

  /** Per-dimension (min, scale) bounds for 8-bit scalar quantization:
    * scale_d = (max_d − min_d)/255, so codes 0–255 span the observed
    * range. One aggregation pass (posexplode → groupBy(dim)); 2·dim
    * doubles reach the driver. SQ8 is the first compression tier of
    * the quantizer progression — 4× smaller scans than raw floats
    * with near-exact ranking (each dim keeps 8 bits of its own range,
    * vs PQ's m codes for the whole vector) — the right trade when
    * memory, not flops, is the binding constraint but PQ's recall
    * loss is not yet acceptable.
    */
  def sq8Bounds(corpus: DataFrame, vecCol: String = "embedding")
      : (Array[Double], Array[Double]) = {
    val rows = corpus.where(col(vecCol).isNotNull)
      .select(posexplode(col(vecCol)).as(Seq("dim", "x")))
      .groupBy(col("dim"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .collect()
    if (rows.isEmpty) return (Array.empty, Array.empty)
    val d = rows.map(_.getInt(0)).max + 1
    val mins = new Array[Double](d)
    val scales = new Array[Double](d)
    rows.foreach { r =>
      val i = r.getInt(0)
      mins(i) = r.getFloat(1).toDouble
      scales(i) = (r.getFloat(2).toDouble - mins(i)) / 255.0
    }
    (mins, scales)
  }

  /** Kernel behind [[Sq8Encode]]: code_d = floor((x_d − min_d)/scale_d
    * + 0.5) clamped to [0, 255] (plain floor(x+0.5), no banker's
    * rounding — replayable bit-for-bit as SQL). A constant dimension
    * (scale 0) encodes as 0 and dequantizes to its min. Null on a dim
    * mismatch.
    */
  def sq8Encode(vec: ArrayData, mins: Array[Double],
                scales: Array[Double]): GenericArrayData = {
    val d = vec.numElements()
    if (d != mins.length) return null
    val out = new Array[Int](d)
    var i = 0
    while (i < d) {
      val c =
        if (scales(i) == 0) 0
        else math.floor((vec.getFloat(i) - mins(i)) / scales(i) + 0.5).toInt
      out(i) = if (c < 0) 0 else if (c > 255) 255 else c
      i += 1
    }
    new GenericArrayData(out)
  }

  /** `sq8_encode(vec)` → array<int> of dim 8-bit codes. */
  case class Sq8Encode(child: Expression, mins: Array[Double],
                       scales: Array[Double]) extends UnaryExpression {
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def nullable: Boolean = true
    override def prettyName: String = "sq8_encode"
    override def nullSafeEval(input: Any): Any =
      sq8Encode(input.asInstanceOf[ArrayData], mins, scales)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val mRef = ctx.addReferenceObj("mins", mins, "double[]")
      val sRef = ctx.addReferenceObj("scales", scales, "double[]")
      nullSafeCodeGen(ctx, ev, v => {
        val r = ctx.freshName("sq8")
        s"""org.apache.spark.sql.catalyst.util.GenericArrayData $r =
           |  graft.llmops.Ivf.sq8Encode($v, $mRef, $sRef);
           |if ($r == null) { ${ev.isNull} = true; }
           |else { ${ev.value} = $r; }""".stripMargin
      })
    }
    override protected def withNewChildInternal(c: Expression): Sq8Encode =
      copy(child = c)
  }

  def sq8_encode(vec: Column, mins: Array[Double],
                 scales: Array[Double]): Column =
    ColumnBridge.column(Sq8Encode(ColumnBridge.expression(vec), mins, scales))

  /** Kernel behind [[Sq8Dot]]: dot(query, dequantized codes) =
    * Σ q_d·(min_d + scale_d·code_d). The scan reads dim small ints
    * instead of dim floats; flops are unchanged (this tier buys
    * memory, not compute). Null on any length mismatch or null code.
    */
  def sq8Dot(codes: ArrayData, query: ArrayData, mins: Array[Double],
             scales: Array[Double]): java.lang.Double = {
    val d = codes.numElements()
    if (d != mins.length || query.numElements() != d) return null
    var acc = 0.0
    var i = 0
    while (i < d) {
      if (codes.isNullAt(i)) return null
      acc += query.getFloat(i).toDouble *
        (mins(i) + scales(i) * codes.getInt(i))
      i += 1
    }
    acc
  }

  /** `sq8_dot(codes, query)` → double. */
  case class Sq8Dot(left: Expression, right: Expression,
                    mins: Array[Double], scales: Array[Double])
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def prettyName: String = "sq8_dot"
    override def nullSafeEval(codes: Any, query: Any): Any =
      sq8Dot(codes.asInstanceOf[ArrayData],
        query.asInstanceOf[ArrayData], mins, scales)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val mRef = ctx.addReferenceObj("mins", mins, "double[]")
      val sRef = ctx.addReferenceObj("scales", scales, "double[]")
      nullSafeCodeGen(ctx, ev, (c, q) => {
        val r = ctx.freshName("sqd")
        s"""java.lang.Double $r = graft.llmops.Ivf.sq8Dot($c, $q, $mRef, $sRef);
           |if ($r == null) { ${ev.isNull} = true; }
           |else { ${ev.value} = $r.doubleValue(); }""".stripMargin
      })
    }
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Sq8Dot =
      copy(left = newLeft, right = newRight)
  }

  def sq8_dot(codes: Column, query: Column, mins: Array[Double],
              scales: Array[Double]): Column =
    ColumnBridge.column(Sq8Dot(ColumnBridge.expression(codes),
      ColumnBridge.expression(query), mins, scales))

  /** SQ8 brute-force top-k by dequantized inner product — the
    * exhaustive-scan shape of [[pqTopK]] at the 4×-compression /
    * near-exact-recall point of the trade curve. Scores round to
    * 6 dp before ranking (same determinism contract as the ADC
    * scans). Output: (query_id, vec_id, sim, rk).
    */
  def sq8TopK(corpus: DataFrame, queries: DataFrame, k: Int,
              corpusId: String = "vec_id", corpusVec: String = "embedding",
              queryId: String = "query_id", queryVec: String = "query_vec")
      : DataFrame = {
    val (mins, scales) = sq8Bounds(corpus, corpusVec)
    sq8TopKWithBounds(corpus, queries, k, mins, scales,
      corpusId, corpusVec, queryId, queryVec)
  }

  /** [[sq8TopK]] with externally computed bounds — the same
    * train-once seam as the other `*With*` entry points.
    */
  def sq8TopKWithBounds(corpus: DataFrame, queries: DataFrame, k: Int,
                        mins: Array[Double], scales: Array[Double],
                        corpusId: String = "vec_id",
                        corpusVec: String = "embedding",
                        queryId: String = "query_id",
                        queryVec: String = "query_vec"): DataFrame = {
    val coded = corpus.select(col(corpusId),
      sq8_encode(col(corpusVec), mins, scales).as("codes"))
    val scored = coded.crossJoin(broadcast(queries))
      .withColumn("sim", FastRound.fast_round(
        sq8_dot(col("codes"), col(queryVec), mins, scales), 6))
      .filter(col(corpusId) =!= col(queryId))
      .filter(col("sim").isNotNull)
    VectorFuncs.rerankTopK(scored, k, queryId, corpusId)
  }

  /** IVFADC (Jégou et al. 2011 §V): the standard composition of the
    * two pruning axes — the coarse quantizer bounds WHICH candidates
    * a query meets (probe `nprobe` inverted lists, as [[ivfTopK]]),
    * and PQ codes bound what each candidate COSTS to hold and score
    * (m ints + m codebook lookups, as [[pqTopK]]). The scan that
    * reaches the ADC kernel carries only (list_id, id, codes): at
    * corpus scale neither the raw vectors nor the unpruned candidate
    * set ever flows. Same dataflow as ivfTopK with the exact-cosine
    * re-rank swapped for the compressed score.
    */
  def ivfAdcTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                 nlist: Int = 16, nprobe: Int = 4,
                 m: Int = 8, codewords: Int = 16,
                 coarseIters: Int = 0, pqIters: Int = 0,
                 corpusId: String = "vec_id", corpusVec: String = "embedding",
                 queryId: String = "query_id", queryVec: String = "query_vec")
      : DataFrame = {
    val cents =
      if (coarseIters > 0)
        kmeansCentroids(corpus, nlist, coarseIters, corpusId, corpusVec)
      else sampleCentroids(corpus, nlist, corpusId, corpusVec)
    val books = pqCodebooks(corpus, m, codewords, pqIters, corpusId, corpusVec)
    ivfAdcTopKWithModels(corpus, queries, k, cents, books, nprobe,
      corpusId, corpusVec, queryId, queryVec)
  }

  /** [[ivfAdcTopK]] with externally trained coarse centroids and
    * codebooks — the train-once / verify-from-the-same-instance seam
    * shared with [[ivfTopKWithCentroids]] and [[pqTopKWithBooks]].
    */
  def ivfAdcTopKWithModels(corpus: DataFrame, queries: DataFrame, k: Int,
                           centroids: Array[Array[Float]],
                           books: Array[Array[Array[Float]]],
                           nprobe: Int = 4,
                           corpusId: String = "vec_id",
                           corpusVec: String = "embedding",
                           queryId: String = "query_id",
                           queryVec: String = "query_vec"): DataFrame = {
    val coded = corpus.select(col(corpusId),
      element_at(nearest_centroids(col(corpusVec), centroids, 1), 1)
        .as("list_id"),
      pqEncode(col(corpusVec), books).as("codes"))
    adcTopK(coded, queries, k, books,
      Some(nearest_centroids(col(queryVec), centroids, nprobe)),
      corpusId, queryId, queryVec)
  }

  /** IMI+ADC: the full Babenko & Lempitsky multi-index composed with
    * the Jégou ADC scan — the 100 TB end-state of the quantizer
    * progression. The coarse axis is the k² product lists of
    * [[imiCentroids]] (assignment probes 2·k half-centroids, √nlist
    * cost), the candidate axis is [[pqEncode]]'s m-int codes (the
    * scan touches m ints + m LUT cells per candidate, never raw
    * floats). Everything downstream of (list_id, codes) is IDENTICAL
    * to [[ivfAdcTopKWithModels]] — same join, same LUT scan, same
    * bounded-heap re-rank.
    */
  def imiAdcTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                 kHalf: Int = 8, p: Int = 2,
                 m: Int = 8, codewords: Int = 16,
                 imiIters: Int = 0, pqIters: Int = 0,
                 corpusId: String = "vec_id", corpusVec: String = "embedding",
                 queryId: String = "query_id", queryVec: String = "query_vec")
      : DataFrame = {
    val (c1, c2) = imiCentroids(corpus, kHalf, imiIters, corpusId, corpusVec)
    val books = pqCodebooks(corpus, m, codewords, pqIters, corpusId, corpusVec)
    imiAdcTopKWithModels(corpus, queries, k, c1, c2, books, p,
      corpusId, corpusVec, queryId, queryVec)
  }

  /** [[imiAdcTopK]] with externally trained half-codebooks and PQ
    * codebooks — the same train-once seam as the other `*WithModels`
    * entry points ([[Models]] persists both shapes).
    */
  def imiAdcTopKWithModels(corpus: DataFrame, queries: DataFrame, k: Int,
                           cents1: Array[Array[Float]],
                           cents2: Array[Array[Float]],
                           books: Array[Array[Array[Float]]],
                           p: Int = 2,
                           corpusId: String = "vec_id",
                           corpusVec: String = "embedding",
                           queryId: String = "query_id",
                           queryVec: String = "query_vec"): DataFrame = {
    val coded = corpus.select(col(corpusId),
      element_at(imiLists(col(corpusVec), cents1, cents2, 1), 1)
        .as("list_id"),
      pqEncode(col(corpusVec), books).as("codes"))
    adcTopK(coded, queries, k, books,
      Some(imiLists(col(queryVec), cents1, cents2, p)),
      corpusId, queryId, queryVec)
  }

  /** Residual-encoding IVFADC — IVFADC *proper* (Jégou et al. 2011
    * §V.A): codes quantize the residual (vec − coarse centroid), not
    * the raw vector, so the m·k codeword budget models a distribution
    * concentrated near the origin — better codeword utilization at
    * the same m (recall side-by-side vs the raw-vector variant is
    * recorded in SCALING.md). The score decomposes exactly:
    * dot(q, centroid + Σ codewords) = centroid_dot + the residual
    * LUT sum — the centroid term is computed once per (query, probed
    * list) on the broadcast side; the per-candidate scan still
    * touches only m ints + m LUT cells.
    */
  def ivfAdcResidualTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                         nlist: Int = 16, nprobe: Int = 4,
                         m: Int = 8, codewords: Int = 16,
                         coarseIters: Int = 0, pqIters: Int = 0,
                         corpusId: String = "vec_id",
                         corpusVec: String = "embedding",
                         queryId: String = "query_id",
                         queryVec: String = "query_vec"): DataFrame = {
    val cents =
      if (coarseIters > 0)
        kmeansCentroids(corpus, nlist, coarseIters, corpusId, corpusVec)
      else sampleCentroids(corpus, nlist, corpusId, corpusVec)
    val books = pqCodebooksResidual(corpus, cents, m, codewords, pqIters,
      corpusId, corpusVec)
    ivfAdcResidualTopKWithModels(corpus, queries, k, cents, books, nprobe,
      corpusId, corpusVec, queryId, queryVec)
  }

  /** [[ivfAdcResidualTopK]] with externally trained models. */
  def ivfAdcResidualTopKWithModels(corpus: DataFrame, queries: DataFrame,
                                   k: Int,
                                   centroids: Array[Array[Float]],
                                   books: Array[Array[Array[Float]]],
                                   nprobe: Int = 4,
                                   corpusId: String = "vec_id",
                                   corpusVec: String = "embedding",
                                   queryId: String = "query_id",
                                   queryVec: String = "query_vec")
      : DataFrame = {
    // assignment in its own projection, residual-encode above it — the
    // residual needs the assigned list, so the two stay separate
    // projections inside one whole-stage-codegen span
    val coded = corpus
      .select(col(corpusId), col(corpusVec),
        element_at(nearest_centroids(col(corpusVec), centroids, 1), 1)
          .as("list_id"))
      .select(col(corpusId), col("list_id"),
        pqEncode(centroid_residual(col(corpusVec), col("list_id"),
          centroids), books).as("codes"))
    adcTopK(coded, queries, k, books,
      Some(nearest_centroids(col(queryVec), centroids, nprobe)),
      corpusId, queryId, queryVec,
      coarse = Some(centroid_dot(col(queryVec), col("list_id"), centroids)))
  }
}
