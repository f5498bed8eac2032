package graft.llmops

import breeze.linalg.{eigSym, svd, DenseMatrix, DenseVector}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType}

import org.apache.spark.sql.graftshim.ColumnBridge

/** Optimized Product Quantization (Ge et al., CVPR 2013): learn an
  * orthogonal rotation `R` so that PQ's independent per-subspace
  * codebooks quantize `R·x` with less error than raw `x`. Plain PQ is
  * blind to cross-subspace correlation — if the corpus's variance is
  * concentrated along directions that straddle subspace boundaries,
  * every subspace wastes its k codewords on a thin marginal. The
  * rotation re-axes the data first; since `R` is orthogonal it
  * preserves inner products (`⟨Rq, Rx⟩ = ⟨q, x⟩`), so ADC scores in
  * rotated space rank exactly like raw-space scores at zero query-time
  * cost beyond one d² mat-vec per query.
  *
  * Training is the non-parametric alternation of Ge §4.1:
  * rotate → retrain codebooks → re-solve `R` in closed form
  * (orthogonal Procrustes on the data↔reconstruction correlation).
  * The distributed shapes: codebook training reuses
  * [[Ivf.pqCodebooks]]'s one-scan-per-iteration joint Lloyd on a
  * rotated projection; the Procrustes step needs only the d×d
  * correlation `C = Σᵢ yᵢ·xᵢᵀ`, accumulated map-side per partition
  * (one d² double buffer each) and tree-reduced — d² values reach the
  * driver regardless of corpus size, where a d×d SVD (breeze, ~μs at
  * embedding dims) closes the iteration. Nothing corpus-sized ever
  * leaves the executors, so the alternation costs the same class of
  * scans PQ training already pays.
  */
object Opq {

  /** Kernel: dense mat-vec `out(i) = Σ_j mat(i)(j)·vec(j)` — the
    * rotation applied to one vector. Accumulates each output in a
    * double, stores float32 — so replays that sum in double and
    * truncate (the DuckDB oracle's `::REAL`) reproduce the elements.
    * Null on a dim mismatch rather than silently truncating.
    */
  def matVec(vec: ArrayData, mat: Array[Array[Float]]): GenericArrayData = {
    val d = mat.length
    if (vec.numElements() != (if (d == 0) 0 else mat(0).length)) return null
    val out = new Array[Float](d)
    var i = 0
    while (i < d) {
      val row = mat(i)
      var acc = 0.0
      var j = 0
      while (j < row.length) {
        acc += row(j) * vec.getFloat(j)
        j += 1
      }
      out(i) = acc.toFloat
      i += 1
    }
    new GenericArrayData(out)
  }

  /** `mat_vec(vec)` → array<float> — the matrix rides along as a
    * codegen reference object, same pattern as [[Ivf.NearestCentroids]].
    */
  case class MatVec(child: Expression, mat: Array[Array[Float]])
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(FloatType, containsNull = false)
    override def nullable: Boolean = true
    override def prettyName: String = "mat_vec"
    override def nullSafeEval(input: Any): Any =
      matVec(input.asInstanceOf[ArrayData], mat)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("mat", mat, "float[][]")
      nullSafeCodeGen(ctx, ev, c => {
        s"""${ev.value} = graft.llmops.Opq.matVec($c, $ref);
           |${ev.isNull} = ${ev.value} == null;""".stripMargin
      })
    }
    override protected def withNewChildInternal(c: Expression): MatVec =
      copy(child = c)
  }

  def mat_vec(vec: Column, mat: Array[Array[Float]]): Column =
    ColumnBridge.column(MatVec(ColumnBridge.expression(vec), mat))

  /** d×d identity — the `opqIters = 0` rotation, pinning the
    * degeneracy `opq(I) ≡ pq` that OpqSpec asserts.
    */
  def identityRotation(d: Int): Array[Array[Float]] =
    Array.tabulate(d, d)((i, j) => if (i == j) 1f else 0f)

  /** Train (rotation, codebooks). `opqIters = 0` with
    * `init = "identity"` returns `(I, pqCodebooks(...))` — plain PQ.
    * The default `init = "pca"` starts from the parametric solution
    * (Ge §3.2, OPQ_P): PCA re-axes the data and eigenvalue allocation
    * deals the principal directions onto subspaces so each subspace
    * carries a balanced variance product — without it the
    * non-parametric alternation tends to stay in the identity's local
    * minimum when the corpus's energy is smeared across axes (the
    * failure OpqSpec's Hadamard-mixed fixture reproduces). Each OPQ
    * iteration then re-solves the rotation against the current
    * codebooks' reconstructions (Procrustes) and retrains the
    * codebooks on the newly rotated corpus, so the returned pair is
    * always consistent: `books` were trained on `R`-rotated vectors.
    *
    * At 100 TB train on a sample (the quantizer needs ~10⁶ vectors,
    * not the corpus — FAISS practice); the moment/correlation passes
    * and [[Ivf.pqCodebooks]] all just scan whatever `corpus` frame
    * they are handed, so sampling is the caller's one-line filter
    * upstream.
    */
  def trainOpq(corpus: DataFrame, m: Int, k: Int,
               pqIters: Int = 1, opqIters: Int = 2,
               idCol: String = "vec_id", vecCol: String = "embedding",
               init: String = "pca")
      : (Array[Array[Float]], Array[Array[Array[Float]]]) = {
    val first = corpus.select(col(vecCol)).where(col(vecCol).isNotNull)
      .head(1)
    if (first.isEmpty) return (Array.empty, Array.empty)
    val d = first(0).getSeq[Float](0).length
    var rot = init match {
      case "pca"      => pcaInit(corpus, d, m, vecCol)
      case "identity" => identityRotation(d)
      case other => throw new IllegalArgumentException(
        s"""init="$other" — use "pca" or "identity"""")
    }
    var books = pqOnRotated(corpus, rot, m, k, pqIters, idCol, vecCol)
    var it = 0
    while (it < opqIters && books.nonEmpty) {
      val corr = correlation(corpus, rot, books, vecCol)
      rot = procrustes(corr, d)
      books = pqOnRotated(corpus, rot, m, k, pqIters, idCol, vecCol)
      it += 1
    }
    (rot, books)
  }

  /** Parametric init (Ge §3.2): eigen-decompose the covariance (one
    * corpus scan accumulates the d²+d moment buffer per partition,
    * tree-reduced to the driver), then deal principal directions onto
    * the m subspaces by eigenvalue allocation — greedily give the
    * next-largest eigenvalue to the non-full subspace with the
    * smallest log-variance product, so no subspace ends up owning all
    * the energy. Rows of the returned rotation are the eigenvectors
    * in dealt order: rotated coordinate t is the projection onto the
    * eigenvector assigned to slot t.
    */
  private[llmops] def pcaInit(corpus: DataFrame, d: Int, m: Int,
                              vecCol: String): Array[Array[Float]] = {
    val moments = corpus.select(col(vecCol)).where(col(vecCol).isNotNull)
      .rdd.mapPartitions { rows =>
        // layout: [0, d²) = Σ x·xᵀ, [d², d²+d) = Σ x, [d²+d] = n
        val buf = new Array[Double](d * d + d + 1)
        rows.foreach { row =>
          val x = row.getSeq[Float](0).toArray
          if (x.length == d) {
            var i = 0
            while (i < d) {
              val xi = x(i).toDouble
              var j = 0
              while (j < d) { buf(i * d + j) += xi * x(j); j += 1 }
              buf(d * d + i) += xi
              i += 1
            }
            buf(d * d + d) += 1
          }
        }
        Iterator.single(buf)
      }
      .treeReduce { (a, b) =>
        var i = 0
        while (i < a.length) { a(i) += b(i); i += 1 }
        a
      }
    val n = moments(d * d + d)
    if (n == 0) return identityRotation(d)
    val cov = new DenseMatrix(d, d, Array.tabulate(d * d) { p =>
      val i = p % d; val j = p / d
      moments(i * d + j) / n -
        (moments(d * d + i) / n) * (moments(d * d + j) / n)
    })
    val eigSym.EigSym(lambda, evs) = eigSym(cov) // ascending eigenvalues
    val desc = (0 until d).sortBy(i => -lambda(i))
    val dsub = d / m
    val logProd = new Array[Double](m)
    val buckets = Array.fill(m)(List.empty[Int])
    desc.foreach { e =>
      val b = (0 until m)
        .filter(buckets(_).length < dsub)
        .minBy(logProd(_))
      buckets(b) = e :: buckets(b)
      logProd(b) += math.log(math.max(lambda(e), 1e-12))
    }
    val order = buckets.flatMap(_.reverse)
    Array.tabulate(d, d)((t, j) => evs(j, order(t)).toFloat)
  }

  private def pqOnRotated(corpus: DataFrame, rot: Array[Array[Float]],
                          m: Int, k: Int, pqIters: Int,
                          idCol: String, vecCol: String)
      : Array[Array[Array[Float]]] =
    Ivf.pqCodebooks(
      corpus.select(col(idCol), mat_vec(col(vecCol), rot).as(vecCol)),
      m, k, pqIters, idCol, vecCol)

  /** One corpus scan → `C = Σᵢ decode(encode(R·xᵢ))·xᵢᵀ`, the d×d
    * correlation the Procrustes step needs. Per-partition imperative
    * accumulation into one d² double buffer (the mllib treeAggregate
    * shape) — rotate, encode, and the rank-1 update are all local;
    * only partition buffers are reduced.
    */
  private def correlation(corpus: DataFrame, rot: Array[Array[Float]],
                          books: Array[Array[Array[Float]]],
                          vecCol: String): Array[Double] = {
    val d = rot.length
    val acc = corpus.select(col(vecCol)).where(col(vecCol).isNotNull)
      .rdd.mapPartitions { rows =>
        val buf = new Array[Double](d * d)
        rows.foreach { row =>
          val x = row.getSeq[Float](0).toArray
          if (x.length == d) {
            val y = reconstructLocal(encodeLocal(rotateLocal(x, rot), books), books)
            var i = 0
            while (i < d) {
              val yi = y(i).toDouble
              var j = 0
              while (j < d) { buf(i * d + j) += yi * x(j); j += 1 }
              i += 1
            }
          }
        }
        Iterator.single(buf)
      }
      .treeReduce { (a, b) =>
        var i = 0
        while (i < a.length) { a(i) += b(i); i += 1 }
        a
      }
    acc
  }

  /** Closed-form rotation update: maximize `tr(Rᵀ·C)` over orthogonal
    * `R` (Ge §4.1 eq. 8) — `C = UΣVᵀ` ⇒ `R = U·Vᵀ`. d×d on the
    * driver; `C` is row-major `corr(i·d + j)`.
    */
  private def procrustes(corr: Array[Double], d: Int): Array[Array[Float]] = {
    // breeze DenseMatrix is column-major: entry (i, j) at data(j*d + i)
    val cm = new DenseMatrix(d, d, Array.tabulate(d * d)(p => {
      val i = p % d; val j = p / d
      corr(i * d + j)
    }))
    val svd.SVD(u, _, vt) = svd(cm)
    val r = u * vt
    Array.tabulate(d, d)((i, j) => r(i, j).toFloat)
  }

  /** Local mirror of the [[MatVec]] kernel (double accumulate, float
    * store) so training sees exactly the rotated vectors the encode
    * kernel will see at query time.
    */
  private def rotateLocal(x: Array[Float], rot: Array[Array[Float]]): Array[Float] = {
    val d = rot.length
    val out = new Array[Float](d)
    var i = 0
    while (i < d) {
      val row = rot(i)
      var acc = 0.0
      var j = 0
      while (j < row.length) { acc += row(j) * x(j); j += 1 }
      out(i) = acc.toFloat
      i += 1
    }
    out
  }

  /** Local mirror of [[Ivf.nearestCentroids]]'s L2 path (strict-< keeps
    * the lowest index on ties, matching the kernel's (−dist, idx) sort).
    */
  private[llmops] def encodeLocal(x: Array[Float],
                                  books: Array[Array[Array[Float]]]): Array[Int] = {
    val m = books.length
    val dsub = if (m == 0) 0 else books(0)(0).length
    val codes = new Array[Int](m)
    var s = 0
    while (s < m) {
      val book = books(s)
      var best = 0
      var bestDist = Double.MaxValue
      var c = 0
      while (c < book.length) {
        val cw = book(c)
        var dist = 0.0
        var i = 0
        while (i < cw.length) {
          val diff = x(s * dsub + i) - cw(i)
          dist += diff * diff
          i += 1
        }
        if (dist < bestDist) { bestDist = dist; best = c }
        c += 1
      }
      codes(s) = best
      s += 1
    }
    codes
  }

  private[llmops] def reconstructLocal(codes: Array[Int],
                                       books: Array[Array[Array[Float]]]): Array[Float] = {
    val m = books.length
    val dsub = if (m == 0) 0 else books(0)(0).length
    val out = new Array[Float](m * dsub)
    var s = 0
    while (s < m) {
      val cw = books(s)(codes(s))
      System.arraycopy(cw, 0, out, s * dsub, dsub)
      s += 1
    }
    out
  }

  /** Mean squared reconstruction error of (rot, books) over the corpus
    * — the quantity OPQ training minimizes; OpqSpec pins
    * `mse(opq) ≤ mse(pq)` on cross-subspace-correlated data. One scan,
    * two doubles to the driver.
    */
  def reconstructionMse(corpus: DataFrame, rot: Array[Array[Float]],
                        books: Array[Array[Array[Float]]],
                        vecCol: String = "embedding"): Double = {
    val d = rot.length
    val (err, n) = corpus.select(col(vecCol)).where(col(vecCol).isNotNull)
      .rdd.mapPartitions { rows =>
        var e = 0.0; var c = 0L
        rows.foreach { row =>
          val x = row.getSeq[Float](0).toArray
          if (x.length == d) {
            val rx = rotateLocal(x, rot)
            val y = reconstructLocal(encodeLocal(rx, books), books)
            var i = 0
            while (i < d) { val diff = rx(i) - y(i); e += diff * diff; i += 1 }
            c += 1
          }
        }
        Iterator.single((e, c))
      }
      .treeReduce { case ((e1, c1), (e2, c2)) => (e1 + e2, c1 + c2) }
    if (n == 0) 0.0 else err / n
  }

  /** Full train-and-query convenience: [[trainOpq]] then
    * [[opqTopKWithModels]].
    */
  def opqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              m: Int = 8, codewords: Int = 16,
              pqIters: Int = 1, opqIters: Int = 2,
              corpusId: String = "vec_id", corpusVec: String = "embedding",
              queryId: String = "query_id", queryVec: String = "query_vec")
      : DataFrame = {
    val (rot, books) = trainOpq(corpus, m, codewords, pqIters, opqIters,
      corpusId, corpusVec)
    opqTopKWithModels(corpus, queries, k, rot, books,
      corpusId, corpusVec, queryId, queryVec)
  }

  /** OPQ ANN query with externally trained models — rotate both sides
    * with the [[MatVec]] kernel, then the stock PQ ADC scan
    * ([[Ivf.pqTopKWithBooks]]): same broadcast/LUT/bounded-heap
    * machinery, same null contract. Because `R` is orthogonal the
    * rotated-space ADC score estimates the raw-space inner product —
    * ranks are comparable to [[Ivf.pqTopK]]'s at identical m·k budget,
    * just computed from a better-conditioned quantizer.
    */
  def opqTopKWithModels(corpus: DataFrame, queries: DataFrame, k: Int,
                        rot: Array[Array[Float]],
                        books: Array[Array[Array[Float]]],
                        corpusId: String = "vec_id",
                        corpusVec: String = "embedding",
                        queryId: String = "query_id",
                        queryVec: String = "query_vec"): DataFrame = {
    val rc = corpus.select(col(corpusId),
      mat_vec(col(corpusVec), rot).as(corpusVec))
    val rq = queries.select(col(queryId),
      mat_vec(col(queryVec), rot).as(queryVec))
    Ivf.pqTopKWithBooks(rc, rq, k, books,
      corpusId, corpusVec, queryId, queryVec)
  }
}
