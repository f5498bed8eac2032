package graft.llmops

import graft.{SparkTestBase, Tables}
import graft.expr.FastRound
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class IvfSpec extends SparkTestBase {
  import spark.implicits._

  lazy val emb = Tables.embeddings(spark, sf0001).cache()
  lazy val q = emb.filter($"vec_id" < 10)
    .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))

  /** The ADC reference tail: drop self-pairs and unscorable
    * candidates, rank by a row_number window (the RewriteWindowTopK
    * rule off, so it stays a window), and collect every column.
    */
  private def windowTopK(scored: DataFrame, k: Int): Set[Seq[Any]] = {
    spark.conf.set("spark.graft.rewriteWindowTopK", "false")
    try scored.filter($"vec_id" =!= $"query_id").filter($"sim".isNotNull)
      .withColumn("rk", row_number().over(
        Window.partitionBy($"query_id").orderBy($"sim".desc, $"vec_id")))
      .filter($"rk" <= k)
      .select($"query_id", $"vec_id", $"sim", $"rk")
      .collect().map(_.toSeq).toSet
    finally spark.conf.unset("spark.graft.rewriteWindowTopK")
  }

  test("IVF recall vs brute force on the clustered corpus") {
    val exact = VectorFuncs.bruteForceTopK(emb, q, k = 5)
      .filter($"query_id" =!= $"vec_id")
      .select($"query_id", $"vec_id").as[(Long, Long)].collect().toSet
    val approx = Ivf.ivfTopK(emb, q, k = 5, nlist = 8, nprobe = 3)
      .select($"query_id", $"vec_id").as[(Long, Long)].collect().toSet
    val recall = exact.count(approx.contains).toDouble / exact.size
    assert(recall >= 0.6, s"IVF recall too low: $recall")
  }

  test("assignment is deterministic and lists are non-degenerate") {
    val cents = Ivf.sampleCentroids(emb, 8)
    assert(cents.length == 8 && cents.forall(_.length == 64))
    val a1 = emb.select($"vec_id",
      element_at(Ivf.nearest_centroids($"embedding", cents, 1), 1).as("l"))
    val a2 = emb.select($"vec_id",
      element_at(Ivf.nearest_centroids($"embedding", cents, 1), 1).as("l"))
    assert(a1.collect().toSeq == a2.collect().toSeq)
    val lists = a1.groupBy($"l").count().collect()
    assert(lists.length >= 2, "all vectors fell into one list")
  }

  test("k-means refinement does not hurt recall and improves the objective") {
    def objective(cents: Array[Array[Float]]): Double = {
      // mean cosine of each vector to its assigned centroid (higher = tighter)
      val assigned = emb.select($"embedding",
        element_at(Ivf.nearest_centroids($"embedding", cents, 1), 1).as("l"))
        .collect()
      val sims = assigned.map { r =>
        val v = r.getSeq[Float](0)
        val c = cents(r.getInt(1))
        val dot = v.indices.map(i => v(i).toDouble * c(i)).sum
        val nv = math.sqrt(v.map(x => x.toDouble * x).sum)
        val nc = math.sqrt(c.map(x => x.toDouble * x).sum)
        if (nv == 0 || nc == 0) 0.0 else dot / (nv * nc)
      }
      sims.sum / sims.length
    }
    val sampled = Ivf.sampleCentroids(emb, 8)
    val refined = Ivf.kmeansCentroids(emb, 8, iters = 3)
    assert(objective(refined) >= objective(sampled) - 1e-9,
      s"kmeans worsened the quantizer: ${objective(refined)} < ${objective(sampled)}")

    val exact = VectorFuncs.bruteForceTopK(emb, q, k = 5)
      .filter($"query_id" =!= $"vec_id")
      .select($"query_id", $"vec_id").as[(Long, Long)].collect().toSet
    val viaKmeans = Ivf.ivfTopK(emb, q, k = 5, nlist = 8, nprobe = 3,
        kmeansIters = 3)
      .select($"query_id", $"vec_id").as[(Long, Long)].collect().toSet
    val recall = exact.count(viaKmeans.contains).toDouble / exact.size
    assert(recall >= 0.6, s"IVF+kmeans recall too low: $recall")
  }

  test("nprobe widens the candidate set monotonically") {
    val r1 = Ivf.ivfTopK(emb, q, k = 5, nlist = 8, nprobe = 1).count()
    val r3 = Ivf.ivfTopK(emb, q, k = 5, nlist = 8, nprobe = 3).count()
    assert(r3 >= r1)
  }

  test("PQ codebooks and codes have the contracted shape") {
    val books = Ivf.pqCodebooks(emb, m = 8, k = 16, iters = 1)
    assert(books.length == 8)
    assert(books.forall(b => b.length == 16 && b.forall(_.length == 8)))
    val codes = emb.where($"embedding".isNotNull)
      .select(Ivf.pqEncode($"embedding", books).as("codes"))
      .as[Seq[Int]].collect()
    assert(codes.forall(_.length == 8))
    assert(codes.forall(_.forall(c => c >= 0 && c < 16)))
    // training moved at least one codeword off its sampled seed
    val seeded = Ivf.pqCodebooks(emb, m = 8, k = 16, iters = 0)
    assert(books.flatten.flatten.toSeq != seeded.flatten.flatten.toSeq)
  }

  test("ADC kernel matches a driver-side codeword reconstruction") {
    val books = Ivf.pqCodebooks(emb, m = 8, k = 16, iters = 1)
    val rows = emb.where($"embedding".isNotNull).limit(20).select($"embedding",
        Ivf.pqEncode($"embedding", books).as("codes"),
        Ivf.pq_adc_dot(Ivf.pqEncode($"embedding", books),
          $"embedding", books).as("adc"))
      .collect()
    rows.foreach { r =>
      val vec = r.getSeq[Float](0)
      val codes = r.getSeq[Int](1)
      var want = 0.0
      for (s <- codes.indices; j <- 0 until 8)
        want += vec(s * 8 + j).toDouble * books(s)(codes(s))(j)
      assert(math.abs(r.getDouble(2) - want) < 1e-9,
        s"adc=${r.getDouble(2)} manual=$want")
    }
  }

  test("PQ top-k recalls planted near-dups and handles bad inputs") {
    // planted pairs: ADC must rank each jittered copy's base first-ish
    val r = new scala.util.Random(11)
    def gauss(n: Int) = Array.fill(n)(r.nextGaussian().toFloat)
    val bases = Array.fill(100)(gauss(64))
    val rows = bases.zipWithIndex.flatMap { case (b, i) =>
      val copy = b.zip(gauss(64)).map { case (x, j) => x + 0.05f * j }
      Seq((i.toLong, b.toSeq), ((i + 1000).toLong, copy.toSeq))
    }
    val vecs = rows.toSeq.toDF("vec_id", "embedding")
    val queries = vecs.filter($"vec_id" >= 1000)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    val top1 = Ivf.pqTopK(vecs, queries, k = 1, m = 8, codewords = 16,
        iters = 2)
      .select($"query_id", $"vec_id").as[(Long, Long)].collect()
    val hits = top1.count { case (qid, vid) => vid == qid - 1000 }
    assert(hits >= 70, s"PQ top-1 found only $hits/100 planted bases")

    // a null vector scores null and drops out of the ranking
    val withNull = vecs.unionByName(
      Seq((5000L, null.asInstanceOf[Seq[Float]])).toDF("vec_id", "embedding"))
    val got = Ivf.pqTopK(withNull, queries.limit(3), k = 3,
      m = 8, codewords = 16)
    assert(!got.select($"vec_id").as[Long].collect().contains(5000L))

    // wrong-dimension query → null sim for every candidate → no rows
    val shortQ = Seq((9000L, Seq.fill(32)(0.1f)))
      .toDF("query_id", "query_vec")
    assert(Ivf.pqTopKWithBooks(vecs, shortQ, k = 3,
      Ivf.pqCodebooks(vecs, 8, 16)).count() == 0)
  }

  test("LUT scan scores match the reconstruction dot and rank identically") {
    val books = Ivf.pqCodebooks(emb, m = 8, k = 16, iters = 1)
    // kernel level: pq_lut + pq_lut_dot vs pq_adc_dot, pre-rounding
    val rows = emb.where($"embedding".isNotNull).limit(50)
      .select(
        Ivf.pq_lut_dot(Ivf.pqEncode($"embedding", books),
          Ivf.pq_lut($"embedding", books), 16).as("lut"),
        Ivf.pq_adc_dot(Ivf.pqEncode($"embedding", books),
          $"embedding", books).as("dot"))
      .as[(Double, Double)].collect()
    rows.foreach { case (l, d) =>
      assert(math.abs(l - d) < 1e-9, s"lut=$l dot=$d")
    }
    // plan level: the LUT scan ranks as the reconstruction dot does
    val viaLut = Ivf.pqTopKWithBooks(emb, q, k = 5, books)
      .select($"query_id", $"vec_id", $"sim", $"rk")
      .collect().map(_.toSeq).toSet
    val viaDot = windowTopK(
      emb.select($"vec_id", Ivf.pqEncode($"embedding", books).as("codes"))
        .crossJoin(broadcast(q))
        .withColumn("sim", FastRound.fast_round(
          Ivf.pq_adc_dot($"codes", $"query_vec", books), 6)), 5)
    assert(viaDot.size == 50)
    assert(viaLut == viaDot)

    // the null contract carries over: a wrong-dimension query builds
    // no table and scores no candidates
    val shortQ = Seq((9000L, Seq.fill(32)(0.1f)))
      .toDF("query_id", "query_vec")
    assert(Ivf.pqTopKWithBooks(emb, shortQ, k = 3, books).count() == 0)
  }

  test("residual IVFADC scores centroid dot plus the residual " +
      "reconstruction dot") {
    // dot(q, centroid + Σ codewords) = centroid_dot + pq_adc_dot over
    // the residual codes, per probed list, rounded before ranking
    val cents = Ivf.kmeansCentroids(emb, nlist = 8, iters = 1)
    val books = Ivf.pqCodebooksResidual(emb, cents, m = 8, k = 16,
      iters = 1)
    val got = Ivf.ivfAdcResidualTopKWithModels(emb, q, k = 5, cents, books,
        nprobe = 3)
      .select($"query_id", $"vec_id", $"sim", $"rk")
      .collect().map(_.toSeq).toSet
    val coded = emb
      .withColumn("list_id",
        element_at(Ivf.nearest_centroids($"embedding", cents, 1), 1))
      .select($"vec_id", $"list_id", Ivf.pqEncode(Ivf.centroid_residual(
        $"embedding", $"list_id", cents), books).as("codes"))
    val probes = q.withColumn("list_id",
      explode(Ivf.nearest_centroids($"query_vec", cents, 3)))
    val want = windowTopK(coded.join(probes, Seq("list_id"))
      .withColumn("sim", FastRound.fast_round(
        Ivf.centroid_dot($"query_vec", $"list_id", cents) +
          Ivf.pq_adc_dot($"codes", $"query_vec", books), 6)), 5)
    assert(want.size == 50)
    assert(got == want)
  }

  test("IVFADC degenerates to the pure PQ scan with one list") {
    // a single coarse list probed once = every candidate meets every
    // query, so the composition must reproduce pqTopKWithBooks exactly
    val books = Ivf.pqCodebooks(emb, m = 8, k = 16, iters = 1)
    val oneList = Ivf.sampleCentroids(emb, 1)
    val viaIvfAdc = Ivf.ivfAdcTopKWithModels(emb, q, k = 5, oneList,
        books, nprobe = 1)
      .select($"query_id", $"vec_id", $"sim", $"rk")
      .collect().map(_.toSeq).toSet
    val viaPq = Ivf.pqTopKWithBooks(emb, q, k = 5, books)
      .select($"query_id", $"vec_id", $"sim", $"rk")
      .collect().map(_.toSeq).toSet
    assert(viaIvfAdc == viaPq)
  }

  test("ADC-family effectiveness ratio vs the exact dot baseline holds") {
    // the training-regression tripwire behind the q89 driver contract:
    // a quantizer regression degrades BOTH the q89 dump and its replay
    // (they stay self-consistent), so the hard floor lives here.
    // Metric: effectiveness ratio — true-dot sum of the approx picks
    // over the exact top-5's — because this corpus's near-tied dot
    // margins make set-recall flap (pure exhaustive PQ at m8k16 gets
    // set-recall 0.14 here while ranking quality is fine); the ratio
    // is ≤ 1 by construction and craters on a real regression.
    // Baseline metric = inner product (what ADC ranks by), self-pairs
    // excluded like every approx path.
    val exactScored = emb.join(broadcast(q))
      .filter($"vec_id" =!= $"query_id")
      .withColumn("sim", VectorFuncs.dotp($"embedding", $"query_vec"))
    val trueDots = exactScored.select($"query_id", $"vec_id", $"sim")
    val sExact = VectorFuncs.rerankTopK(exactScored, 5, "query_id",
        "vec_id")
      .groupBy($"query_id").agg(sum($"sim").as("se"))
    def minRatio(df: org.apache.spark.sql.DataFrame): Double =
      df.select($"query_id", $"vec_id")
        .join(trueDots, Seq("query_id", "vec_id"))
        .groupBy($"query_id").agg(sum($"sim").as("sa"))
        .join(sExact, Seq("query_id"))
        .select(($"sa" / $"se").as("r")).as[Double].collect().min
    // the q89 hi-fi config: dsub=4, 64 codewords, probe half the lists
    val cents = Ivf.kmeansCentroids(emb, nlist = 16, iters = 2)
    val books = Ivf.pqCodebooks(emb, m = 16, k = 64, iters = 2)
    val adc = minRatio(Ivf.ivfAdcTopKWithModels(emb, q, k = 5, cents,
      books, nprobe = 8))
    assert(adc >= 0.6, s"IVFADC min effectiveness ratio too low: $adc")
    val booksR = Ivf.pqCodebooksResidual(emb, cents, m = 16, k = 64,
      iters = 2)
    val resid = minRatio(Ivf.ivfAdcResidualTopKWithModels(emb, q, k = 5,
      cents, booksR, nprobe = 8))
    assert(resid >= 0.6, s"residual IVFADC min ratio too low: $resid")
    val (c1, c2) = Ivf.imiCentroids(emb, k = 4, iters = 2)
    val imi = minRatio(Ivf.imiAdcTopKWithModels(emb, q, k = 5, c1, c2,
      books, p = 2))
    assert(imi >= 0.4, s"IMI+ADC min ratio too low: $imi")
  }

  test("IMI+ADC degenerates to the pure PQ scan with one product list") {
    // k=1 half-codebooks → a single product list, probed once: every
    // candidate meets every query, so the multi-index composition must
    // reproduce pqTopKWithBooks exactly (the q88-style degeneracy pin)
    val books = Ivf.pqCodebooks(emb, m = 8, k = 16, iters = 1)
    val (c1, c2) = Ivf.imiCentroids(emb, k = 1)
    val viaImi = Ivf.imiAdcTopKWithModels(emb, q, k = 5, c1, c2, books,
        p = 1)
      .select($"query_id", $"vec_id", $"sim", $"rk")
      .collect().map(_.toSeq).toSet
    val viaPq = Ivf.pqTopKWithBooks(emb, q, k = 5, books)
      .select($"query_id", $"vec_id", $"sim", $"rk")
      .collect().map(_.toSeq).toSet
    assert(viaImi == viaPq)
  }

  test("IMI+ADC recalls planted near-dups") {
    val r = new scala.util.Random(31)
    def gauss(n: Int) = Array.fill(n)(r.nextGaussian().toFloat)
    val bases = Array.fill(100)(gauss(64))
    val rows = bases.zipWithIndex.flatMap { case (b, i) =>
      val copy = b.zip(gauss(64)).map { case (x, j) => x + 0.05f * j }
      Seq((i.toLong, b.toSeq), ((i + 1000).toLong, copy.toSeq))
    }
    val vecs = rows.toSeq.toDF("vec_id", "embedding")
    val queries = vecs.filter($"vec_id" >= 1000)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    val top1 = Ivf.imiAdcTopK(vecs, queries, k = 1,
        kHalf = 3, p = 2, m = 8, codewords = 16,
        imiIters = 1, pqIters = 2)
      .select($"query_id", $"vec_id").as[(Long, Long)].collect()
    val hits = top1.count { case (qid, vid) => vid == qid - 1000 }
    assert(hits >= 55, s"IMI+ADC top-1 found only $hits/100 planted bases")
  }

  test("residual kernels: subtraction, decomposition, null contract") {
    val cents = Ivf.sampleCentroids(emb, 8)
    val rows = emb.where($"embedding".isNotNull).limit(20)
      .select($"embedding",
        element_at(Ivf.nearest_centroids($"embedding", cents, 1), 1)
          .as("l"))
      .select($"embedding", $"l",
        Ivf.centroid_residual($"embedding", $"l", cents).as("resid"),
        Ivf.centroid_dot($"embedding", $"l", cents).as("cdot"))
      .collect()
    rows.foreach { r =>
      val v = r.getSeq[Float](0); val l = r.getInt(1)
      val resid = r.getSeq[Float](2); val cdot = r.getDouble(3)
      v.indices.foreach { i =>
        assert(resid(i) == v(i) - cents(l)(i))
      }
      val want = v.indices.map(i => v(i).toDouble * cents(l)(i)).sum
      assert(math.abs(cdot - want) < 1e-9)
    }
    // out-of-range list → null, dim mismatch → null
    val bad = spark.sql("SELECT array(1.0f, 2.0f) AS v")
      .select(Ivf.centroid_residual($"v", lit(99), cents).as("r"),
        Ivf.centroid_dot($"v", lit(0), cents).as("d"))
      .collect()(0)
    assert(bad.isNullAt(0) && bad.isNullAt(1))
  }

  test("residual encoding reconstructs the clustered corpus with lower error") {
    // the Jégou §V.A claim, measured directly: at the same m·k budget,
    // quantizing residuals (vec − coarse centroid) yields strictly
    // lower reconstruction error than quantizing raw vectors on a
    // clustered corpus — the whole reason IVFADC-proper exists
    val cents = Ivf.kmeansCentroids(emb, nlist = 8, iters = 2)
    val booksRaw = Ivf.pqCodebooks(emb, m = 8, k = 16, iters = 2)
    val booksRes = Ivf.pqCodebooksResidual(emb, cents, m = 8, k = 16,
      iters = 2)
    val rows = emb.where($"embedding".isNotNull)
      .select($"embedding",
        element_at(Ivf.nearest_centroids($"embedding", cents, 1), 1)
          .as("l"))
      .select($"embedding", $"l",
        Ivf.pqEncode($"embedding", booksRaw).as("cr"),
        Ivf.pqEncode(Ivf.centroid_residual($"embedding", $"l", cents),
          booksRes).as("cs"))
      .collect()
    var mseRaw = 0.0; var mseRes = 0.0
    rows.foreach { r =>
      val v = r.getSeq[Float](0); val l = r.getInt(1)
      val cRaw = r.getSeq[Int](2); val cRes = r.getSeq[Int](3)
      val dsub = v.length / 8
      v.indices.foreach { i =>
        val s = i / dsub; val j = i % dsub
        val rawRec = booksRaw(s)(cRaw(s))(j)
        val resRec = cents(l)(i) + booksRes(s)(cRes(s))(j)
        mseRaw += (v(i) - rawRec) * (v(i) - rawRec)
        mseRes += (v(i) - resRec) * (v(i) - resRec)
      }
    }
    assert(mseRes < mseRaw,
      s"residual MSE $mseRes not below raw MSE $mseRaw")
  }

  test("residual IVFADC recalls planted near-dups") {
    // same corpus/config as the raw-variant planted test: the residual
    // path must clear the same end-to-end bar
    val r = new scala.util.Random(23)
    def gauss(n: Int) = Array.fill(n)(r.nextGaussian().toFloat)
    val bases = Array.fill(100)(gauss(64))
    val rows = bases.zipWithIndex.flatMap { case (b, i) =>
      val copy = b.zip(gauss(64)).map { case (x, j) => x + 0.05f * j }
      Seq((i.toLong, b.toSeq), ((i + 1000).toLong, copy.toSeq))
    }
    val vecs = rows.toSeq.toDF("vec_id", "embedding")
    val queries = vecs.filter($"vec_id" >= 1000)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    val top1 = Ivf.ivfAdcResidualTopK(vecs, queries, k = 1,
        nlist = 8, nprobe = 2, m = 8, codewords = 16,
        coarseIters = 1, pqIters = 2)
      .select($"query_id", $"vec_id").as[(Long, Long)].collect()
    val hits = top1.count { case (qid, vid) => vid == qid - 1000 }
    assert(hits >= 60, s"residual IVFADC top-1 found only $hits/100")
  }

  test("residual IVFADC from persisted models matches in-memory") {
    val cents = Ivf.kmeansCentroids(emb, nlist = 8, iters = 1)
    val books = Ivf.pqCodebooksResidual(emb, cents, m = 8, k = 16,
      iters = 1)
    val d = java.nio.file.Files.createTempDirectory("graft-resid")
    d.toFile.deleteOnExit()
    Models.saveIvfAdc(spark, d.resolve("m").toString, cents, books)
    val (lc, lb) = Models.loadIvfAdc(spark, d.resolve("m").toString)
    val a = Ivf.ivfAdcResidualTopKWithModels(emb, q, k = 5, cents, books,
      nprobe = 3).collect().map(_.toSeq).toSet
    val b = Ivf.ivfAdcResidualTopKWithModels(emb, q, k = 5, lc, lb,
      nprobe = 3).collect().map(_.toSeq).toSet
    assert(a == b)
  }

  test("SQ8: encode bounds, dequantized dot, and near-exact ranking") {
    val (mins, scales) = Ivf.sq8Bounds(emb)
    assert(mins.length == 64 && scales.length == 64)
    assert(scales.forall(_ >= 0))
    // codes in range; dequantization error bounded by scale/2 per dim
    val rows = emb.where($"embedding".isNotNull).limit(50)
      .select($"embedding", Ivf.sq8_encode($"embedding", mins, scales)
        .as("codes"))
      .collect()
    rows.foreach { r =>
      val v = r.getSeq[Float](0); val c = r.getSeq[Int](1)
      assert(c.forall(x => x >= 0 && x <= 255))
      v.indices.foreach { i =>
        val deq = mins(i) + scales(i) * c(i)
        assert(math.abs(v(i) - deq) <= math.max(scales(i) / 2 + 1e-6, 1e-6),
          s"dim $i: ${v(i)} vs $deq (scale ${scales(i)})")
      }
    }
    // SQ8 ranking is NEAR-EXACT: recall@5 vs the exact dot baseline
    // far above what PQ achieves on this near-tied corpus
    val exactScored = emb.join(broadcast(q))
      .filter($"vec_id" =!= $"query_id")
      .withColumn("sim", VectorFuncs.dotp($"embedding", $"query_vec"))
    val exact = VectorFuncs.rerankTopK(exactScored, 5, "query_id",
        "vec_id")
      .select($"query_id", $"vec_id").as[(Long, Long)].collect().toSet
    val got = Ivf.sq8TopK(emb, q, k = 5)
      .select($"query_id", $"vec_id").as[(Long, Long)].collect().toSet
    val recall = exact.count(got.contains).toDouble / exact.size
    assert(recall >= 0.8, s"SQ8 recall@5 too low: $recall")
  }

  test("IVFADC recalls planted near-dups through both pruning axes") {
    val r = new scala.util.Random(23)
    def gauss(n: Int) = Array.fill(n)(r.nextGaussian().toFloat)
    val bases = Array.fill(100)(gauss(64))
    val rows = bases.zipWithIndex.flatMap { case (b, i) =>
      val copy = b.zip(gauss(64)).map { case (x, j) => x + 0.05f * j }
      Seq((i.toLong, b.toSeq), ((i + 1000).toLong, copy.toSeq))
    }
    val vecs = rows.toSeq.toDF("vec_id", "embedding")
    val queries = vecs.filter($"vec_id" >= 1000)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    val top1 = Ivf.ivfAdcTopK(vecs, queries, k = 1,
        nlist = 8, nprobe = 2, m = 8, codewords = 16,
        coarseIters = 1, pqIters = 2)
      .select($"query_id", $"vec_id").as[(Long, Long)].collect()
    val hits = top1.count { case (qid, vid) => vid == qid - 1000 }
    assert(hits >= 60, s"IVFADC top-1 found only $hits/100 planted bases")
  }
}
