package graft.llmops

import graft.{SparkTestBase, Tables}
import org.apache.spark.sql.functions._

class AnnIndexSpec extends SparkTestBase {
  import spark.implicits._

  lazy val emb = Tables.embeddings(spark, sf0001).cache()
  lazy val q = emb.filter($"vec_id" < 5)
    .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))

  private def tmp(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft-annidx")
    d.toFile.deleteOnExit()
    d.resolve("idx").toString
  }

  test("indexed query is bit-identical to the in-memory IVFADC path") {
    val path = tmp()
    val (cents, books) = AnnIndex.write(emb, path,
      nlist = 8, coarseIters = 1, m = 8, codewords = 16, pqIters = 1)
    val viaIndex = AnnIndex.topK(spark, path, q, k = 5, nprobe = 3)
      .select($"query_id", $"vec_id", $"sim", $"rk")
      .collect().map(_.toSeq).toSet
    val inMem = Ivf.ivfAdcTopKWithModels(emb, q, k = 5, cents, books,
        nprobe = 3)
      .select($"query_id", $"vec_id", $"sim", $"rk")
      .collect().map(_.toSeq).toSet
    assert(viaIndex == inMem)
  }

  test("the scan reads only probed partitions (partition pruning)") {
    val path = tmp()
    val (cents, books) = AnnIndex.write(emb, path,
      nlist = 8, coarseIters = 1, m = 8, codewords = 16, pqIters = 1)
    val all = spark.read.parquet(path)
    val nLists = all.select($"list_id").distinct().count()
    assert(nLists >= 4, s"degenerate index: only $nLists lists")
    // probe 1 list per query → at most 5 distinct probed lists
    val probes = q.withColumn("list_id",
      explode(Ivf.nearest_centroids($"query_vec", cents, 1)))
    val probed = probes.select($"list_id").distinct()
      .collect().map(_.getInt(0)).toSeq
    assert(probed.size < nLists,
      "probe set covers every list — pruning untestable")
    val pruned = all.filter($"list_id".isin(probed: _*))
    // the probe set must land in PartitionFilters (pruned before read),
    // not in a post-scan Filter node
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan.take(500))
    // and the pruned read still holds exactly the probed lists' rows
    val expect = all.collect().count(r =>
      probed.contains(r.getAs[Int]("list_id")))
    assert(pruned.count() == expect)
    // files actually touched: the scan node's numFiles metric after
    // execution (DataFrame.inputFiles ignores partition filters)
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def scanOf(df: org.apache.spark.sql.DataFrame): FileSourceScanExec = {
      df.collect() // executes THIS DataFrame's own QueryExecution
      val p = df.queryExecution.executedPlan
      val inner = p match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case other => other
      }
      inner.collectFirst { case s: FileSourceScanExec => s }.get
    }
    val prunedFiles = scanOf(pruned).metrics("numFiles").value
    val allFiles = scanOf(all.filter($"list_id" >= 0)).metrics("numFiles").value
    assert(prunedFiles < allFiles,
      s"pruned scan touched $prunedFiles of $allFiles files")
  }

  test("a fresh session serves queries from the persisted models alone") {
    val path = tmp()
    AnnIndex.write(emb, path, nlist = 8, coarseIters = 1,
      m = 8, codewords = 16, pqIters = 1)
    // no in-memory models passed: everything reloads from path
    val got = AnnIndex.topK(spark, path, q, k = 3, nprobe = 2)
    assert(got.count() > 0)
    assert(got.select($"query_id").distinct().count() == 5)
    // rk is dense 1..k per query
    val rks = got.groupBy($"query_id")
      .agg(collect_list($"rk").as("rks"))
      .select($"rks").as[Seq[Int]].collect()
    rks.foreach(r => assert(r.sorted == (1 to r.length)))
  }

  test("append with unchanged models equals a fresh full write") {
    val path = tmp()
    val half1 = emb.filter($"vec_id" % 2 === 0)
    val half2 = emb.filter($"vec_id" % 2 =!= 0)
    val (cents, books) = AnnIndex.write(half1, path,
      nlist = 8, coarseIters = 1, m = 8, codewords = 16, pqIters = 1)
    // serveable before AND after the append, no retrain, no rewrite
    assert(AnnIndex.topK(spark, path, q, k = 3, nprobe = 2).count() > 0)
    AnnIndex.append(spark, half2, path)
    val fresh = tmp()
    AnnIndex.writeWithModels(emb, fresh, cents, books)
    val appended = AnnIndex.topK(spark, path, q, k = 5, nprobe = 3)
      .select($"query_id", $"vec_id", $"sim", $"rk")
      .collect().map(_.toSeq).toSet
    val full = AnnIndex.topK(spark, fresh, q, k = 5, nprobe = 3)
      .select($"query_id", $"vec_id", $"sim", $"rk")
      .collect().map(_.toSeq).toSet
    assert(appended == full)
  }

  test("drift probe: in-distribution batch ~1, shifted batch signals retrain") {
    val path = tmp()
    AnnIndex.write(emb, path,
      nlist = 8, coarseIters = 1, m = 8, codewords = 16, pqIters = 1)
    val d0 = AnnIndex.drift(spark, emb, path).head()
    val (train0, ratio0) =
      (d0.getAs[Double]("train_mse"), d0.getAs[Double]("ratio"))
    assert(train0 > 0.0)
    assert(math.abs(ratio0 - 1.0) < 1e-6,
      s"training corpus must reproduce its own fit, got ratio $ratio0")
    // a shifted distribution: every component moved far off-centroid
    val shifted = emb.select($"vec_id",
      transform($"embedding", x => (x + lit(10.0f)).cast("float"))
        .as("embedding"))
    val d1 = AnnIndex.drift(spark, shifted, path).head()
    assert(d1.getAs[Double]("ratio") > 2.0,
      s"shifted batch must flag drift, got ${d1.getAs[Double]("ratio")}")
  }

  test("reconstruction drift: codebook-only rot flags recon_ratio while " +
    "the coarse probe stays healthy") {
    val path = tmp()
    // tighter PQ than the default so the reconstruction floor sits
    // well below the coarse floor — the regime where the two probes
    // are genuinely independent signals
    AnnIndex.write(emb, path,
      nlist = 8, coarseIters = 1, m = 8, codewords = 32, pqIters = 3)
    val d0 = AnnIndex.drift(spark, emb, path).head()
    val trainMse = d0.getAs[Double]("train_mse")
    val trainRecon = d0.getAs[Double]("train_recon_mse")
    assert(trainRecon > 0.0 && trainRecon < trainMse,
      s"PQ must fit finer than the coarse quantizer " +
        s"(recon $trainRecon vs coarse $trainMse)")
    assert(math.abs(d0.getAs[Double]("recon_ratio") - 1.0) < 1e-6,
      "training corpus must reproduce its own reconstruction fit")
    // Plant codebook-only drift: concentrate each vector's WHOLE
    // residual norm onto one dimension of its assigned centroid —
    // v' = c + (‖v − c‖, 0, …, 0). The distance to the assigned
    // centroid is preserved exactly, so the batch's nearest-centroid
    // MSE can only stay or DROP (the min reassigns) — the coarse
    // probe sees a healthy batch — while subspace 0 now lives far
    // outside anything the residual codebooks were trained on.
    // Exactly the fine-structure rot a coarse-only probe cannot see.
    val (cents, _) = AnnIndex.loadModels(spark, path)
    def sq(a: Seq[Float], b: Array[Float]): Double =
      a.iterator.zip(b.iterator).map { case (x, y) =>
        (x - y).toDouble * (x - y) }.sum
    val rotted = emb.select($"vec_id", $"embedding")
      .as[(Long, Seq[Float])].collect().toSeq.map { case (id, v) =>
        val c = cents.minBy(sq(v, _))
        val r = math.sqrt(sq(v, c)).toFloat
        (id, c.toSeq.zipWithIndex.map { case (y, i) =>
          if (i == 0) y + r else y })
      }.toDF("vec_id", "embedding")
    val d1 = AnnIndex.drift(spark, rotted, path).head()
    val coarseRatio = d1.getAs[Double]("ratio")
    val reconRatio = d1.getAs[Double]("recon_ratio")
    assert(coarseRatio < 1.0 + 1e-6,
      s"norm-preserving rot must keep the coarse probe healthy, " +
        s"got $coarseRatio")
    assert(reconRatio > 2.0,
      s"codebook drift must flag recon_ratio, got $reconRatio")
    assert(reconRatio > 2.0 * coarseRatio,
      s"recon axis must dominate: recon $reconRatio vs coarse $coarseRatio")
  }

  test("delete: tombstoned vectors vanish from topK (bit-identical to " +
      "a fresh index over the survivors); compact purges physically " +
      "and preserves models + metrics") {
    val path = tmp()
    val (cents, books) = AnnIndex.write(emb, path,
      nlist = 8, coarseIters = 1, m = 8, codewords = 16, pqIters = 1)
    AnnIndex.delete(emb.filter($"vec_id" % 3 === 0).select($"vec_id"),
      path)
    AnnIndex.delete(emb.filter($"vec_id" % 3 === 0).select($"vec_id"),
      path) // idempotent
    val tombTop = AnnIndex.topK(spark, path, q, k = 5, nprobe = 8)
      .select($"query_id", $"vec_id", $"sim", $"rk")
      .collect().map(_.toSeq).toSet
    assert(tombTop.nonEmpty)
    assert(tombTop.forall(r => r(1).asInstanceOf[Long] % 3 != 0),
      "a tombstoned vector served")
    // codes are deterministic under fixed models, so serving must be
    // bit-identical to a fresh writeWithModels over the survivors
    val fresh = tmp()
    AnnIndex.writeWithModels(emb.filter($"vec_id" % 3 =!= 0), fresh,
      cents, books)
    val freshTop = AnnIndex.topK(spark, fresh, q, k = 5, nprobe = 8)
      .select($"query_id", $"vec_id", $"sim", $"rk")
      .collect().map(_.toSeq).toSet
    assert(tombTop == freshTop)

    val metricsBefore = spark.read.parquet(s"$path/_stats/metrics")
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    AnnIndex.compact(spark, path)
    assert(!new java.io.File(s"$path/_tombstones").exists(),
      "compact must clear the tombstone store")
    assert(spark.read.parquet(path).filter($"vec_id" % 3 === 0).count()
      == 0, "purged codes still on disk")
    // models and training metrics carry through the rewrite unchanged
    val (c2, b2) = AnnIndex.loadModels(spark, path)
    assert(c2.map(_.toSeq).toSeq == cents.map(_.toSeq).toSeq)
    assert(b2.map(_.map(_.toSeq).toSeq).toSeq ==
      books.map(_.map(_.toSeq).toSeq).toSeq)
    val metricsAfter = spark.read.parquet(s"$path/_stats/metrics")
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(metricsAfter == metricsBefore)
    val afterTop = AnnIndex.topK(spark, path, q, k = 5, nprobe = 8)
      .select($"query_id", $"vec_id", $"sim", $"rk")
      .collect().map(_.toSeq).toSet
    assert(afterTop == freshTop)
    AnnIndex.compact(spark, path) // no tombstones: clean no-op
    assert(AnnIndex.topK(spark, path, q, k = 5, nprobe = 8).count() > 0)
  }

  /** topK against `path` equals topKWithModels over models loaded
    * afresh from the model stores, bypassing the memoized load.
    */
  private def assertServesFreshModels(path: String): Unit = {
    val cents = Models.loadCentroids(spark, s"$path/_models/centroids")
    val books = Models.loadCodebooks(spark, s"$path/_models/codebooks")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"query_id", $"vec_id", $"sim", $"rk")
        .collect().map(_.toSeq).toSet
    val served = rows(AnnIndex.topK(spark, path, q, k = 5, nprobe = 3))
    assert(served.nonEmpty)
    assert(served == rows(AnnIndex.topKWithModels(spark, path, q, k = 5,
      cents, books, nprobe = 3)))
  }

  test("memoized models follow the stores: after compact, and after a " +
      "re-write at the same path with new models, topK serves the " +
      "models on disk") {
    val path = tmp()
    val (cents1, _) = AnnIndex.write(emb, path, nlist = 8, coarseIters = 1,
      m = 8, codewords = 16, pqIters = 1)
    assertServesFreshModels(path)
    AnnIndex.delete(emb.filter($"vec_id" % 3 === 0).select($"vec_id"), path)
    AnnIndex.compact(spark, path)
    assertServesFreshModels(path)
    val (cents2, _) = AnnIndex.write(emb, path, nlist = 4, coarseIters = 2,
      m = 4, codewords = 8, pqIters = 2)
    assert(cents2.length != cents1.length)
    assertServesFreshModels(path)
    assert(AnnIndex.loadModels(spark, path)._1.length == cents2.length)
  }

  test("one topK call runs a bounded number of Spark jobs: models are " +
      "driver reads, the probe set one collect") {
    val path = tmp()
    AnnIndex.write(emb, path, nlist = 8, coarseIters = 1,
      m = 8, codewords = 16, pqIters = 1)
    val first = jobsIn("annidx-first") {
      AnnIndex.topK(spark, path, q, k = 5, nprobe = 3).collect() }
    val repeat = jobsIn("annidx-repeat") {
      AnnIndex.topK(spark, path, q, k = 5, nprobe = 3).collect() }
    // measured on local[4]: 6 and 4 jobs; 10 and 10 when the two model
    // stores and the root paid a schema-inference job each, the models
    // a collect each, and the probe set a distinct shuffle
    assert(first > 0 && first <= 8, s"first serve ran $first jobs")
    assert(repeat <= first - 2,
      s"repeat serve ran $repeat jobs, first $first: the models were " +
        "read again")
  }
}
