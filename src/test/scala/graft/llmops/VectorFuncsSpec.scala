package graft.llmops

import graft.{SparkTestBase, Tables}
import org.apache.spark.sql.functions._

class VectorFuncsSpec extends SparkTestBase {
  import spark.implicits._

  test("dot / norm / cosine basics") {
    val df = Seq((Seq(1.0f, 2.0f, 2.0f), Seq(2.0f, 4.0f, 4.0f)),
                 (Seq(1.0f, 0.0f, 0.0f), Seq(0.0f, 1.0f, 0.0f)),
                 (Seq(0.0f, 0.0f, 0.0f), Seq(1.0f, 1.0f, 1.0f)))
      .toDF("a", "b")
    val got = df.select(
      VectorFuncs.dot($"a", $"b").as("d"),
      VectorFuncs.cosine($"a", $"b").as("c")).collect()
    assert(got(0).getDouble(0) == 18.0)
    assert(math.abs(got(0).getDouble(1) - 1.0) < 1e-9)   // parallel
    assert(math.abs(got(1).getDouble(1)) < 1e-9)          // orthogonal
    assert(got(2).getDouble(1) == 0.0)                    // zero vector guard
  }

  test("cosine kernel matches the HOF formulation it replaced") {
    // the native CosineSim must be bit-compatible with
    // aggregate(zip_with(...)): same accumulation order, same
    // sqrt(na)*sqrt(nb) denominator, null on mismatch/null element
    def hofCosine(a: org.apache.spark.sql.Column,
                  b: org.apache.spark.sql.Column) = {
      val denom = VectorFuncs.norm(a) * VectorFuncs.norm(b)
      when(denom === 0, 0.0).otherwise(VectorFuncs.dot(a, b) / denom)
    }
    val r = new scala.util.Random(7)
    val rand = Seq.fill(200)((
      Seq.fill(64)(r.nextGaussian().toFloat),
      Seq.fill(64)(r.nextGaussian().toFloat)))
    val edge: Seq[(Seq[Float], Seq[Float])] = Seq(
      (Seq(0.0f, 0.0f), Seq(1.0f, 2.0f)),      // zero vector
      (Seq(1.0f, 2.0f), Seq(1.0f)),            // length mismatch
      (Seq(1.0f, Float.NaN), Seq(1.0f, 1.0f)), // NaN propagates alike
      (null, Seq(1.0f)))                       // null array
    val df = (rand ++ edge).toDF("a", "b")
      .select(VectorFuncs.cosine($"a", $"b").as("kernel"),
        hofCosine($"a", $"b").as("hof"))
    val rows = df.collect()
    rows.foreach { row =>
      val k = if (row.isNullAt(0)) null else row.getDouble(0)
      val h = if (row.isNullAt(1)) null else row.getDouble(1)
      (k, h) match {
        case (null, null) => ()
        case (x: java.lang.Double, y: java.lang.Double)
            if x.isNaN && y.isNaN => ()
        case _ => assert(k == h, s"kernel=$k hof=$h")
      }
    }
    // null-element arrays null out in both forms
    val withNullElem = Seq((Seq[java.lang.Float](1.0f, null), Seq[java.lang.Float](1.0f, 2.0f)))
      .toDF("a", "b")
      .select(VectorFuncs.cosine($"a", $"b").as("kernel"))
    assert(withNullElem.collect()(0).isNullAt(0))
  }

  test("dot kernel matches the HOF formulation and DuckDB's sum order") {
    // DotProduct must be bit-compatible with aggregate(zip_with(...)):
    // same left-to-right double accumulation (also DuckDB's
    // list_inner_product order — the q89 oracle depends on it),
    // null on mismatch/null array, NaN propagates
    val r = new scala.util.Random(13)
    val rand = Seq.fill(200)((
      Seq.fill(64)(r.nextGaussian().toFloat),
      Seq.fill(64)(r.nextGaussian().toFloat)))
    val edge: Seq[(Seq[Float], Seq[Float])] = Seq(
      (Seq(0.0f, 0.0f), Seq(1.0f, 2.0f)),
      (Seq(1.0f, 2.0f), Seq(1.0f)),            // length mismatch → null
      (Seq(1.0f, Float.NaN), Seq(1.0f, 1.0f)), // NaN propagates alike
      (null, Seq(1.0f)))                       // null array → null
    val rows = (rand ++ edge).toDF("a", "b")
      .select(VectorFuncs.dotp($"a", $"b").as("kernel"),
        VectorFuncs.dot($"a", $"b").as("hof"))
      .collect()
    rows.foreach { row =>
      val k = if (row.isNullAt(0)) null else row.getDouble(0)
      val h = if (row.isNullAt(1)) null else row.getDouble(1)
      (k, h) match {
        case (null, null) => ()
        case (x: java.lang.Double, y: java.lang.Double)
            if x.isNaN && y.isNaN => ()
        case _ => assert(k == h, s"kernel=$k hof=$h")
      }
    }
    // length mismatch is null (zip_with pads with null elements, so
    // the HOF form nulls out too — the loop above already compared
    // them; this pins the kernel's contract on its own)
    val mm = Seq((Seq(1.0f, 2.0f), Seq(1.0f))).toDF("a", "b")
      .select(VectorFuncs.dotp($"a", $"b").as("k")).collect()(0)
    assert(mm.isNullAt(0))
    // invalid metric name fails fast
    intercept[IllegalArgumentException] {
      VectorFuncs.bruteForceTopK(
        Seq((1L, Seq(1.0f))).toDF("vec_id", "embedding"),
        Seq((2L, Seq(1.0f))).toDF("query_id", "query_vec"),
        k = 1, metric = "manhattan")
    }
  }

  test("brute-force top-k is exact and self-consistent") {
    val emb = Tables.embeddings(spark, sf0001)
    val q = emb.filter($"vec_id" < 3)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    val got = VectorFuncs.bruteForceTopK(emb, q, k = 10)
    val byQuery = got.groupBy($"query_id").agg(count(lit(1)).as("n"),
      min($"sim").as("min_sim"), max($"sim").as("max_sim"))
      .collect()
    assert(byQuery.length == 3)
    assert(byQuery.forall(_.getLong(1) == 10))
    // top hit for each query must be the query itself (sim ≈ 1)
    val self = got.filter($"rk" === 1).select($"query_id", $"vec_id", $"sim").collect()
    assert(self.forall(r => r.getLong(0) == r.getLong(1) &&
      math.abs(r.getDouble(2) - 1.0) < 1e-9))
  }

  test("bounded-heap top-k aggregate matches the window formulation exactly") {
    import org.apache.spark.sql.expressions.Window
    val emb = Tables.embeddings(spark, sf0001)
    val q = emb.filter($"vec_id" < 3)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    // the reference: the same scored frame ranked by a row_number
    // window. Keep it a real window plan: the session-registered
    // RewriteWindowTopK rule would otherwise rewrite it into the very
    // aggregate this test compares against (RewriteWindowTopKSpec
    // covers that path with its own rule-off differential)
    val scored = emb.join(broadcast(q))
      .withColumn("sim", VectorFuncs.cosine($"embedding", $"query_vec"))
    spark.conf.set("spark.graft.rewriteWindowTopK", "false")
    val viaWindow = try {
      scored.withColumn("rk", row_number().over(
          Window.partitionBy($"query_id").orderBy($"sim".desc, $"vec_id")))
        .filter($"rk" <= 10)
        .select($"query_id", $"vec_id", $"rk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    } finally spark.conf.unset("spark.graft.rewriteWindowTopK")
    val viaAgg = VectorFuncs.bruteForceTopK(emb, q, k = 10)
      .select($"query_id", $"vec_id", $"rk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(viaWindow.size == 30)
    assert(viaAgg == viaWindow)
    // the scale property: partial (map-side) aggregation before the
    // exchange — ObjectHashAggregate appears twice (partial + final)
    val plan = VectorFuncs.bruteForceTopK(emb, q, k = 10)
      .queryExecution.executedPlan.toString
    assert("ObjectHashAggregate".r.findAllIn(plan).size >= 2, plan.take(2000))
  }

  test("payload heap equals the row_number window, payload included, " +
      "on ties, null scores, NaN and -0.0") {
    import org.apache.spark.sql.expressions.Window
    // distinct ids per group (one null among them), tie-prone scores
    val rows = for (g <- 0 until 5; i <- 0 until 40) yield {
      val s: Option[Double] = i % 10 match {
        case 0 => None
        case 1 => Some(Double.NaN)
        case 2 => Some(-0.0)
        case 3 => Some(0.0)
        case _ => Some((i * 7 % 5).toDouble / 4)
      }
      (g, if (i == 39) None else Some(g * 1000L + i), s,
        if (i % 7 == 0) None else Some(i * 31L))
    }
    val df = rows.toDF("g", "id", "s", "p").repartition(3)
    val k = 12
    def key(r: org.apache.spark.sql.Row) =
      (r.getInt(0), r.getInt(1), Option(r.get(2)), Option(r.get(3))
        .map(x => java.lang.Double.doubleToRawLongBits(
          x.asInstanceOf[Double])), Option(r.get(4)))
    spark.conf.set("spark.graft.rewriteWindowTopK", "false")
    val viaWindow = try {
      df.withColumn("rk", row_number().over(
          Window.partitionBy($"g").orderBy($"s".desc, $"id")))
        .filter($"rk" <= k)
        .select($"g", $"rk", $"id", $"s", $"p").collect().map(key).toSet
    } finally spark.conf.unset("spark.graft.rewriteWindowTopK")
    val viaHeap = df.groupBy($"g").agg(TopK.topK($"id", $"s", $"p", k))
      .select($"g", posexplode($"topk"))
      .select($"g", ($"pos" + 1).as("rk"), $"col._1", $"col._2", $"col._3")
      .collect().map(key).toSet
    assert(viaWindow.size == 5 * k)
    assert(viaHeap == viaWindow)
  }

  test("agg re-rank fails fast on non-integral id columns") {
    // string ids would cast to null and silently corrupt the top-k;
    // the guard points the caller at hashing the ids instead
    val emb = Tables.embeddings(spark, sf0001)
      .withColumn("vec_id", concat(lit("v"), $"vec_id"))
    val q = Tables.embeddings(spark, sf0001).filter($"vec_id" < 3)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    val e = intercept[IllegalArgumentException] {
      VectorFuncs.bruteForceTopK(emb, q, k = 3)
    }
    assert(e.getMessage.contains("integral id"))
  }

  test("native collect_top_k equals the typed Aggregator kernel") {
    // duplicate scores force the id tie-break through both kernels
    val df = spark.range(0, 5000).select(
      ($"id" % 11).as("g"), $"id",
      (($"id" * 37 % 101).cast("double") / 10).as("s"))
    def run(c: org.apache.spark.sql.Column): Set[(Long, Int, Long, Double)] =
      df.groupBy($"g").agg(c)
        .select($"g", posexplode($"topk").as(Seq("pos", "t")))
        .select($"g", $"pos", $"t._1", $"t._2")
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
        .toSet
    assert(run(TopK.topK($"id", $"s", 7)) == run(TopK.topKUdaf($"id", $"s", 7)))
  }

  test("TopKAgg reduce/merge keep k best with window tie-break order") {
    val agg = new TopK.TopKAgg(3)
    val buf = Seq((5L, 0.5), (1L, 0.9), (2L, 0.9), (9L, 0.1), (7L, 0.5))
      .foldLeft(agg.zero)(agg.reduce)
    // sim desc, id asc on ties; k=3 keeps (1,.9),(2,.9),(5,.5)
    assert(buf == Seq((1L, 0.9), (2L, 0.9), (5L, 0.5)))
    val other = Seq((3L, 0.95), (8L, 0.5)).foldLeft(agg.zero)(agg.reduce)
    assert(agg.merge(buf, other) == Seq((3L, 0.95), (1L, 0.9), (2L, 0.9)))
    assert(agg.merge(agg.zero, buf) == buf)
  }

  test("LSH top-k recall against brute force") {
    val emb = Tables.embeddings(spark, sf0001)
    val q = emb.filter($"vec_id" < 10)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    val exact = VectorFuncs.bruteForceTopK(emb, q, k = 5)
      .select($"query_id", $"vec_id").as[(Long, Long)].collect().toSet
    val approx = VectorFuncs.lshTopK(emb, q, k = 5, planes = 4)
      .select($"query_id", $"vec_id").as[(Long, Long)].collect().toSet
    val recall = exact.count(approx.contains).toDouble / exact.size
    assert(recall >= 0.5, s"LSH recall too low: $recall")
  }

  test("rhp buckets are deterministic and spread") {
    val emb = Tables.embeddings(spark, sf0001)
    val b1 = emb.select(VectorFuncs.rhpBucket($"embedding", 8).as("b"))
    val b2 = emb.select(VectorFuncs.rhpBucket($"embedding", 8).as("b"))
    assert(b1.collect().toSeq == b2.collect().toSeq)
    val nBuckets = b1.distinct().count()
    assert(nBuckets > 10, s"only $nBuckets buckets for 500 vecs")
  }

  test("hashedEmbedding: unit norm, dense shape, determinism, and " +
      "similarity ordering by shared tokens") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta zeta"),   // 4/5 shared with 1
      (3L, "one two three four five"))        // disjoint from 1
      .toDF("doc_id", "text")
    val emb = VectorFuncs.hashedEmbedding(docs, dim = 64).cache()
    val vecs = emb.as[(Long, Seq[Float])].collect().toMap
    assert(vecs.values.forall(_.length == 64))
    assert(vecs.values.forall(v =>
      math.abs(v.map(x => x.toDouble * x).sum - 1.0) < 1e-6))
    // rerun is bit-identical (md5, no RNG)
    val again = VectorFuncs.hashedEmbedding(docs, dim = 64)
      .as[(Long, Seq[Float])].collect().toMap
    assert(again == vecs)
    def cos(a: Seq[Float], b: Seq[Float]): Double =
      a.zip(b).map(p => p._1.toDouble * p._2).sum
    assert(cos(vecs(1L), vecs(2L)) > 0.5)
    assert(cos(vecs(1L), vecs(2L)) > cos(vecs(1L), vecs(3L)) + 0.3)
    // zero-token doc embeds as the zero vector
    val zero = VectorFuncs.hashedEmbedding(
      Seq((9L, "   ")).toDF("doc_id", "text"), dim = 8)
    assert(zero.count() == 0 ||
      zero.as[(Long, Seq[Float])].head()._2.forall(_ == 0f))
  }

  test("text -> sentence chunks -> hashed embeddings -> exact top-k " +
      "retrieval composes end-to-end") {
    import spark.implicits._
    val docs = Seq(
      (1L, "Revenue grew this quarter. Margins compressed in retail. " +
        "The dividend was raised."),
      (2L, "The weather station recorded rainfall. Winds were calm."))
      .toDF("doc_id", "text")
    val chunks = Chunking.sentenceChunks(docs, targetChars = 30)
      .withColumn("vec_id",
        col("doc_id") * 100 + col("chunk_idx"))
    val corpus = VectorFuncs.hashedEmbedding(
      chunks, dim = 64, idCol = "vec_id", textCol = "chunk_text")
    // query with a sentence about dividends: its nearest chunk must
    // come from doc 1
    val queries = VectorFuncs.hashedEmbedding(
      Seq((0L, "the dividend was raised")).toDF("q", "text"),
      dim = 64, idCol = "q", textCol = "text")
      .withColumnRenamed("q", "query_id")
      .withColumnRenamed("embedding", "query_vec")
    val top = VectorFuncs.bruteForceTopK(corpus, queries, k = 1)
      .select(col("vec_id")).as[Long].head()
    assert(top / 100 == 1L, s"nearest chunk $top not from doc 1")
  }

  test("hashedTfidfEmbedding: stopwords vanish (idf 0), rare terms " +
      "dominate, unit norm, ANN-consumable shape") {
    val docs = Seq(
      (1L, "the market rallied on zirconium alloy news the"),
      (2L, "the weather held steady across the coast"),
      (3L, "the committee approved the zirconium alloy budget"))
      .toDF("doc_id", "text")
    // 'the' is in EVERY doc -> idf = ln(3/3) = 0: its occurrences
    // contribute nothing to any bucket
    val buckets = VectorFuncs.hashedTfidfBuckets(docs, dim = 256)
      .collect().map(r => ((r.getLong(0), r.getInt(1)), r.getDouble(2)))
      .toMap
    val theBucket = spark.sql(
      "SELECT CAST(conv(substring(md5('the'), 1, 8), 16, 10) % 256 AS INT)")
      .collect().head.getInt(0)
    // doc 2 has no term sharing 'the's bucket unless by collision —
    // verify via reconstruction: compute doc 2's expected values with
    // 'the' excluded and compare
    val noStop = VectorFuncs.hashedTfidfBuckets(
        docs.withColumn("text",
          regexp_replace(col("text"), "\\bthe\\b", " ")), dim = 256)
      .collect().map(r => ((r.getLong(0), r.getInt(1)), r.getDouble(2)))
      .toMap
    // idf of every other term is unchanged by dropping a zero-weight
    // token, so the tables must agree everywhere — the stopword's own
    // bucket survives only as an explicit ZERO row (idf = ln(1) = 0)
    assert(noStop.keySet.subsetOf(buckets.keySet))
    buckets.keySet.diff(noStop.keySet).foreach { k =>
      assert(math.abs(buckets(k)) < 1e-12,
        s"stopword bucket $k carries weight ${buckets(k)}")
    }
    noStop.foreach { case (k, v) =>
      assert(math.abs(v - buckets(k)) < 1e-9, s"at $k: ${buckets(k)} vs $v")
    }
    // the embedding is unit-norm floats in the ANN shape, and the two
    // zirconium docs are mutually closer than either is to weather
    val emb = VectorFuncs.hashedTfidfEmbedding(docs, dim = 256)
    val vecs = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    vecs.values.foreach { v =>
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      assert(math.abs(n - 1.0) < 1e-5, s"norm $n")
    }
    def cos(a: Array[Float], b: Array[Float]) =
      a.zip(b).map { case (x, y) => x.toDouble * y }.sum
    assert(cos(vecs(1L), vecs(3L)) > cos(vecs(1L), vecs(2L)),
      "zirconium docs should be mutually closest")
    assert(theBucket >= 0) // bucket arithmetic sanity (shared w/ oracle)
  }

  test("multi-probe: margin-ordered sequence starts at the own bucket, " +
      "flips smallest-|margin| planes, and is bounded by nprobe") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val v = Seq((1L, Array(0.9f, 0.1f, -0.4f, 0.2f, 0.05f)))
      .toDF("query_id", "query_vec")
    val probes = v.select(
      VectorFuncs.rhpProbes(col("query_vec"), 8, 4).as("p"))
      .head().getSeq[Long](0)
    assert(probes.length == 4)
    assert(probes.distinct.length == 4, s"distinct buckets: $probes")
    val base = v.select(VectorFuncs.rhpBucket(col("query_vec"), 8))
      .head().getLong(0)
    assert(probes.head == base)
    // every subsequent probe is exactly one bit away from base
    probes.tail.foreach { p =>
      assert(java.lang.Long.bitCount(p ^ base) == 1, s"$p vs $base") }
    // nprobe > planes+1 clamps
    val all = v.select(
      VectorFuncs.rhpProbes(col("query_vec"), 4, 99).as("p"))
      .head().getSeq[Long](0)
    assert(all.length == 5)
  }

  test("multi-probe top-k: recall dominates single-bucket, is dominated " +
      "by all-flips, and matches brute force on planted neighbors") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // corpus: 60 smooth pseudo-random vectors + 3 planted near-copies
    // of query 0. Grid-aligned test vectors are degenerate here: a
    // hyperplane projection can be EXACTLY zero, and a perturbed copy
    // then differs in several sign bits at once — no single-bit probe
    // reaches it. sin() coordinates keep margins comfortably nonzero.
    val dim = 8
    def vec(seed: Int): Array[Float] =
      Array.tabulate(dim)(i =>
        math.sin(seed * 12.9898 + i * 78.233).toFloat)
    val qv = vec(1)
    val near = (0 until 3).map { j =>
      (1000L + j, qv.zipWithIndex.map { case (x, i) =>
        x + (if (i == j) 0.001f else 0.0f) }) }
    val corpus = ((0 until 60).map(i => (i.toLong, vec(i + 2))) ++ near)
      .toDF("vec_id", "embedding")
    val q = Seq((0L, qv)).toDF("query_id", "query_vec")
    val mp = VectorFuncs.lshMultiProbeTopK(corpus, q, k = 3,
        planes = 8, nprobe = 5)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(mp.intersect(Set(1000L, 1001L, 1002L)).size >= 2,
      s"planted near-copies should surface: $mp")
  }

  test("embeddingOutliers: a planted far vector ranks first with a " +
      "large z; identical vectors report z 0; ranks deterministic") {
    val normal = (0 until 50).map(i =>
      (i.toLong, Array(math.sin(i * 1.3).toFloat,
        math.cos(i * 2.1).toFloat, 0.5f)))
    val outlier = (99L, Array(50f, -50f, 50f))
    val vecs = (normal :+ outlier).toDF("vec_id", "embedding")
    val top = VectorFuncs.embeddingOutliers(vecs, k = 3)
      .collect()
    assert(top.head.getAs[Int]("rk") == 1)
    assert(top.head.getAs[Long]("vec_id") == 99L)
    assert(top.head.getAs[Double]("z") > 3.0, s"${top.head.toString}")
    // identical vectors: stddev 0 -> z 0 everywhere, id tiebreak
    val same = (0 until 5).map(i => (i.toLong, Array(1f, 2f)))
      .toDF("vec_id", "embedding")
    val s = VectorFuncs.embeddingOutliers(same, k = 2).collect()
    assert(s.forall(_.getAs[Double]("z") == 0.0))
    assert(s.map(_.getAs[Long]("vec_id")).toSeq == Seq(0L, 1L))
    // empty input: clear message
    val e = intercept[IllegalArgumentException] {
      VectorFuncs.embeddingOutliers(
        Seq((1L, null.asInstanceOf[Array[Float]]))
          .toDF("vec_id", "embedding"))
    }
    assert(e.getMessage.contains("no non-null vectors"))
  }
}
