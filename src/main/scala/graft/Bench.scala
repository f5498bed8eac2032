package graft
object Bench {
  // Env knobs shared by Bench, Verify and graft.tools.Run, read here once.
  private[graft] def sfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
  /** local[cpus] and as many shuffle partitions; default min(32, nproc). */
  private[graft] def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(math.min(32, Runtime.getRuntime.availableProcessors))
  private[graft] def passes: Int =
    sys.env.getOrElse("SPARK_GRAFT_PASSES", "3").toInt
  // SPARK_GRAFT_QUERIES: comma-separated name prefixes to run a subset
  // — the committed sf1 mode (BASELINE.md) runs the iterative/ANN
  // queries against tmpdata/sf1, which carries only the
  // documents/embeddings tables; Verify and the tools use it for fast
  // local iteration on one query. Unset = all.
  private lazy val subset = sys.env.get("SPARK_GRAFT_QUERIES")
    .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
  private[graft] def selected(name: String): Boolean =
    subset.forall(_.exists(name.startsWith))

  def main(args: Array[String]): Unit = {
    val spark = Graft.session(s"local[$cpus]", cpus)
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => selected(name) }
    // warmup pass: JIT + codegen + parquet footer caches, untimed.
    // Failures are remembered so the timed loop can surface them in the
    // artifact instead of silently recording time-to-exception.
    val errs = scala.collection.mutable.Map.empty[String, String]
    ordered.foreach { case (name, fn) =>
      try fn(spark, sfDir).count()
      catch { case e: Throwable => errs(name) = e.getClass.getSimpleName }
    }
    // Per-query min across `passes` FULL passes over the query set (not
    // back-to-back reps of one query): the box is shared, and observed
    // interference arrives as multi-minute load spikes that poison every
    // sample taken inside the spike window. Separated passes put
    // minutes between a query's samples, so a spike must span the whole
    // bench to poison all of them.
    val times = scala.collection.mutable.Map.empty[String, Double]
      .withDefaultValue(Double.MaxValue)
    (1 to passes).foreach { _ =>
      ordered.foreach { case (name, fn) =>
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() }
        catch { case e: Throwable => errs(name) = e.getClass.getSimpleName }
        val t = (System.nanoTime() - t0) / 1e9
        if (t < times(name)) times(name) = t
      }
    }
    // Artifact contract: the driver tail-captures a noisy sbt log, and
    // rounds 3-4 lost the JSON line to truncation. Defense in depth:
    // (a) the full JSON is written to bench_out.json so the artifact
    // is recoverable from the working tree regardless of log capture;
    // (b) the printed line is compact (sorted keys, 4-decimal values,
    // ~2 KB for 83 queries) with `total` first AND repeated last, so a
    // clip from either end still leaves the headline metric parseable.
    def num(v: Double): String = "%.4f".formatLocal(java.util.Locale.ROOT, v)
    val qs = times.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + num(v) }
      .mkString("{", ",", "}")
    val total = if (times.nonEmpty) times.values.sum else 0.0
    // Lifecycle tagging (SparkEntry.lifecycleQueries): these queries
    // rebuild a persisted artifact or retrain a model per pass, so the
    // 2x-contract math reads total_ex_lifecycle, not total.
    val lifecycle = times.keys.toSeq
      .filter(SparkEntry.lifecycleQueries).sorted
    val lifeJson = lifecycle.map("\"" + _ + "\"").mkString("[", ",", "]")
    val totalEx = times.filterNot(t => SparkEntry.lifecycleQueries(t._1))
      .values.foldLeft(0.0)(_ + _)
    // A query that threw anywhere (warmup or timed) is listed here: its
    // timing above is time-to-exception, not a benchmark. Empty = clean run.
    val errJson = errs.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    val json = s"""{"metric":"total","value":${num(total)},"unit":"sec",""" +
      s""""sf":"$sfDir","queries":$qs,""" +
      s""""lifecycle":$lifeJson,"total_ex_lifecycle":${num(totalEx)},""" +
      s""""errors":$errJson,""" +
      s""""total":${num(total)}}"""
    val outFile = sys.env.getOrElse("SPARK_GRAFT_OUT", "bench_out.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
    println(s"bench JSON also written to $outFile")
    println(json)
  }
}
