package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

import graft.{Bench, Graft, SparkEntry}

/** The developer tools, one entry point:
  *
  * {{{
  * sbt "runMain graft.tools.Run time [--runs N] [names…]"
  * sbt "runMain graft.tools.Run profile <name>"
  * sbt "runMain graft.tools.Run explain [names…]"
  * sbt "runMain graft.tools.Run ab <sqlConfKey> <v1,v2,…> <name,name,…>"
  * sbt "runMain graft.tools.Run split <srcDir> <dstDir> [nFiles]"
  * sbt "runMain graft.tools.Run gen-docs [rows] [outDir]"
  * sbt "runMain graft.tools.Run entry"
  * }}}
  *
  * Every subcommand runs on `Graft.session(local[cpus], cpus)`, the
  * session the bench and Verify use. Env, as for `graft.Bench`:
  * SPARK_GRAFT_SF_DIR (the sf0.1 test data by default), SPARK_GRAFT_CPUS
  * (default min(32, nproc)), SPARK_GRAFT_PASSES (`ab`, default 3) and
  * SPARK_GRAFT_QUERIES (the query-name prefixes `time` and `explain`
  * run when given no names). A single-query correctness dump is
  * `SPARK_GRAFT_QUERIES=<name> runMain graft.Verify <sfDir> <outDir>`.
  */
object Run {
  private val usage = "usage: graft.tools.Run " +
    "time|profile|explain|ab|split|gen-docs|entry [args...] (see Run.scala)"

  def main(args: Array[String]): Unit = {
    val body: SparkSession => Unit = args.toList match {
      case "time" :: rest => time(rest)
      case "profile" :: name :: Nil => profile(name)
      case "explain" :: names => explain(names)
      case "ab" :: key :: values :: names :: Nil =>
        ab(key, csv(values), csv(names))
      case "split" :: src :: dst :: n => split(src, dst, n.headOption.fold(32)(_.toInt))
      case "gen-docs" :: rest => GenDocs.write(
        rest.headOption.fold(50000L)(_.toLong), rest.lift(1).getOrElse("tmpdata/sf1"))
      case "entry" :: Nil =>
        spark => println(s"entry rows: ${SparkEntry.entry(spark).count()}")
      case _ => System.err.println(usage); sys.exit(2)
    }
    val spark = Graft.session(s"local[${Bench.cpus}]", Bench.cpus)
    try body(spark) finally spark.stop()
  }

  private def csv(s: String): Seq[String] =
    s.split(',').map(_.trim).filter(_.nonEmpty).toSeq

  /** The named queries, or every query SPARK_GRAFT_QUERIES selects. */
  private def queries(names: Seq[String]) =
    if (names.nonEmpty) names.map(n => n -> SparkEntry.queries(n))
    else SparkEntry.queries.toSeq.sortBy(_._1).filter(q => Bench.selected(q._1))

  /** Wall time of each run of each query, with the persistent-RDD count
    * and heap after it: the first run shows fixed (JIT, codegen)
    * overhead, the rest the steady state, and a count that grows across
    * runs is state leaked between invocations (pinned sketch tables,
    * localCheckpoint rounds) that a one-shot driver run never sees. */
  private def time(args: List[String])(spark: SparkSession): Unit = {
    val (runs, names) = args match {
      case "--runs" :: n :: rest => (n.toInt, rest)
      case rest => (3, rest)
    }
    for ((name, fn) <- queries(names); i <- 1 to runs) {
      val t0 = System.nanoTime()
      val n = fn(spark, Bench.sfDir).count()
      val persisted = spark.sparkContext.getPersistentRDDs.size
      val mem = Runtime.getRuntime.totalMemory() - Runtime.getRuntime.freeMemory()
      println(f"$name run$i: ${(System.nanoTime() - t0) / 1e9}%.2f s, $n rows, " +
        f"$persisted persistent RDDs, heap ${mem / (1 << 20)} MiB")
    }
  }

  /** Per-job time attribution for one query: after an untimed warm-up,
    * a listener prints every job's wall time, task count and call site,
    * and every stage's, so a composite query's cost (index build, train
    * loop, serve) decomposes without the UI. */
  private def profile(name: String)(spark: SparkSession): Unit = {
    val fn = SparkEntry.queries(name)
    fn(spark, Bench.sfDir).count()
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, Int)]()
    val lines = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        starts.put(js.jobId, (js.time, jobSite(js),
          js.stageInfos.map(_.numTasks).sum))
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val ms = (for {s <- si.submissionTime; c <- si.completionTime}
          yield c - s).getOrElse(-1L)
        lines.add(f"  stage ${si.stageId}%4d  ${ms / 1000.0}%8.3f s  " +
          f"${si.numTasks}%5d tasks  ${si.name.take(110)}")
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(starts.get(je.jobId)).foreach { case (t0, site, nt) =>
          lines.add(f"job ${je.jobId}%4d  ${(je.time - t0) / 1000.0}%8.3f s  $nt%5d tasks  $site")
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    val n = fn(spark, Bench.sfDir).count()
    val total = (System.nanoTime() - t0) / 1e9
    // listener bus is async; give it a moment to drain before printing
    Thread.sleep(2000)
    spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    lines.asScala.foreach(println)
    println(f"TOTAL $name: $total%.3f s, $n rows, ${starts.size} jobs")
  }

  /** A job's call site: Spark 4's SQL jobs carry no `callSite.short`
    * property, but their result stage (the last one) is named after it,
    * e.g. `parquet at Bm25Index.scala:307`. AQE submits its query
    * stages from a `CompletableFuture`, so those jobs name that. */
  private[tools] def jobSite(js: SparkListenerJobStart): String =
    js.stageInfos.sortBy(_.stageId).lastOption.map(_.name) match {
      case Some(n) if n.contains("CompletableFuture") => "AQE stage job"
      case Some(n) => n
      case None => "?"
    }

  /** Formatted physical plans, to audit scan pushdown, broadcast and
    * window-limit choices. */
  private def explain(names: Seq[String])(spark: SparkSession): Unit =
    for ((name, fn) <- queries(names)) {
      println(s"===== $name =====")
      fn(spark, Bench.sfDir).explain("formatted")
    }

  /** A/B a runtime SQL conf over a query list: the key is set per
    * execution on one session (AQE and the planner read it per query),
    * after an untimed warm-up at the first value, and full passes
    * interleave the values so drift on the box hits every arm equally.
    * Prints min seconds per (value, query). */
  private def ab(key: String, values: Seq[String], names: Seq[String])(
      spark: SparkSession): Unit = {
    val fns = queries(names)
    spark.conf.set(key, values.head)
    fns.foreach { case (_, fn) => fn(spark, Bench.sfDir).count() }
    val best = scala.collection.mutable.Map.empty[(String, String), Double]
      .withDefaultValue(Double.MaxValue)
    for (_ <- 1 to Bench.passes; v <- values; (n, fn) <- fns) {
      spark.conf.set(key, v)
      val t0 = System.nanoTime()
      fn(spark, Bench.sfDir).count()
      val t = (System.nanoTime() - t0) / 1e9
      if (t < best((v, n))) best((v, n)) = t
    }
    for ((n, _) <- fns) {
      val row = values.map(v => f"$v=${best((v, n))}%.2fs").mkString("  ")
      println(f"$n%-28s $row")
    }
  }

  /** One-time, untimed test-data re-layout: copy each single-file
    * single-row-group table under `src` to `dst/<name>.parquet` as
    * `nFiles` round-robin splits, so scan stages can parallelize the
    * way any production layout would. Same rows, different layout:
    * this makes the 8-vs-32-core scaling probe meaningful (a
    * 1-row-group scan is single-threaded whatever the operator); the
    * bench keeps reading the test data's own layout. */
  private def split(src: String, dst: String, nFiles: Int)(
      spark: SparkSession): Unit = {
    val tables = Seq("lineitem", "orders", "customer", "supplier", "part",
      "nation", "region", "events", "documents", "embeddings")
    for (t <- tables if new java.io.File(s"$src/$t.parquet").exists) {
      spark.read.parquet(s"$src/$t.parquet").repartition(nFiles)
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")
      println(s"split $t -> $dst/$t.parquet ($nFiles files)")
    }
  }
}
