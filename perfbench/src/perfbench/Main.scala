package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Runs one workload in this JVM and writes its result as JSON.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --cores <n> --out <result.json> [--spans <spans.json>]
  *   perfbench.Main --workload session --cores <n>
  *
  * The working directory is the run root: every input and artifact goes
  * under it. Set-up (session start, the workload's input and artifact
  * build, then a fixed count of warm-up ops) is timed as `setup_s`;
  * whole op cycles then run in a closed loop, one op at a time, until
  * their summed wall time reaches `--seconds` and the workload's
  * minimum has run. With `--trace 1` every other cycle runs with a
  * Spark listener attached and the result holds the per-layer metrics
  * instead of the end-to-end ones.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opt("workload")
    val cores = opt("cores").toInt
    val root = Paths.get("").toAbsolutePath
    val t0 = System.nanoTime()
    val spark = graft.Graft.session(s"local[$cores]", cores)
    val code =
      try {
        val sessionS = (System.nanoTime() - t0) / 1e9
        // `session` only starts the session and runs one small query:
        // the build records the class-data archive from it
        if (name == "session") spark.range(1000).selectExpr("sum(id)").collect()
        else {
          val traced = opt("trace") == "1"
          val res = new Harness(spark, name, opt("seed").toLong, opt("seconds").toDouble,
            traced, cores, root).run(sessionS)
          Files.write(Paths.get(opt("out")), Json(res.result).getBytes(UTF_8))
          if (traced) Files.write(Paths.get(opt("spans")), Json(res.spans).getBytes(UTF_8))
        }
        0
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          1
      } finally spark.stop()
    System.exit(code)
  }
}

final case class Outcome(result: Map[String, Any], spans: Map[String, Any])

final class Harness(spark: SparkSession, name: String, seed: Long, seconds: Double,
                    traced: Boolean, cores: Int, root: Path) {
  import Workload.{mean, median}

  private val trace = new Trace(spark)
  private val wl = Workload(name, spark, trace, root, seed)

  private def timed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  private def runOp(i: Int, listen: Boolean): OpRec = {
    trace.op = i
    if (listen) trace.attach()
    val svc0 = ServiceCounters.snapshot()
    val (c0, n0) = Trace.codegen()
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val done = try Right(wl.op(i)) catch { case e: Exception => Left(e) }
    val wall = (System.nanoTime() - t0) / 1e9
    val endMs = System.currentTimeMillis()
    val (c1, n1) = Trace.codegen()
    val svc = ServiceCounters.snapshot().map { case (k, v) => k -> (v - svc0(k)).toDouble }
    if (listen) trace.detach()
    trace.op = -1
    done match {
      case Left(e) =>
        OpRec(i, "error", wall, startMs, endMs, 0, Seq(s"op $i threw $e"), svc, listen,
          c1 - c0, n1 - n0)
      case Right(d) =>
        val errs = try d.check() catch { case e: Exception => Seq(s"check of op $i threw $e") }
        errs.foreach(e => System.err.println(s"perfbench: op $i (${d.kind}) wrong: $e"))
        OpRec(i, d.kind, wall, startMs, endMs, d.units, errs, d.attrs ++ svc, listen,
          c1 - c0, n1 - n0)
    }
  }

  def run(sessionS: Double): Outcome = {
    val buildS = timed(wl.setup())
    // warm-up: a fixed count of ops from the op stream
    val warm = mutable.ArrayBuffer.empty[OpRec]
    val warmS = timed((0 until wl.warmOps).foreach(i => warm += runOp(i, listen = false)))
    val setupS = sessionS + buildS + warmS
    System.err.println(f"perfbench: $name set-up: session $sessionS%.2f s, build $buildS%.2f s, " +
      f"warm-up $warmS%.2f s over " + warm.map(o => f"${o.kind} ${o.wallS}%.2f").mkString(", "))
    // measured: closed loop, one client, whole cycles (so every run
    // measures the same mix of op kinds) until `seconds` have passed
    // and the workload's minimum has run. Traced runs attach the
    // listener for odd cycles only and measure an odd number of at
    // least 3 cycles, so every traced cycle has an untraced one on
    // each side.
    val ops = mutable.ArrayBuffer.empty[OpRec]
    def cycles = ops.size / wl.cycle
    def enough = cycles >= wl.minCycles && ops.map(_.wallS).sum >= seconds &&
      (!traced || (cycles >= 3 && cycles % 2 == 1))
    while (!enough) {
      val listen = traced && cycles % 2 == 1
      (0 until wl.cycle).foreach(_ => ops += runOp(warm.size + ops.size, listen))
    }
    System.err.println(s"perfbench: $name measured: " +
      ops.map(o => f"${o.kind} ${o.wallS}%.2f").mkString(", "))
    val all = (warm ++ ops).toSeq
    val failed = all.count(_.errors.nonEmpty)
    val measured = ops.toSeq
    val (recall, diskRatio) = wl.quality(measured)
    val endToEnd = Map(
      "setup_s" -> setupS,
      "peak_rss_mb" -> Harness.peakRssMb(),
      "ok_ratio" -> (1.0 - failed.toDouble / all.size),
      "op_p50_s" -> median(measured.filter(_.kind == wl.mainKind).map(_.wallS)),
      "write_p50_s" -> median(measured.flatMap(wl.writeS)),
      "work_per_s" -> measured.map(_.units).sum / measured.map(_.wallS).sum,
      "recall" -> recall,
      "disk_bytes_ratio" -> diskRatio)
    Harness.named(name).foreach { case (generic, userName) =>
      System.err.println(f"perfbench: $name $userName = ${endToEnd(generic)}%.4f")
    }
    System.err.println(f"perfbench: $name failed_ratio = ${failed.toDouble / all.size}%.4f " +
      s"($failed of ${all.size} ops; ${warm.size} warm-up, ${measured.size} measured)")
    val layers =
      if (traced) sparkLayers(measured) ++ wl.layers(measured) else Map.empty[String, Double]
    val result = Map(
      "correct" -> (failed == 0), "attempted" -> all.size, "failed" -> failed,
      "metrics" -> (if (traced) layers else endToEnd))
    Outcome(result, spanFile(sessionS, buildS, warm.toSeq, measured, setupS, layers))
  }

  /** Spark-layer metrics per traced op, from the listener and codegen
    * counters, plus the latency of traced main ops over untraced ones.
    */
  private def sparkLayers(ops: Seq[OpRec]): Map[String, Double] = {
    val on = ops.filter(_.traced)
    val perOp = on.map { o =>
      val jobs = trace.jobsIn(o.startMs, o.endMs)
      val unionS = Trace.unionMs(
        jobs.map(j => (j.startMs, if (j.endMs < 0) o.endMs else j.endMs)),
        o.startMs, o.endMs) / 1000.0
      Map(
        "jobs_per_op" -> jobs.size.toDouble, "job_wall_s" -> unionS,
        "driver_gap_s" -> math.max(0.0, o.wallS - unionS),
        "executor_run_s" -> jobs.map(_.runMs).sum / 1e3,
        "executor_cpu_s" -> jobs.map(_.cpuNs).sum / 1e9,
        "shuffle_write_bytes" -> jobs.map(_.shuffleWrite).sum.toDouble,
        "shuffle_read_bytes" -> jobs.map(_.shuffleRead).sum.toDouble,
        "shuffle_fetch_wait_s" -> jobs.map(_.fetchWaitMs).sum / 1e3,
        "spill_bytes" -> jobs.map(_.spill).sum.toDouble,
        "input_bytes" -> jobs.map(_.inputBytes).sum.toDouble,
        "input_rows" -> jobs.map(_.inputRows).sum.toDouble,
        "output_bytes" -> jobs.map(_.outputBytes).sum.toDouble,
        "gc_s" -> jobs.map(_.gcMs).sum / 1e3,
        "task_failures" -> jobs.map(_.failures).sum.toDouble)
    }
    val means = perOp.flatMap(_.keys).distinct.map(k => k -> mean(perOp.map(_(k)))).toMap
    // each traced main op over the mean of the untraced ops at its
    // place in the cycles before and after it, so that a latency trend
    // across the run (warm-up still going on) cancels out
    val cyc = ops.grouped(wl.cycle).toIndexedSeq
    val overhead = for {
      c <- 1 until cyc.size - 1 by 2
      p <- 0 until wl.cycle if cyc(c)(p).kind == wl.mainKind
    } yield cyc(c)(p).wallS / ((cyc(c - 1)(p).wallS + cyc(c + 1)(p).wallS) / 2)
    means ++ Map(
      "core_busy_ratio" -> means.getOrElse("executor_run_s", 0.0) /
        (math.max(1e-9, mean(on.map(_.wallS))) * cores),
      "codegen_compiles" -> mean(ops.map(_.compiles.toDouble)),
      "codegen_compile_s" -> mean(ops.map(_.compileNs / 1e9)),
      "trace_overhead_ratio" -> median(overhead))
  }

  private def spanFile(sessionS: Double, buildS: Double, warm: Seq[OpRec],
                       ops: Seq[OpRec], setupS: Double,
                       layers: Map[String, Double]): Map[String, Any] = {
    def op(o: OpRec): Map[String, Any] = Map(
      "i" -> o.i, "kind" -> o.kind, "wall_s" -> o.wallS, "start_ms" -> o.startMs,
      "end_ms" -> o.endMs, "traced" -> o.traced, "errors" -> o.errors, "attrs" -> o.attrs,
      "codegen_compiles" -> o.compiles, "codegen_compile_ns" -> o.compileNs)
    Map(
      "workload" -> name, "seed" -> seed, "seconds" -> seconds, "cores" -> cores,
      "max_heap_bytes" -> Runtime.getRuntime.maxMemory,
      "inputs" -> wl.inputs,
      "setup" -> Map("session_s" -> sessionS, "build_s" -> buildS,
        "warmup_ops" -> warm.map(op), "setup_s" -> setupS),
      "ops" -> ops.map(op),
      "metrics" -> layers,
      "spans" -> trace.all.map(s => Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "name" -> s.name, "layer" -> s.layer, "start_ms" -> s.startMs, "dur_s" -> s.nanos / 1e9)),
      "jobs" -> trace.allJobs.map(j => Map("id" -> j.id, "start_ms" -> j.startMs,
        "end_ms" -> j.endMs, "module" -> trace.moduleOf(j), "tasks" -> j.tasks,
        "failures" -> j.failures, "executor_run_ms" -> j.runMs, "cpu_ns" -> j.cpuNs,
        "input_bytes" -> j.inputBytes, "shuffle_write_bytes" -> j.shuffleWrite,
        "shuffle_read_bytes" -> j.shuffleRead, "output_bytes" -> j.outputBytes)))
  }
}

object Harness {
  /** The name each generic end-to-end metric has for the workload's users. */
  val named: Map[String, Seq[(String, String)]] = Map(
    "etl_reports" -> Seq("op_p50_s" -> "run_p50_s", "work_per_s" -> "companies_per_s",
      "write_p50_s" -> "download_p50_s", "recall" -> "reports_intact_ratio",
      "disk_bytes_ratio" -> "download_bytes_ratio"),
    "corpus_curation" -> Seq("op_p50_s" -> "dedup_p50_s", "work_per_s" -> "docs_per_s",
      "write_p50_s" -> "curated_write_p50_s", "recall" -> "dup_recall",
      "disk_bytes_ratio" -> "curated_bytes_ratio"),
    "index_serve" -> Seq("op_p50_s" -> "serve_p50_s", "work_per_s" -> "queries_per_s",
      "write_p50_s" -> "write_p50_s", "recall" -> "ann_recall_at_10",
      "disk_bytes_ratio" -> "index_bytes_ratio"))

  /** Peak resident memory of this process (VmHWM). */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

/** Just enough JSON for the result and span files. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
