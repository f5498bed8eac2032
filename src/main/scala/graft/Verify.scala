package graft
import java.lang.management.{ManagementFactory, ThreadInfo}
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicReference
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** Exit status of a run halted by [[DeadlockWatch]]. */
  val DeadlockExit = 3

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // Queries with sketch-based oracles dump their deterministic
    // intermediates (signatures, fingerprints, bucket assignments) to
    // spark-warehouse so the DuckDB oracle can re-derive the relational
    // part independently. Verify-only: Bench leaves the flag unset and
    // skips the writes.
    System.setProperty("graft.materialize", "1")
    val spark = Graft.session(s"local[${Bench.cpus}]", Bench.cpus)
    new java.io.File(outDir).mkdirs()
    // why each failed query failed, for tools/check.py to report; the
    // deadlock watch reads it from its own thread
    val errs = scala.collection.concurrent.TrieMap.empty[String, String]
    val running = new AtomicReference("")
    // a deadlocked driver never returns, so nothing below would run:
    // the watch writes the dump and halts (shutdown hooks could block
    // on the same locks)
    DeadlockWatch.start() { r =>
      onDeadlock(outDir, running.get, errs.toSeq, r)
      Runtime.getRuntime.halt(DeadlockExit)
    }
    SparkEntry.queries
      .filter { case (name, _) => Bench.selected(name) }
      .foreach { case (name, fn) =>
        running.set(name)
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          errs(name) = s"${e.getClass.getSimpleName}: ${e.getMessage}"
        }
      }
    writeDump(outDir, errs.toSeq)
    spark.stop()
  }

  /** What a deadlocked run leaves: the dump with the running query's
    * entry in `_errors.json` naming the deadlocked threads and locks,
    * and their full stacks on stderr.
    */
  private[graft] def onDeadlock(outDir: String, running: String,
                                errs: Seq[(String, String)],
                                r: DeadlockWatch.Report): Unit = {
    writeDump(outDir, errs :+ (running -> s"DriverDeadlock: ${r.summary}"))
    System.err.println(
      s"[verify] $running: driver deadlock, halting\n${r.stacks}")
  }

  /** `oracle_sql.json` and `_errors.json` (`{name: "Class: message"}`). */
  private def writeDump(outDir: String, errs: Seq[(String, String)]): Unit = {
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      obj(SparkEntry.oracleSql))
    Files.writeString(Paths.get(s"$outDir/_errors.json"), obj(errs.sorted))
  }

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in an oracle's SQL would otherwise make the reader's
  // json.load (tools/check.py) fail and silently zero the correctness
  // count.
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def obj(kvs: Iterable[(String, String)]): String =
    kvs.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
}

/** Fails a hung driver loudly instead of letting it sit at 0% CPU: a
  * daemon thread asks the JVM every `everyMs` for threads deadlocked
  * on monitors or `java.util.concurrent` locks, and hands the first
  * hit to `onDeadlock`, once. It reports a deadlock; it cannot break
  * one. Interrupting the returned thread ends the watch.
  */
private[graft] object DeadlockWatch {

  /** The deadlocked threads, with their locks and full stacks. */
  final case class Report(threads: Seq[ThreadInfo]) {
    /** One line: per thread, the lock it waits for and its owner. */
    def summary: String = threads.map { t =>
      s"'${t.getThreadName}' waits for ${t.getLockName} held by " +
        s"'${t.getLockOwnerName}'"
    }.mkString("; ")

    /** Full stacks (`ThreadInfo.toString` cuts them at 8 frames) and
      * the locks each thread holds.
      */
    def stacks: String = threads.map { t =>
      val held = t.getLockedSynchronizers.map(_.toString) ++
        t.getLockedMonitors.map(_.toString)
      s"'${t.getThreadName}' waiting for ${t.getLockName} held by " +
        s"'${t.getLockOwnerName}', holding ${held.mkString("[", ", ", "]")}\n" +
        t.getStackTrace.map("\tat " + _).mkString("\n")
    }.mkString("\n\n")
  }

  def start(everyMs: Long = 5000)(onDeadlock: Report => Unit): Thread = {
    val mx = ManagementFactory.getThreadMXBean
    val t = new Thread(() => {
      try {
        var hit = false
        while (!hit) {
          Thread.sleep(everyMs)
          val ids = mx.findDeadlockedThreads()
          if (ids != null) {
            hit = true
            onDeadlock(Report(
              mx.getThreadInfo(ids, true, true).toSeq.filter(_ != null)))
          }
        }
      } catch { case _: InterruptedException => }
    }, "graft-deadlock-watch")
    t.setDaemon(true)
    t.start()
    t
  }
}
