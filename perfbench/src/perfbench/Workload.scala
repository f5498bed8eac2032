package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** What one op did: `kind` groups ops for latency, `units` is the work
  * it completed (companies, docs, queries), and `check` — run after the
  * op's clock stops — returns the reasons its output is wrong, if any.
  */
final case class Done(kind: String, units: Double,
                      check: () => Seq[String] = () => Nil,
                      attrs: Map[String, Double] = Map.empty)

/** A measured op. */
final case class OpRec(i: Int, kind: String, wallS: Double, startMs: Long,
                       endMs: Long, units: Double, errors: Seq[String],
                       attrs: Map[String, Double], traced: Boolean,
                       compiles: Long, compileNs: Long)

/** One seeded workload: set-up, an op stream, and the metrics it
  * derives from the measured ops.
  */
trait Workload {
  /** Ops per cycle of the op stream; runs measure whole cycles. */
  def cycle: Int = 1
  /** Fewest cycles a run measures. */
  def minCycles: Int
  /** Warm-up ops, a fixed count per workload. */
  def warmOps: Int
  /** The op kind whose latency is `op_p50_s`. */
  def mainKind: String
  /** The op's write latency (`write_p50_s`), if it writes. */
  def writeS(o: OpRec): Option[Double]
  /** Builds every input and artifact under the run root. */
  def setup(): Unit
  def op(i: Int): Done
  /** `recall` and `disk_bytes_ratio` over the measured ops. */
  def quality(ops: Seq[OpRec]): (Double, Double)
  /** Per-layer metrics this workload's layers produce. */
  def layers(ops: Seq[OpRec]): Map[String, Double]
  /** Size and shape of the generated inputs, for the span file. */
  def inputs: Map[String, Any]
}

object Workload {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** (files, bytes) of every regular file under `dir`. */
  def du(dir: Path): (Long, Long) =
    if (!Files.exists(dir)) (0L, 0L)
    else {
      val s = Files.walk(dir)
      try {
        var files = 0L
        var bytes = 0L
        s.filter(Files.isRegularFile(_)).forEach { p =>
          files += 1
          bytes += Files.size(p)
        }
        (files, bytes)
      } finally s.close()
    }

  def deleteTree(dir: Path): Unit =
    if (Files.exists(dir)) {
      val s = Files.walk(dir)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
      finally s.close()
    }

  def apply(name: String, spark: SparkSession, trace: Trace, root: Path,
            seed: Long): Workload = name match {
    case "etl_reports" => new EtlReports(spark, trace, root, seed)
    case "corpus_curation" => new CorpusCuration(spark, trace, root, seed)
    case "index_serve" => new IndexServe(spark, trace, root, seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}
