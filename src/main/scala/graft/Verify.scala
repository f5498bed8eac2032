package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
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
    // why each failed query failed, for tools/check.py to report
    val errs = scala.collection.mutable.Map.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => Bench.selected(name) }
      .foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          errs(name) = s"${e.getClass.getSimpleName}: ${e.getMessage}"
        }
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def obj(kvs: Iterable[(String, String)]): String =
      kvs.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      obj(SparkEntry.oracleSql))
    Files.writeString(Paths.get(s"$outDir/_errors.json"), obj(errs.toSeq.sorted))
    spark.stop()
  }
}
