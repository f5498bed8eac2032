package graft.io

import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** Driver-side reads of the small persisted parquet stores behind the
  * serving indexes ([[graft.llmops.Bm25Index]], [[graft.llmops.AnnIndex]],
  * [[graft.llmops.Models]]), so that serving a persisted index runs only
  * its scan jobs.
  *
  *  - [[read]] returns the frame `spark.read.parquet(path)` returns, but
  *    without Spark's schema-inference job: the data schema comes from
  *    the first data file's footer, read on the driver, and the
  *    partition columns are left to Spark's own inference.
  *  - [[small]] memoizes a small driver-side value (model weights, an
  *    index parameter, a stats row) keyed by the store's file listing
  *    (path, length, mtime of every data file). Spark writes new
  *    part-file names on every overwrite or append, so any rewrite of
  *    the store changes the key and the next call reloads.
  *  - [[exists]] and [[delete]] are the stores' directory checks and
  *    removals (tombstone stores, compaction backups).
  */
object ParquetStore {

  /** The footer key under which Spark's parquet writer stores the row
    * schema as JSON; Spark's own schema inference reads the same key.
    */
  private val SchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** Entries kept by [[small]], least recently used evicted first. */
  private val MemoSize = 64

  private type Listing = Seq[(String, Long, Long)]

  private val memo =
    new java.util.LinkedHashMap[(String, Listing), Any](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Listing), Any]): Boolean =
        size() > MemoSize
    }

  /** `spark.read.parquet(path)` without the schema-inference job. Falls
    * back to that plain read when the store is missing, holds no data
    * file, carries parquet summary files, or its first footer has no
    * Spark schema.
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    read(spark, conf, path, dataFiles(spark, conf, path))
  }

  /** `load` over [[read]]'s frame, memoized per (`what`, the store's
    * data-file listing). `what` names the value, so two loaders over
    * one store do not share an entry. A missing or empty store is not
    * memoized: `load` runs on the plain read and fails as it would.
    */
  def small[T](spark: SparkSession, path: String, what: String)(
      load: DataFrame => T): T = {
    val conf = spark.sessionState.newHadoopConf()
    val files = dataFiles(spark, conf, path)
    files match {
      case None => load(spark.read.parquet(path))
      case Some(fs) =>
        val key = (what, fs.map(f =>
          (f.getPath.toString, f.getLen, f.getModificationTime)))
        memo.synchronized(Option(memo.get(key))) match {
          case Some(v) => v.asInstanceOf[T]
          case None =>
            val v = load(read(spark, conf, path, files))
            memo.synchronized(memo.put(key, v))
            v
        }
    }
  }

  /** Whether a store directory exists. A missing path is a clean
    * `false`; any other filesystem error propagates.
    */
  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
  }

  /** Recursively delete a store directory; a missing path is a no-op. */
  def delete(spark: SparkSession, path: String): Unit = {
    val p = new Path(path)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
  }

  private def read(spark: SparkSession, conf: Configuration, path: String,
                   files: Option[Seq[FileStatus]]): DataFrame =
    files.flatMap(fs => footerSchema(conf, fs.head)) match {
      // the footer gives the data columns only; with a user schema that
      // lacks them, Spark infers the partition columns exactly as it
      // does for a plain read
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None => spark.read.parquet(path)
    }

  /** The store's data files in the order Spark's parquet schema
    * inference takes them: every leaf file under `path`, skipping
    * `_`- and `.`-prefixed names (except `_k=v` partition directories)
    * and `._COPYING_` files, sorted by full path. None when the path is
    * missing, no data file exists, a `_metadata`/`_common_metadata`
    * summary file would take precedence over the data files, or schema
    * merging is on (Spark then reads every footer).
    */
  private def dataFiles(spark: SparkSession, conf: Configuration,
                        path: String): Option[Seq[FileStatus]] = {
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    def hidden(name: String): Boolean =
      (name.startsWith("_") && !name.contains("=")) ||
        name.startsWith(".") || name.endsWith("._COPYING_")
    def isSummary(name: String): Boolean =
      name == "_metadata" || name == "_common_metadata"
    def leaves(dir: Path): Seq[FileStatus] =
      fs.listStatus(dir).toSeq
        .filter(s => !hidden(s.getPath.getName) || isSummary(s.getPath.getName))
        .flatMap(s => if (s.isDirectory) leaves(s.getPath) else Seq(s))
    val merge = spark.conf.get("spark.sql.parquet.mergeSchema", "false")
    if (merge.toBoolean) None
    else Try(fs.getFileStatus(root)).toOption.flatMap { st =>
      val all = if (st.isDirectory) leaves(st.getPath) else Seq(st)
      if (all.isEmpty || all.exists(s => isSummary(s.getPath.getName))) None
      else Some(all.sortBy(_.getPath.toString))
    }
  }

  private def footerSchema(conf: Configuration, file: FileStatus)
      : Option[StructType] = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf))
    try Option(reader.getFooter.getFileMetaData.getKeyValueMetaData
        .get(SchemaKey))
      .flatMap(json => Try(DataType.fromJson(json)).toOption)
      .collect { case s: StructType => s }
    finally reader.close()
  }
}
