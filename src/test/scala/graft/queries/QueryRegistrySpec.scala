package graft
package queries

import org.apache.hadoop.fs.{FileSystem, Path}

class QueryRegistrySpec extends SparkTestBase {

  private def localPath(p: String): String =
    java.nio.file.Paths.get(new Path(p).toUri.getPath).normalize.toString

  test("query names are unique, and a repeated name fails the registry") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.distinct.size == names.size)
    val q = SparkEntry.registry.head
    val e = intercept[IllegalArgumentException](
      Query.registry(Seq(q), Seq(q.copy(oracle = "SELECT 1"))))
    assert(e.getMessage.contains(q.name))
  }

  test("lifecycleQueries is exactly the seven index/trainer lifecycles") {
    assert(SparkEntry.lifecycleQueries == Set(
      "q100_dsir_select", "q110_ann_append", "q135_retrieval_serve",
      "q136_bm25_index_serve", "q138_rm3_expansion",
      "q143_bm25_index_delete", "q170_hybrid_tuning"))
  }

  test("every file an oracle reads is under scratch") {
    val reads = for {
      (name, sql) <- SparkEntry.oracleSql.toSeq
      m <- """read_\w+\(\s*'([^']*)'""".r.findAllMatchIn(sql)
    } yield name -> m.group(1)
    assert(reads.nonEmpty)
    val outside = reads.filterNot(_._2.startsWith(SparkEntry.scratch + "/"))
    assert(outside.isEmpty, s"oracle reads outside scratch: ${outside.sorted}")
  }

  test("q93 writes its index under scratch, which is Spark's warehouse dir") {
    val idx = s"${SparkEntry.scratch}/q93_index"
    FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
      .delete(new Path(idx), true)
    assert(SparkEntry.queries("q93_ann_index")(spark, sf0001).count() > 0)
    assert(new java.io.File(idx).isDirectory)
    assert(SparkEntry.scratch ==
      localPath(spark.conf.get("spark.sql.warehouse.dir")))
  }
}
