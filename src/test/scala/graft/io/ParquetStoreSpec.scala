package graft.io

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{SparkTestBase, Tables}
import graft.llmops.{AnnIndex, Bm25Index}

class ParquetStoreSpec extends SparkTestBase {
  import spark.implicits._

  private def tmp(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft-store")
    d.toFile.deleteOnExit()
    d.resolve("s").toString
  }

  /** Every store of a BM25 and an ANN index, written from `idType` ids:
    * postings (partitioned by term_bucket), stats with two rows,
    * doclens, tombstones, params; the ANN root (partitioned by list_id)
    * with its `_models`, `_stats` and `_tombstones` siblings.
    */
  private def indexStores(idType: String): Seq[String] = {
    val docs = Seq((1, "alpha beta"), (2, "beta gamma gamma"), (3, ""),
        (4, "delta alpha"))
      .toDF("doc_id", "text")
      .select($"doc_id".cast(idType).as("doc_id"), $"text")
    val bm = tmp()
    Bm25Index.write(docs.filter($"doc_id" < 4), bm, nBuckets = 4)
    Bm25Index.append(docs.filter($"doc_id" === 4), bm)
    Bm25Index.delete(Seq(1).toDF("doc_id")
      .select($"doc_id".cast(idType).as("doc_id")), bm)
    val vecs = Tables.embeddings(spark, sf0001).filter($"vec_id" < 64)
      .select($"vec_id".cast(idType).as("vec_id"), $"embedding")
    val ann = tmp()
    AnnIndex.write(vecs, ann, nlist = 4, coarseIters = 1, m = 4,
      codewords = 4, pqIters = 1)
    AnnIndex.delete(Seq(5).toDF("vec_id")
      .select($"vec_id".cast(idType).as("vec_id")), ann)
    Seq("postings", "stats", "doclens", "tombstones", "params")
      .map(s => s"$bm/$s") ++
      Seq("", "/_models/centroids", "/_models/codebooks", "/_stats/metrics",
        "/_tombstones/ids").map(s => s"$ann$s")
  }

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq.map {
      case a: scala.collection.Seq[_] => a.toList
      case v => v
    }).toSet

  test("read: the footer schema equals spark.read.parquet's for every " +
      "index store layout, from int and from long ids") {
    for (idType <- Seq("int", "long")) {
      val stores = indexStores(idType)
      stores.foreach { p =>
        val plain = spark.read.parquet(p)
        val viaFooter = ParquetStore.read(spark, p)
        assert(viaFooter.schema == plain.schema, s"$idType ids: $p")
        assert(rows(viaFooter) == rows(plain), s"$idType ids: $p")
      }
      // the partition columns come from Spark's own inference
      assert(ParquetStore.read(spark, stores.head).schema("term_bucket")
        .dataType.typeName == "integer")
    }
  }

  test("read plans without a job; a missing store fails as Spark's read " +
      "does") {
    val p = tmp()
    Seq((1L, 2.0)).toDF("id", "dl").write.parquet(p)
    assert(jobsIn("parquetstore-plain")(spark.read.parquet(p)) == 1)
    assert(jobsIn("parquetstore-footer")(ParquetStore.read(spark, p)) == 0)
    val missing = tmp()
    val plainErr = intercept[Exception](spark.read.parquet(missing))
    val err = intercept[Exception](ParquetStore.read(spark, missing))
    assert(err.getClass == plainErr.getClass)
  }

  test("small: a repeat load runs no job; a rewrite of the store and a " +
      "second loader name each load afresh") {
    val p = tmp()
    Seq(7).toDF("n_buckets").write.parquet(p)
    def load(what: String): Int =
      ParquetStore.small(spark, p, what)(_.head().getInt(0))
    assert(load("spec-a") == 7)
    var again = 0
    assert(jobsIn("parquetstore-hit") { again = load("spec-a") } == 0)
    assert(again == 7)
    Seq(9).toDF("n_buckets").write.mode("overwrite").parquet(p)
    assert(load("spec-a") == 9)
    assert(ParquetStore.small(spark, p, "spec-b")(_.count()) == 1L)
  }
}
