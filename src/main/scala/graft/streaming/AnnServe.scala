package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.llmops.AnnIndex

/** Continuous ANN serving: answer a stream of query vectors against a
  * persisted [[graft.llmops.AnnIndex]]. The index is the train-once /
  * serve-many artifact; this is the serve-forever shape on top of it.
  *
  * Why `foreachBatch` and not a stream-static join: the index's whole
  * point is that the probe set becomes a STATIC partition filter
  * (`list_id IN (...)`) so unprobed partitions are never read — and
  * that filter is computed from the query batch, so it can only be
  * planned once a micro-batch is in hand. A stream-static join would
  * plan one scan shape for all batches and read every partition.
  * Inside `foreachBatch` each batch is a plain DataFrame, so serving
  * IS [[AnnIndex.topKWithModels]] — bit-identical to the batch path
  * (AnnServeSpec pins it), with models loaded once at stream start,
  * not per batch.
  *
  * State: none. Every batch is independent; fault tolerance is the
  * sink's concern (foreachBatch re-delivers a batch id on retry, so
  * an idempotent-by-batch-id sink gets exactly-once results).
  */
object AnnServe {

  /** Build the serving writer: each query micro-batch (queryId,
    * queryVec rows) is answered with top-`k` over the index at `path`
    * and handed to `sink` with its batch id. Call `.start()` (after
    * any checkpoint/trigger options) to begin serving.
    *
    * Freshness contract, two tiers:
    *  - `path` is a plain index directory → SNAPSHOT-AT-START: the
    *    models load ONCE here. Vectors appended to the index while the
    *    stream runs DO surface (each batch re-plans its partition
    *    scan), but a retrain/rewrite of the models at `path` is NOT
    *    picked up until the serving stream restarts.
    *  - `path` is a [[graft.llmops.VersionedIndex]] ROOT (it has a
    *    published version) → VERSION-AWARE: every micro-batch
    *    re-resolves the pointer (one `_ptr` directory listing — a
    *    metadata read, not a data read) and reloads the model tables
    *    only when the version actually changed, so a
    *    `writeVersioned`/`compactVersioned` publish mid-stream serves
    *    from the new version on the NEXT batch, no restart. A batch
    *    races the flip atomically: it reads the old version or the
    *    new one bit-exactly, never torn state.
    */
  def serve(spark: SparkSession, path: String, queries: DataFrame, k: Int,
            nprobe: Int = 4,
            corpusId: String = "vec_id",
            queryId: String = "query_id", queryVec: String = "query_vec")
           (sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] = {
    import graft.llmops.VersionedIndex
    val versioned = VersionedIndex.current(spark, path).isDefined
    // foreachBatch runs on the single stream-execution thread, so the
    // served-version state needs no synchronization
    var servedVersion = -1
    var servedPath = path
    var models: (Array[Array[Float]], Array[Array[Array[Float]]]) =
      if (versioned) null else AnnIndex.loadModels(spark, path)
    queries.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      if (!batch.isEmpty) {
        if (versioned) {
          val v = VersionedIndex.current(spark, path).getOrElse(
            throw new IllegalStateException(
              s"$path lost its published version while serving"))
          if (v != servedVersion) {
            servedVersion = v
            servedPath = VersionedIndex.versionPath(path, v)
            models = AnnIndex.loadModels(spark, servedPath)
          }
        }
        sink(AnnIndex.topKWithModels(batch.sparkSession, servedPath, batch,
          k, models._1, models._2, nprobe, corpusId, queryId, queryVec),
          batchId)
      }
    }
  }

  /** Continuous HYBRID retrieval serving on a [[graft.llmops.Retrieval]]
    * index: each micro-batch of QUESTIONS (queryId, text rows) is
    * answered by `Retrieval.hybridSearch` — the vector side reads only
    * the probed index partitions, the lexical side only the probed
    * term buckets of the `/lexical` postings — and handed to `sink`
    * with its batch id. Same statelessness/fault contract as [[serve]]:
    * batches are independent, an idempotent-by-batch-id sink gets
    * exactly-once results. The question-in → passages-out loop closed
    * as one running query against purely persisted artifacts.
    *
    * Freshness contract, two tiers (the chunk-table cache is what
    * makes the plain tier sharper than [[serve]]'s):
    *  - `path` is a plain index directory → SNAPSHOT-AT-START: the
    *    chunk table caches ONCE, so chunks ingested into the index
    *    while this stream runs will match in the ANN/lexical tiers
    *    but FAIL the cached chunk join and drop from results silently
    *    until the serving stream restarts. Restart after ingest
    *    batches land, or — better — serve a versioned root; a
    *    growing-while-serving deployment that can do neither should
    *    trade the cache away and call `Retrieval.hybridSearch` per
    *    batch instead.
    *  - `path` is a [[graft.llmops.VersionedIndex]] ROOT → VERSION-
    *    AWARE: every micro-batch re-resolves the pointer (a metadata
    *    listing) and, when the version changed, unpersists the stale
    *    chunk cache and re-caches the new version's chunks — a
    *    `buildIndexVersioned`/`compactVersioned` publish mid-stream
    *    serves new chunks on the NEXT batch, no restart.
    */
  def serveHybrid(spark: SparkSession, path: String, questions: DataFrame,
                  k: Int = 5, nprobe: Int = 4, rrfK: Int = 60,
                  queryId: String = "query_id", textCol: String = "text")
                 (sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] = {
    import graft.llmops.VersionedIndex
    val versioned = VersionedIndex.current(spark, path).isDefined
    // load-once serving discipline (the [[serve]] contract): the chunk
    // table caches at stream start (or version flip) and every
    // micro-batch serves through hybridSearchWith — per-batch cost
    // stays probe-sized, not corpus-sized. hybridSearchWith
    // localCheckpoints its k·|queries|-row result, so a later
    // unpersist of the stale cache cannot invalidate delivered
    // batches. Single stream-execution thread — vars are safe.
    var servedVersion = -1
    var servedPath = path
    var chunks: DataFrame =
      if (versioned) null else spark.read.parquet(s"$path/chunks").cache()
    questions.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          if (versioned) {
            val v = VersionedIndex.current(spark, path).getOrElse(
              throw new IllegalStateException(
                s"$path lost its published version while serving"))
            if (v != servedVersion) {
              servedVersion = v
              servedPath = VersionedIndex.versionPath(path, v)
              if (chunks != null) chunks.unpersist()
              chunks = spark.read.parquet(s"$servedPath/chunks").cache()
            }
          }
          sink(graft.llmops.Retrieval.hybridSearchWith(batch.sparkSession,
            servedPath, chunks, batch, k, nprobe, rrfK, queryId, textCol),
            batchId)
        }
    }
  }
}
