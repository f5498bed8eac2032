package graft.llmops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.ParquetStore

/** Persisted, list-partitioned ANN index — the serving layout for
  * similarity search at corpus scale. [[write]] materializes the
  * corpus as parquet PARTITIONED BY the coarse list id, each row
  * carrying only (id, PQ codes), with the trained models persisted
  * alongside ([[Models]]); [[topK]] then answers query batches by
  * reading ONLY the probed partitions — the probe set becomes a
  * static `list_id IN (...)` partition filter, so Spark's partition
  * pruning drops unprobed lists before a single byte is read
  * (AnnIndexSpec asserts `inputFiles` shrinks accordingly).
  *
  * This is the piece the in-memory `*WithModels` seams don't give
  * you at 100 TB: an nprobe/nlist probe budget there still SCANS the
  * whole code table and filters at the join; here the layout itself
  * enforces it — a 1000-executor query touches nprobe·|queries|
  * partitions of the index, not the corpus. Write once after (re)
  * training; serve any number of query batches, from any session.
  */
object AnnIndex {

  /** Tombstone-delete vectors by id: appends the distinct ids under
    * `path/_tombstones/ids` (underscore parent → invisible to the
    * root index scan, the `_models` pattern) — no partition moves.
    * Idempotent; unknown ids are no-ops. [[topK]] anti-joins the
    * probed rows against the store on the next query; [[compact]]
    * reclaims the space. The takedown path for a serving index: a
    * removal request is one slim append, never a rewrite.
    */
  def delete(ids: DataFrame, path: String,
             idCol: String = "vec_id"): Unit =
    ids.select(col(idCol).cast("long").as("id")).distinct()
      .sortWithinPartitions("id") // same ids, same bytes
      .write.mode("append").parquet(s"$path/_tombstones/ids")

  /** Physically remove tombstoned vectors: the code rows rewrite
    * without them — repartitioned by list so each list lands
    * consolidated, which doubles as small-file cleanup after many
    * appends — while the persisted models and training metrics are
    * carried through unchanged (deletion never retrains; [[drift]]
    * stays the retrain signal) and the tombstone store clears with
    * the root overwrite. No-op when nothing was deleted.
    */
  def compact(spark: SparkSession, path: String,
              corpusId: String = "vec_id"): Unit = {
    if (!ParquetStore.exists(spark, s"$path/_tombstones/ids")) return
    val (cents, books) = loadModels(spark, path)
    val metrics = ParquetStore.read(spark, s"$path/_stats/metrics")
      .localCheckpoint() // materialized: its parent dir is overwritten
    val tombs = ParquetStore.read(spark, s"$path/_tombstones/ids")
      .select(col("id").as(corpusId)).distinct()
    val live = ParquetStore.read(spark, path)
      .join(tombs, Seq(corpusId), "left_anti")
      .localCheckpoint()
    // The root overwrite below deletes _models/_stats along with the
    // codes; until they re-save they exist only in driver memory. A
    // crash in that window would otherwise lose the trained models
    // FOREVER (the index would be unserveable) — so they land in a
    // sibling backup FIRST, which is removed only after the re-save
    // completes. Recovery from a crash: copy `<path>.compactbak/*`
    // back under `<path>/`. For compaction with NO serve outage risk
    // at all, use [[compactVersioned]].
    val bak = s"$path.compactbak"
    Models.saveIvfAdc(spark, s"$bak/_models", cents, books)
    metrics.coalesce(1).write.mode("overwrite")
      .parquet(s"$bak/_stats/metrics")
    // rows in (list, id) order, not shuffle-fetch order, so a
    // compaction of the same index writes the same bytes every time
    live.repartition(col("list_id"))
      .sortWithinPartitions("list_id", corpusId)
      .write.mode("overwrite").partitionBy("list_id").parquet(path)
    Models.saveIvfAdc(spark, s"$path/_models", cents, books)
    metrics.coalesce(1).write.mode("overwrite")
      .parquet(s"$path/_stats/metrics")
    ParquetStore.delete(spark, bak)
  }

  /** Train (or accept) models and write the index: parquet
    * partitioned by `list_id` with (id, codes) rows, plus the models
    * under `path/_models`. Returns the models for immediate reuse.
    */
  def write(corpus: DataFrame, path: String,
            nlist: Int = 16, coarseIters: Int = 2,
            m: Int = 8, codewords: Int = 16, pqIters: Int = 2,
            corpusId: String = "vec_id", corpusVec: String = "embedding")
      : (Array[Array[Float]], Array[Array[Array[Float]]]) = {
    // the coarse quantizer and the PQ codebooks train independently
    // from the same corpus — two driver threads overlap their
    // per-iteration jobs (guide §2.6)
    val Seq(centsA, booksA) = Par.run(Seq[() => AnyRef](
      () =>
        if (coarseIters > 0)
          Ivf.kmeansCentroids(corpus, nlist, coarseIters, corpusId,
            corpusVec)
        else Ivf.sampleCentroids(corpus, nlist, corpusId, corpusVec),
      () => Ivf.pqCodebooks(corpus, m, codewords, pqIters,
        corpusId, corpusVec)))
    val cents = centsA.asInstanceOf[Array[Array[Float]]]
    val books = booksA.asInstanceOf[Array[Array[Array[Float]]]]
    writeWithModels(corpus, path, cents, books, corpusId, corpusVec)
    (cents, books)
  }

  /** The index row shape: (id, coarse list assignment, PQ codes). */
  private def encoded(corpus: DataFrame,
                      centroids: Array[Array[Float]],
                      books: Array[Array[Array[Float]]],
                      corpusId: String, corpusVec: String): DataFrame =
    corpus.where(col(corpusVec).isNotNull)
      .select(col(corpusId),
        element_at(Ivf.nearest_centroids(col(corpusVec), centroids, 1), 1)
          .as("list_id"),
        Ivf.pqEncode(col(corpusVec), books).as("codes"))

  /** Mean squared distance to the nearest persisted centroid — the
    * k-means inertia per vector, the fit statistic the drift probe
    * compares against. 0.0 for an empty frame.
    */
  private def assignMse(vecs: DataFrame, centroids: Array[Array[Float]],
                        vecCol: String): Double =
    vecs.where(col(vecCol).isNotNull)
      .agg(coalesce(avg(Ivf.centroid_sq_dist(col(vecCol), centroids)),
        lit(0.0)))
      .head().getDouble(0)

  /** Coarse-assignment MSE and PQ-reconstruction MSE in ONE pass over
    * the batch — both kernels live in the same whole-stage-codegen
    * projection, so the second statistic is free of a second scan.
    */
  private def fitMse(vecs: DataFrame, centroids: Array[Array[Float]],
                     books: Array[Array[Array[Float]]],
                     vecCol: String): (Double, Double) = {
    val r = vecs.where(col(vecCol).isNotNull)
      .agg(
        coalesce(avg(Ivf.centroid_sq_dist(col(vecCol), centroids)),
          lit(0.0)),
        coalesce(avg(Ivf.pq_reconstruction_sq_dist(col(vecCol), books)),
          lit(0.0)))
      .head()
    (r.getDouble(0), r.getDouble(1))
  }

  /** [[write]] with externally trained models. Also records the
    * training-time assignment MSE under `path/_stats/metrics`
    * (underscore-prefixed parent → invisible to index scans, leaf dir
    * plain so the read needs no root-path filter exemption — the
    * `_models/centroids` pattern) — the
    * baseline [[drift]] compares incoming batches against. One extra
    * corpus pass at write time; write-once, serve-many.
    */
  def writeWithModels(corpus: DataFrame, path: String,
                      centroids: Array[Array[Float]],
                      books: Array[Array[Array[Float]]],
                      corpusId: String = "vec_id",
                      corpusVec: String = "embedding"): Unit = {
    val spark = corpus.sparkSession
    // the fit-metrics pass is independent of the code write, so it
    // runs in parallel with it (guide §2.6); the models and the
    // metrics ROW still land strictly AFTER the root overwrite, which
    // deletes the whole path including _models/_stats
    val Seq(_, fit) = Par.run(Seq[() => AnyRef](
      () => {
        encoded(corpus, centroids, books, corpusId, corpusVec)
          .write.mode("overwrite").partitionBy("list_id").parquet(path)
        null
      },
      () => fitMse(corpus, centroids, books, corpusVec)))
    val (coarse, recon) = fit.asInstanceOf[(Double, Double)]
    Models.saveIvfAdc(spark, s"$path/_models", centroids, books)
    import spark.implicits._
    Seq(("train_mse", coarse), ("train_recon_mse", recon))
      .toDF("metric", "value")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/_stats/metrics")
  }

  /** Incremental append: encode NEW vectors with the PERSISTED models
    * into the existing list partitions — the index stays serveable
    * throughout, and as long as the models are unchanged the result
    * is indistinguishable from a fresh full write (AnnIndexSpec pins
    * topK equality). No retraining, no rewrite of existing
    * partitions: the appended files land only in the lists the new
    * vectors assign to. When [[drift]] says the models no longer fit
    * the data, retrain + [[writeWithModels]] instead.
    *
    * Id uniqueness across write+appends is the caller's contract,
    * like any append-mode sink.
    */
  def append(spark: SparkSession, newVecs: DataFrame, path: String,
             corpusId: String = "vec_id",
             corpusVec: String = "embedding"): Unit = {
    val (cents, books) = loadModels(spark, path)
    encoded(newVecs, cents, books, corpusId, corpusVec)
      .write.mode("append").partitionBy("list_id").parquet(path)
  }

  /** Drift probe — the retrain signal for an append-mode index: the
    * fit of an incoming batch under the PERSISTED models vs the
    * training-time fit recorded at write, along BOTH axes a quantizer
    * can rot on:
    *
    *  - coarse-assignment MSE (`ratio`): the batch crowds into lists
    *    the centroids don't represent → probe recall decays;
    *  - PQ-reconstruction MSE (`recon_ratio`): coarse geometry still
    *    fits but the batch's WITHIN-list detail no longer matches the
    *    residual codebooks → ADC scores go mushy and ranking quality
    *    decays while the coarse probe looks healthy. A coarse-only
    *    probe is blind to exactly this failure (a distribution shift
    *    that preserves cluster positions but rotates/reshapes the
    *    fine structure), which is why both are checked.
    *
    * One row: (train_mse, new_mse, ratio, train_recon_mse,
    * new_recon_mse, recon_ratio). Either ratio near 1 → that axis
    * still fits (append freely); well above 1 → retrain + rewrite.
    * Cost: ONE kernel-projection pass over the batch (both statistics
    * share the scan); the index itself is never read. Indexes written
    * before reconstruction tracking carry no `train_recon_mse` row —
    * the recon columns come back NaN rather than failing the probe.
    */
  def drift(spark: SparkSession, newVecs: DataFrame, path: String,
            corpusVec: String = "embedding"): DataFrame = {
    val (cents, books) = loadModels(spark, path)
    val metrics = spark.read.parquet(s"$path/_stats/metrics")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val trainMse = metrics("train_mse")
    val trainRecon = metrics.getOrElse("train_recon_mse", Double.NaN)
    val (newMse, newRecon) = fitMse(newVecs, cents, books, corpusVec)
    import spark.implicits._
    Seq((trainMse, newMse,
        if (trainMse > 0) newMse / trainMse else Double.NaN,
        trainRecon, newRecon,
        if (trainRecon > 0) newRecon / trainRecon else Double.NaN))
      .toDF("train_mse", "new_mse", "ratio",
        "train_recon_mse", "new_recon_mse", "recon_ratio")
  }

  /** Load the persisted models back: (centroids, codebooks). */
  def loadModels(spark: SparkSession, path: String)
      : (Array[Array[Float]], Array[Array[Array[Float]]]) =
    Models.loadIvfAdc(spark, s"$path/_models")

  /** Approximate top-k against a written index. The probed list ids
    * are computed driver-side from the (small, broadcast-bound) query
    * batch and applied as a STATIC partition filter, so the scan
    * plans with `PartitionFilters: list_id IN (...)` and unprobed
    * partitions are never read. Scoring/ranking is identical to
    * [[Ivf.ivfAdcTopKWithModels]] (same LUT scan, same 6-dp rounding,
    * same bounded-heap re-rank) — AnnIndexSpec pins bit-equality.
    */
  def topK(spark: SparkSession, path: String, queries: DataFrame, k: Int,
           nprobe: Int = 4,
           corpusId: String = "vec_id",
           queryId: String = "query_id", queryVec: String = "query_vec")
      : DataFrame = {
    val (cents, books) = loadModels(spark, path)
    topKWithModels(spark, path, queries, k, cents, books, nprobe,
      corpusId, queryId, queryVec)
  }

  /** [[topK]] with pre-loaded models — the seam a long-lived server
    * (e.g. [[graft.streaming.AnnServe]]) uses to load the model tables
    * once and answer every subsequent query batch without re-reading
    * `_models`.
    */
  def topKWithModels(spark: SparkSession, path: String, queries: DataFrame,
                     k: Int, cents: Array[Array[Float]],
                     books: Array[Array[Array[Float]]],
                     nprobe: Int = 4,
                     corpusId: String = "vec_id",
                     queryId: String = "query_id", queryVec: String = "query_vec")
      : DataFrame = {
    val lists = Ivf.nearest_centroids(col(queryVec), cents, nprobe)
    // driver-side probe set: nprobe·|queries| ints — the query batch
    // is broadcast-bound anyway, so this collect is bounded, and the
    // dedupe runs here rather than as a distinct shuffle
    val probedLists = queries.select(explode(lists))
      .collect().map(_.getInt(0)).distinct.toSeq
    val codedAll = ParquetStore.read(spark, path)
      .filter(col("list_id").isin(probedLists: _*))
    // tombstoned ids drop via an anti-join over the PROBED rows only —
    // cost scales with the probe set, and absence of the store (the
    // common case) costs one driver-side existence check
    val coded =
      if (ParquetStore.exists(spark, s"$path/_tombstones/ids"))
        codedAll.join(
          ParquetStore.read(spark, s"$path/_tombstones/ids")
            .select(col("id").as(corpusId)).distinct(),
          Seq(corpusId), "left_anti")
      else codedAll
    Ivf.adcTopK(coded, queries, k, books, Some(lists),
      corpusId, queryId, queryVec)
  }

  // ------------------------------------------------------------------
  // Versioned lifecycle ([[VersionedIndex]]): compact and retrain
  // UNDER SERVE. Both are rewrite-shaped (compact rewrites the codes;
  // retrain replaces the models AND every code), so in a serving
  // deployment they write a fresh immutable v<N> and flip the pointer
  // — a racing query reads the old version or the new one bit-exactly,
  // never torn state, and the drift→retrain→re-encode→swap loop the
  // drift probe exists for becomes one call.
  // ------------------------------------------------------------------

  /** [[write]] into a fresh version under a [[VersionedIndex]] root,
    * then publish. Returns (version, (centroids, codebooks)).
    */
  def writeVersioned(corpus: DataFrame, root: String,
                     nlist: Int = 16, coarseIters: Int = 2,
                     m: Int = 8, codewords: Int = 16, pqIters: Int = 2,
                     corpusId: String = "vec_id",
                     corpusVec: String = "embedding")
      : (Int, (Array[Array[Float]], Array[Array[Array[Float]]])) = {
    val spark = corpus.sparkSession
    val v = VersionedIndex.next(spark, root)
    val models = write(corpus, VersionedIndex.versionPath(root, v),
      nlist, coarseIters, m, codewords, pqIters, corpusId, corpusVec)
    VersionedIndex.publish(spark, root, v)
    (v, models)
  }

  /** Copy-compact: the current version's live codes (tombstones
    * anti-joined away) land consolidated as v<N+1> with the SAME
    * models and training metrics carried through, then publish. The
    * superseded version is never touched. Returns the new version.
    */
  def compactVersioned(spark: SparkSession, root: String,
                       corpusId: String = "vec_id"): Int = {
    val src = VersionedIndex.currentPath(spark, root)
    val v = VersionedIndex.next(spark, root)
    val dst = VersionedIndex.versionPath(root, v)
    val (cents, books) = loadModels(spark, src)
    val codesAll = spark.read.parquet(src)
    val live =
      if (ParquetStore.exists(spark, s"$src/_tombstones/ids"))
        codesAll.join(
          spark.read.parquet(s"$src/_tombstones/ids")
            .select(col("id").as(corpusId)).distinct(),
          Seq(corpusId), "left_anti")
      else codesAll
    // dst is fresh: codes first, then models/metrics, then publish —
    // a crash anywhere leaves an unpublished partial dir that the
    // next attempt simply skips past
    live.repartition(col("list_id"))
      .sortWithinPartitions("list_id", corpusId) // see [[compact]]
      .write.mode("overwrite").partitionBy("list_id").parquet(dst)
    Models.saveIvfAdc(spark, s"$dst/_models", cents, books)
    spark.read.parquet(s"$src/_stats/metrics")
      .coalesce(1).write.mode("overwrite").parquet(s"$dst/_stats/metrics")
    VersionedIndex.publish(spark, root, v)
    v
  }

  /** The composed drift→retrain→re-encode→swap step the drift probe
    * is FOR. Probes `newBatch` against the CURRENT version's models;
    * if either drift axis exceeds `maxRatio`, the FULL corpus (the
    * caller supplies it — an index stores codes, not vectors — and it
    * must already include the new batch) retrains and re-encodes as a
    * fresh published version; otherwise the batch appends into the
    * current version (additive, serve-safe). Returns
    * (retrained, servingVersion).
    */
  def retrainIfDrifted(spark: SparkSession, corpus: DataFrame,
                       newBatch: DataFrame, root: String,
                       maxRatio: Double = 2.0,
                       nlist: Int = 16, coarseIters: Int = 2,
                       m: Int = 8, codewords: Int = 16, pqIters: Int = 2,
                       corpusId: String = "vec_id",
                       corpusVec: String = "embedding"): (Boolean, Int) = {
    require(maxRatio > 0, "maxRatio must be positive")
    val cur = VersionedIndex.currentPath(spark, root)
    val d = drift(spark, newBatch, cur, corpusVec).head()
    val ratio = d.getAs[Double]("ratio")
    val recon = d.getAs[Double]("recon_ratio")
    val drifted = (!ratio.isNaN && ratio > maxRatio) ||
      (!recon.isNaN && recon > maxRatio)
    if (drifted) {
      val (v, _) = writeVersioned(corpus, root, nlist, coarseIters, m,
        codewords, pqIters, corpusId, corpusVec)
      (true, v)
    } else {
      append(spark, newBatch, cur, corpusId, corpusVec)
      (false, VersionedIndex.current(spark, root).get)
    }
  }

  /** [[topK]] against the CURRENT version of a versioned root: the
    * pointer resolves once per call; the batch serves from that
    * immutable snapshot.
    */
  def topKVersioned(spark: SparkSession, root: String, queries: DataFrame,
                    k: Int, nprobe: Int = 4,
                    corpusId: String = "vec_id",
                    queryId: String = "query_id",
                    queryVec: String = "query_vec"): DataFrame =
    topK(spark, VersionedIndex.currentPath(spark, root), queries, k,
      nprobe, corpusId, queryId, queryVec)
}
