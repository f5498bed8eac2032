package graft.llmops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.ParquetStore

/** Persisted, bucket-partitioned lexical (BM25) index — the
  * tokenize-once / serve-many seam for the lexical side of retrieval,
  * mirroring [[AnnIndex]]'s lifecycle for the vector side. Every
  * [[Bm25.topKBatch]] call re-tokenizes the corpus; at 100 TB that is
  * the whole cost of the query. [[write]] pays it ONCE: slim posting
  * rows (term, id, tf, dl) land as parquet PARTITIONED BY
  * `term_bucket = pmod(xxhash64(term), nBuckets)`, so a query batch
  * reads only the buckets its terms hash into — the probe set becomes
  * a static partition filter (the [[AnnIndex.topK]] pruning move,
  * applied to postings), and serving cost scales with the matched
  * postings, never the corpus.
  *
  * Corpus statistics (doc count, summed length) persist as additive
  * stats rows: [[append]] writes new docs' postings into their term
  * buckets plus ONE more stats row, and the serve path sums all stats
  * rows — so df (recomputed per term from the postings actually read)
  * and n/avgdl are always consistent with the full written corpus
  * with no rewrite of existing partitions. Id uniqueness across
  * write+appends is the caller's contract, as with any append sink.
  *
  * Score parity: [[scores]] reproduces [[Bm25.scoresBatch]] over the
  * same corpus up to float-summation ORDER (same tf/dl values, stats
  * arithmetic matching Spark's `avg`, same idf/score formulas — but
  * the per-document contribution sum arrives in index-partition
  * order, so totals agree to ~1e-12 relative, not bit-for-bit, the
  * [[Dsir.logwColumn]] contract); the 4-decimal ROUNDED ranking
  * surface of [[topK]] is identical to [[Bm25.topKBatch]]'s. Pinned
  * by Bm25IndexSpec; the q136 oracle replays serving from the
  * written files alone.
  *
  * Deletion is DATA, not a rewrite: [[delete]] appends the doomed ids
  * to `path/tombstones` (idempotent — duplicate tombstones dedupe at
  * serve, unknown ids never match anything), and [[scores]] anti-joins
  * the matched postings against them while subtracting the tombstoned
  * docs' exact (count, summed length) from the additive stats via
  * `path/doclens` — one slim (id, dl) row per written doc, the store
  * that makes the subtraction exact even for empty-text docs that have
  * no postings at all. Every dl is an integral double, so the
  * subtraction arithmetic equals a fresh stats pass over the surviving
  * corpus bit for bit. [[compact]] is the physical purge: postings and
  * doclens rewrite without the tombstoned rows, the stats rows
  * collapse to one, the tombstone store clears — and the bucket
  * repartition doubles as small-file consolidation after many appends.
  */
object Bm25Index {

  /** Build the index at `path`: `path/postings` (partitioned by
    * term_bucket), `path/stats` (one additive row), `path/doclens`
    * (one (id, dl) row per doc — the deletion stats base),
    * `path/params` (nBuckets — queries must hash into the same bucket
    * space). A reused path's stale tombstones are cleared: write is
    * the fresh-index contract.
    */
  def write(docs: DataFrame, path: String, nBuckets: Int = 64,
            idCol: String = "doc_id", textCol: String = "text"): Unit = {
    require(nBuckets > 0, "nBuckets must be positive")
    TopK.requireIntegralId(docs, idCol, "Bm25Index.write")
    val spark = docs.sparkSession
    import spark.implicits._
    ParquetStore.delete(spark, s"$path/tombstones")
    // one tokenize pass feeds BOTH stats stores: the additive stats
    // row is the exact aggregate of the doclens rows (every dl is an
    // integral double, so the sum is order-free), so deriving it from
    // the pinned lens frame saves a third full tokenize of the corpus
    val lens = docLens(docs, idCol, textCol, "base").localCheckpoint(false)
    // write() is the fresh-index contract (a crash leaves a partial
    // index either way), so the big stores build from a driver pool
    // and the small writes overlap the postings job (guide §2.6).
    // append() stays strictly ordered — its crash-window dedupe
    // semantics depend on postings landing before the stats row.
    Par.run(Seq(
      () => docs.select(col(idCol).as("id"),
          TextFuncs.tokenCount(col(textCol)).cast("double").as("dl"),
          explode(TextFuncs.tokens(col(textCol))).as("term"))
        .filter(col("term") =!= "")
        .groupBy(col("id"), col("term"))
        .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
        .withColumn("term_bucket",
          pmod(xxhash64(col("term")), lit(nBuckets)))
        // co-locate each bucket before the partitioned write: without
        // this every task writes a sliver of every bucket —
        // tasks x buckets files, the classic small-files explosion;
        // with it each bucket lands as one file per write
        .repartition(col("term_bucket"))
        .write.mode("overwrite").partitionBy("term_bucket")
        .parquet(s"$path/postings"),
      () => {
        statsOf(lens, "base")
          .write.mode("overwrite").parquet(s"$path/stats")
        lens.write.mode("overwrite").parquet(s"$path/doclens")
      }))
    // params lands strictly LAST: scores() reads it first, so its
    // presence doubles as the completion marker for a reader racing a
    // fresh build
    Seq(nBuckets).toDF("n_buckets")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/params")
  }

  /** One slim (id, dl, batch) row per doc — the exact per-doc length
    * record deletion subtracts from the additive stats. Includes
    * empty-text docs (dl = 0): they are corpus members with no
    * postings, and without this row deleting one could not adjust n.
    *
    * Store contract for `path/doclens`: the store may hold SEVERAL rows
    * per id, so readers must dedupe doclens rows by id. [[append]]
    * writes doclens concurrently with its stats row (the commit
    * marker), so a crash after the doclens append leaves rows that a
    * replay of the same batch appends again. The readers relying on
    * this are [[scores]] (the tombstone stats subtraction),
    * [[compact]] and [[compactVersioned]]; each calls
    * `dropDuplicates("id")` before using the rows.
    */
  private def docLens(docs: DataFrame, idCol: String, textCol: String,
                      batchTag: String): DataFrame =
    docs.select(col(idCol).cast("long").as("id"),
        TextFuncs.tokenCount(col(textCol)).cast("double").as("dl"))
      .withColumn("batch", lit(batchTag))

  /** One additive stats row for a document batch, derived from its
    * [[docLens]] frame: (n_docs, sum_dl, batch). Docs with
    * empty/whitespace text count toward n (they are corpus members
    * with dl = 0), exactly like [[Bm25.scores]]' stats pass — the
    * doclens store holds one row per doc including those, so the
    * aggregate equals a direct stats pass over the corpus bit for bit
    * (integral-double dl, order-free sum) without a second tokenize.
    * The `batch` tag exists so a replayed partial append (crash
    * between the postings and stats writes) dedupes at serve time
    * instead of permanently double-counting.
    */
  private def statsOf(lens: DataFrame, batchTag: String): DataFrame =
    lens.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
      .withColumn("batch", lit(batchTag))

  /** Incremental growth: new docs' postings append into their term
    * buckets, plus one more additive stats row — no rewrite, the index
    * stays serveable throughout, df/avgdl reflect the union on the
    * next query.
    *
    * Crash-safety: the two appends are not one transaction, so a
    * replay after a crash between them can re-append. Both stores
    * dedupe at SERVE time — posting rows by the (id, term) uniqueness
    * contract, stats rows by `batchTag` — so a replayed
    * [[ingestStream]] batch (which passes its deterministic batch id)
    * never corrupts served scores. Manual calls get a fresh tag per
    * invocation (two deliberate appends must both count).
    */
  def append(newDocs: DataFrame, path: String,
             idCol: String = "doc_id", textCol: String = "text",
             batchTag: String = java.util.UUID.randomUUID().toString)
      : Unit = {
    TopK.requireIntegralId(newDocs, idCol, "Bm25Index.append")
    val spark = newDocs.sparkSession
    // re-appending a TOMBSTONED id before compact is a correctness
    // trap: the serve-time anti-join would shadow the new postings
    // while the stats subtraction double-counts its doclens rows —
    // and silently pruning the tombstone here would resurrect the OLD
    // postings instead. Fail loudly; upsert is delete → compact →
    // append (what Retrieval.upsertDocs sequences).
    if (ParquetStore.exists(spark, s"$path/tombstones")) {
      val doomed = ParquetStore.read(spark, s"$path/tombstones")
        .select(col("id")).distinct()
      val clash = newDocs.select(col(idCol).cast("long").as("id"))
        .join(doomed, Seq("id"), "left_semi").limit(1).count()
      require(clash == 0,
        s"append: a new $idCol is tombstoned in $path — re-appending " +
          "before compact would serve shadowed postings and " +
          "double-counted stats; run compact first (or " +
          "Retrieval.upsertDocs, which sequences delete/compact/append)")
    }
    val nBuckets = bucketsOf(spark, path)
    // the postings write and the doclens materialization are the
    // batch's two independent tokenize passes — overlap them (guide
    // §2.6). The crash-window dedupe contract only needs the STATS
    // row to land after the postings (it is the batch's commit
    // marker), which the pool barrier preserves; the lens checkpoint
    // writes nothing externally visible.
    val lens = Par.run(Seq[() => Option[DataFrame]](
      () => {
        newDocs.select(col(idCol).as("id"),
            TextFuncs.tokenCount(col(textCol)).cast("double").as("dl"),
            explode(TextFuncs.tokens(col(textCol))).as("term"))
          .filter(col("term") =!= "")
          .groupBy(col("id"), col("term"))
          .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
          .withColumn("term_bucket",
            pmod(xxhash64(col("term")), lit(nBuckets)))
          .repartition(col("term_bucket"))
          .sortWithinPartitions("term_bucket", "term", "id") // see [[compact]]
          .write.mode("append").partitionBy("term_bucket")
          .parquet(s"$path/postings")
        None
      },
      // stats derive from the pinned lens frame — see [[write]];
      // eager checkpoint so the frame is built inside this slot, not
      // lazily by the two sequential writes below
      () => Some(docLens(newDocs, idCol, textCol, batchTag)
        .localCheckpoint()))).flatten.head
    // stats is the commit marker (strictly after postings); doclens
    // rows dedupe by id at serve, so the two appends can overlap
    Par.run(Seq(
      () => statsOf(lens, batchTag)
        .write.mode("append").parquet(s"$path/stats"),
      () => lens.write.mode("append").parquet(s"$path/doclens")))
  }

  /** Tombstone-delete documents by id: appends the distinct ids to
    * `path/tombstones` — nothing else moves. Idempotent (re-deleting,
    * or a replayed crash window, just appends rows that dedupe at
    * serve), and unknown ids are no-ops (they match no posting and no
    * doclens row). Serving reflects the deletion on the next query;
    * [[compact]] reclaims the space. Indexes written before doclens
    * tracking cannot adjust their stats exactly — they must rebuild
    * ([[write]]) before they can delete, and this fails loudly rather
    * than serving silently-wrong avgdl.
    */
  def delete(ids: DataFrame, path: String,
             idCol: String = "doc_id"): Unit = {
    TopK.requireIntegralId(ids, idCol, "Bm25Index.delete")
    val spark = ids.sparkSession
    require(ParquetStore.exists(spark, s"$path/doclens"),
      s"$path has no doclens store (written before deletion support); " +
        "rebuild with Bm25Index.write before deleting")
    ids.select(col(idCol).cast("long").as("id")).distinct()
      .sortWithinPartitions("id") // same ids, same bytes
      .write.mode("append").parquet(s"$path/tombstones")
  }

  /** Physically remove tombstoned docs: postings and doclens rewrite
    * without them (also squeezing exact-duplicate rows a replayed
    * partial append left), the additive stats collapse to ONE base row
    * recomputed from the surviving doclens, and the tombstone store
    * clears. The bucket repartition before the partitioned write
    * doubles as small-file consolidation after many appends. No-op
    * when nothing was deleted.
    */
  def compact(spark: SparkSession, path: String): Unit = {
    if (!ParquetStore.exists(spark, s"$path/tombstones")) return
    val tombs = ParquetStore.read(spark, s"$path/tombstones")
      .select(col("id")).distinct()
    val posts = ParquetStore.read(spark, s"$path/postings")
      .join(tombs, Seq("id"), "left_anti")
      .dropDuplicates("id", "term")
      .localCheckpoint() // materialized: its source dir is overwritten
    val lens = ParquetStore.read(spark, s"$path/doclens")
      .dropDuplicates("id")
      .join(tombs, Seq("id"), "left_anti")
      .select(col("id"), col("dl"))
      .localCheckpoint()
    // rows in (bucket, term, id) order, not shuffle-fetch order, so a
    // compaction of the same index writes the same bytes every time
    posts.repartition(col("term_bucket"))
      .sortWithinPartitions("term_bucket", "term", "id")
      .write.mode("overwrite").partitionBy("term_bucket")
      .parquet(s"$path/postings")
    lens.withColumn("batch", lit("base")).sortWithinPartitions("id")
      .write.mode("overwrite").parquet(s"$path/doclens")
    lens.agg(count(lit(1)).as("n_docs"), coalesce(sum(col("dl")), lit(0.0))
        .as("sum_dl"))
      .withColumn("batch", lit("base"))
      .write.mode("overwrite").parquet(s"$path/stats")
    ParquetStore.delete(spark, s"$path/tombstones")
  }

  /** Streaming growth: a document stream appends postings + stats per
    * micro-batch behind the [[BatchLedger]] (committed batches never
    * replay). A crash BETWEEN a batch's postings and stats appends is
    * also harmless: the replay passes the same deterministic
    * `stream-<batchId>` tag, and [[scores]] dedupes posting rows by
    * (id, term) and stats rows by tag — so the crash window degrades
    * to a retried no-op, never a double count.
    */
  def ingestStream(docs: DataFrame, path: String,
                   idCol: String = "doc_id", textCol: String = "text")
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    BatchLedger.guarded(docs, path) { (batch, batchId) =>
      append(batch, path, idCol, textCol, batchTag = s"stream-$batchId")
    }

  /** Most query-term rows one [[scores]] batch may bring to the
    * driver: (query, token) pairs before the dedupe, a few MB of rows.
    */
  private[llmops] val MaxQueryTermRows = 100000

  /** The index's bucket count, from `path/params`. Memoized by the
    * store's file listing: no job once read, and a re-[[write]] at the
    * same path (new params files) reloads it.
    */
  private def bucketsOf(spark: SparkSession, path: String): Int =
    ParquetStore.small(spark, s"$path/params", "bm25-n-buckets")(
      _.select(col("n_buckets")).head().getInt(0))

  /** (n_docs, sum_dl) summed over the additive stats rows, a `batch`
    * tag (new layouts) deduping crash-window replays of one ingest
    * batch. The rows are tiny (one per write, append or compact), so
    * they collect in one job and the dedupe and the sums run on the
    * driver. Every sum_dl is an integral double, so the sum is exact
    * in any order. Memoized by the store's file listing.
    */
  private def servedStats(spark: SparkSession, path: String)
      : (Long, Double) =
    ParquetStore.small(spark, s"$path/stats", "bm25-stats") { raw =>
      // a layout without the tag dedupes nothing: every row its own key
      val rows = raw.select(col("n_docs"), col("sum_dl"),
          if (raw.columns.contains("batch")) col("batch")
          else monotonically_increasing_id())
        .collect().groupBy(_.get(2)).values.map(_.head).toSeq
      (rows.map(_.getAs[Number](0).longValue).sum,
        rows.map(_.getAs[Number](1).doubleValue).sum)
    }

  /** Multi-query BM25 scores served from the written index. Returns
    * (queryIdCol, idCol, n_terms_hit, score).
    *
    * The query side makes ONE driver round-trip: the batch's
    * (qid, term, bucket) rows collect in one job, at most
    * [[MaxQueryTermRows]] of them, and dedupe on the driver. The
    * bucket list becomes a static `term_bucket IN (...)` partition
    * filter on the postings scan, the distinct terms a term filter on
    * it, and the (qid, term) pairs ship back as a local relation.
    *
    * The corpus stats (n, avgdl) enter the plan as literals: the
    * params and stats stores are read on the driver and memoized
    * ([[bucketsOf]], [[servedStats]]), so a serve of an unchanged index
    * runs the query-term collect and the scan's jobs only, and the
    * first serve after an append adds one stats collect. With
    * tombstones present, the tombstoned docs' exact (count, summed
    * length) come from one more aggregate job over doclens. Every dl
    * is an integral double, so these driver sums equal the former
    * in-plan aggregates bit for bit.
    *
    * Downstream — df from the read postings, idf, per-term
    * contributions, per-query fan-out — is the [[Bm25.scoresBatch]]
    * arithmetic over the PERSISTED slim rows, planned around one
    * exchange: the matched postings hash-partition by `term` once, and
    * the (id, term) dedupe, the tombstone anti-join (broadcast) and the
    * df window all run inside that partitioning, so the postings are
    * scanned once and df needs no aggregate joined back.
    *
    * Scale shape: one reducer holds every matched posting of the
    * query terms that hash to it, so its size is bounded by the
    * summed df of those terms (one stop-word-like query term is its
    * whole posting list on one task), never by the corpus. The
    * (query, id) aggregate that follows shuffles the fanned-out
    * contributions; [[Bm25.rankTail]] then ranks them.
    */
  def scores(spark: SparkSession, path: String, queries: DataFrame,
             k1: Double = 1.2, b: Double = 0.75,
             idCol: String = "doc_id",
             queryIdCol: String = "query_id",
             queryTextCol: String = "text"): DataFrame = {
    import spark.implicits._
    TopK.requireIntegralId(queries, queryIdCol, "Bm25Index.scores")
    val nBuckets = bucketsOf(spark, path)
    // one partition, so the limit's take is one job whatever the
    // query frame's partitioning
    val qtRows = Bm25.queryTokens(queries, queryIdCol, queryTextCol)
      .select(col("__qid"), col("term"),
        pmod(xxhash64(col("term")), lit(nBuckets)).as("__b"))
      .coalesce(1).limit(MaxQueryTermRows + 1)
      .collect()
    require(qtRows.length <= MaxQueryTermRows,
      s"Bm25Index.scores: the query batch against $path has more than " +
        s"$MaxQueryTermRows query-term rows; split the batch")
    val qt = qtRows.map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .distinct.toSeq
    val qTerms = qt.map(x => (x._1, x._2)).toDF("__qid", "term")
    val uniqTerms = qt.map(_._2).distinct
    val buckets = qt.map(_._3).distinct
    val hasTombs = ParquetStore.exists(spark, s"$path/tombstones")
    val tombs =
      if (hasTombs)
        ParquetStore.read(spark, s"$path/tombstones")
          .select(col("id")).distinct()
      else null
    // tombstoned docs subtract their EXACT (count, summed length) from
    // the additive stats via doclens — every dl is an integral double,
    // so (s0 - ds) / (n0 - dn) equals a fresh stats pass over the
    // surviving corpus bit for bit
    val (n0, s0) = servedStats(spark, path)
    val (dn, ds) =
      if (hasTombs) {
        val del = ParquetStore.read(spark, s"$path/doclens")
          .dropDuplicates("id")
          .join(tombs, Seq("id"), "left_semi")
          .agg(count(lit(1)).cast("double"),
            coalesce(sum(col("dl")), lit(0.0)))
          .head()
        (del.getDouble(0), del.getDouble(1))
      } else (0.0, 0.0)
    val n = n0.toDouble - dn
    val avgdl = (s0 - ds) / n
    // the term set filters the scan itself (no broadcast stage, which
    // AQE would finish before it started the scan). (id, term) is
    // unique by the id-uniqueness contract, so exact duplicate posting
    // rows can only be a replayed partial append — dropDuplicates on
    // the SLIM matched set makes the crash window harmless at serve
    // time. The one exchange is by term: it clusters every (id, term)
    // group, so the dedupe runs inside it, and so does the df window
    val tfAll = ParquetStore.read(spark, s"$path/postings")
      .filter(col("term_bucket").isin(buckets: _*)) // partition pruning
      .filter(col("term").isin(uniqTerms: _*))
      .select(col("id"), col("term"), col("tf"), col("dl"))
      .repartition(col("term"))
      .dropDuplicates("id", "term")
    // the anti-join runs on the already term-matched slim rows, so its
    // cost scales with the hits, never the corpus; df (a window over
    // these rows downstream) reflects the deletion automatically. The
    // tombstones broadcast, so the term partitioning survives the join
    val tf =
      if (hasTombs) tfAll.join(broadcast(tombs), Seq("id"), "left_anti")
      else tfAll
    Bm25.contribs(tf, n, avgdl, k1, b)
      .join(broadcast(qTerms), Seq("term"))
      .groupBy(col("__qid"), col("id"))
      .agg(count(lit(1)).as("n_terms_hit"), sum(col("contrib")).as("score"))
      .withColumnRenamed("__qid", queryIdCol)
      .withColumnRenamed("id", idCol)
  }

  /** Per-query top-k over [[scores]] — [[Bm25.rankTail]], the same
    * 4-decimal round / bounded-heap rank every other BM25 top-k uses.
    * Returns (queryIdCol, rk, idCol, n_terms_hit, score).
    */
  def topK(spark: SparkSession, path: String, queries: DataFrame, k: Int,
           k1: Double = 1.2, b: Double = 0.75,
           idCol: String = "doc_id",
           queryIdCol: String = "query_id",
           queryTextCol: String = "text"): DataFrame =
    Bm25.rankTail(scores(spark, path, queries, k1, b, idCol,
      queryIdCol, queryTextCol), k, queryIdCol, idCol)

  // ------------------------------------------------------------------
  // Versioned lifecycle ([[VersionedIndex]]): compact-under-serve.
  // The in-place [[compact]] rewrites postings under the serving path
  // — correct when nothing races it; a serve issued MID-compact can
  // read torn state. The versioned variants write each maintenance
  // result as a fresh immutable v<N> and flip the pointer atomically,
  // so a serve sees the old index or the new one, never a mix.
  // ------------------------------------------------------------------

  /** [[write]] into a fresh version under a [[VersionedIndex]] root,
    * then publish it. Returns the version number.
    */
  def writeVersioned(docs: DataFrame, root: String, nBuckets: Int = 64,
                     idCol: String = "doc_id", textCol: String = "text")
      : Int = {
    val spark = docs.sparkSession
    val v = VersionedIndex.next(spark, root)
    write(docs, VersionedIndex.versionPath(root, v), nBuckets,
      idCol, textCol)
    VersionedIndex.publish(spark, root, v)
    v
  }

  /** Copy-compact: the current version's postings/doclens, minus its
    * tombstones, land as a fresh v<N+1> (consolidated files, stats
    * collapsed to one recomputed base row, no tombstone store), which
    * then publishes. The superseded version is NEVER touched — serves
    * that resolved it finish bit-exactly; [[VersionedIndex.prune]]
    * reclaims it later. Returns the new version.
    */
  def compactVersioned(spark: SparkSession, root: String): Int = {
    val src = VersionedIndex.currentPath(spark, root)
    val v = VersionedIndex.next(spark, root)
    val dst = VersionedIndex.versionPath(root, v)
    val hasTombs = ParquetStore.exists(spark, s"$src/tombstones")
    val tombs =
      if (hasTombs)
        spark.read.parquet(s"$src/tombstones").select(col("id")).distinct()
      else null
    val postsRaw = spark.read.parquet(s"$src/postings")
      .dropDuplicates("id", "term")
    val posts = if (hasTombs) postsRaw.join(tombs, Seq("id"), "left_anti")
      else postsRaw
    // src ≠ dst, so no checkpoint is needed: nothing reads a directory
    // it is overwriting
    posts.repartition(col("term_bucket"))
      .sortWithinPartitions("term_bucket", "term", "id") // see [[compact]]
      .write.mode("overwrite").partitionBy("term_bucket")
      .parquet(s"$dst/postings")
    val lensRaw = spark.read.parquet(s"$src/doclens").dropDuplicates("id")
    val lens = (if (hasTombs) lensRaw.join(tombs, Seq("id"), "left_anti")
      else lensRaw).select(col("id"), col("dl"))
    lens.withColumn("batch", lit("base")).sortWithinPartitions("id")
      .write.mode("overwrite").parquet(s"$dst/doclens")
    lens.agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("dl")), lit(0.0)).as("sum_dl"))
      .withColumn("batch", lit("base"))
      .write.mode("overwrite").parquet(s"$dst/stats")
    spark.read.parquet(s"$src/params")
      .coalesce(1).write.mode("overwrite").parquet(s"$dst/params")
    VersionedIndex.publish(spark, root, v)
    v
  }

  /** [[topK]] against the CURRENT version of a versioned root: the
    * pointer resolves once per call, and the whole query batch serves
    * from that immutable snapshot.
    */
  def topKVersioned(spark: SparkSession, root: String, queries: DataFrame,
                    k: Int, k1: Double = 1.2, b: Double = 0.75,
                    idCol: String = "doc_id",
                    queryIdCol: String = "query_id",
                    queryTextCol: String = "text"): DataFrame =
    topK(spark, VersionedIndex.currentPath(spark, root), queries, k,
      k1, b, idCol, queryIdCol, queryTextCol)
}
