package graft.llmops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.ParquetStore

/** The composed retrieval path a user actually runs — text in,
  * persisted searchable index out, questions in, passages out — with
  * nothing external: sentence-aligned chunking (X100), the
  * feature-hash embedder (X101), and the list-partitioned IVF-ADC
  * index (X74) under one directory:
  *
  * {{{
  *   Retrieval.buildIndex(docs, "/idx")          // once
  *   Retrieval.search(spark, "/idx", questions)  // many
  * }}}
  *
  * Layout: `<path>/chunks` (vec_id → doc_id, chunk_idx, chunk_text),
  * `<path>/index` (the ANN index + its models), `<path>/params` (the
  * embedding dim + chunk budget the index was built with — queries
  * MUST embed in the same space, the [[Models]] persistence
  * discipline). Serving reads only the probed index partitions plus
  * the hit rows of the chunk table (a vec_id semi-join — never a
  * chunk-table scan into memory).
  */
object Retrieval {

  /** vec_id = xxhash64(doc_id, chunk_idx) with the sign bit cleared:
    * non-negative by construction for ANY doc id (hash-keyed ingests
    * like `warcPdfIngest` produce full-range signed ids), so the
    * negative query-id remap in [[search]] can never collide with a
    * corpus vector. The chunk table is the id↔(doc, chunk) mapping;
    * collisions are birthday-bounded in a 2^63 space.
    */
  private def vecId(idCol: String) =
    xxhash64(col(idCol), col("chunk_idx")).bitwiseAND(lit(Long.MaxValue))

  def buildIndex(docs: DataFrame, path: String,
                 targetChars: Int = 400, dim: Int = 256,
                 nlist: Int = 16, m: Int = 8,
                 idCol: String = "doc_id", textCol: String = "text"): Unit = {
    val spark = docs.sparkSession
    val chunks = Chunking.sentenceChunks(docs, targetChars, idCol, textCol)
      .withColumn("vec_id", vecId(idCol))
      .select(col("vec_id"), col(idCol).as("doc_id"),
        col("chunk_idx"), col("chunk_text"))
    chunks.write.mode("overwrite").parquet(s"$path/chunks")
    val persisted = spark.read.parquet(s"$path/chunks")
    // pin: AnnIndex.write consumes the corpus ~8 times (centroid seed,
    // k-means iterations, PQ iterations, encode, fit metrics) and the
    // embedding kernel is a tokenize + shuffle per recompute — one
    // embed pass, many cheap reads. EAGER localCheckpoint: built
    // BEFORE the pool fans out, so the concurrent first consumers
    // (quantizer ∥ PQ training) read finished blocks instead of
    // racing a lazy checkpoint's first materialization. Sizing /
    // fault-tolerance argument for the truncated lineage: the pin is
    // one float array per chunk (dim·4 B ≈ 1 KB at dim 256 — orders
    // of magnitude under the chunk text it derives from), blocks
    // spill via MEMORY_AND_DISK, and buildIndex is a bounded build
    // job — losing an executor mid-build restarts a job whose cost
    // is the build itself, never a serving outage. (A columnar
    // persist(MEMORY_AND_DISK) was A/B'd: its CachedBatch encode
    // cost +33% on q135 at sf0.1 for no local benefit.)
    val emb = VectorFuncs.hashedEmbedding(persisted, dim,
      idCol = "vec_id", textCol = "chunk_text").localCheckpoint()
    import spark.implicits._
    // the serving artifacts are independent of each other (the
    // lexical side tokenizes the persisted chunks once; hybridSearch
    // then serves BM25 from the bucket-partitioned postings instead of
    // re-tokenizing the chunk table per query batch) — build them from
    // a driver pool so their jobs overlap (guide §2.6)...
    Par.run(Seq(
      () => AnnIndex.write(emb, s"$path/index", nlist = nlist, m = m): Unit,
      () => Bm25Index.write(persisted, s"$path/lexical",
        idCol = "vec_id", textCol = "chunk_text")))
    // ...but params lands strictly LAST: search()/hybridSearch read
    // params first, so its presence doubles as the completion marker a
    // reader racing a fresh build relies on
    Seq((dim, targetChars)).toDF("dim", "target_chars")
      .write.mode("overwrite").parquet(s"$path/params")
  }

  /** `queries` = (query_id numeric NON-NEGATIVE, text); returns one
    * row per hit: (query_id as long, rk, doc_id, chunk_idx,
    * chunk_text, sim). Query ids remap to negative longs internally so
    * the index's self-match guard (`vec_id =!= query_id`) cannot
    * collide with a corpus vec_id — which is also why a negative
    * query id (it would remap into vec_id space) fails fast instead
    * of silently dropping one corpus chunk.
    */
  def search(spark: SparkSession, path: String, queries: DataFrame,
             k: Int = 5, nprobe: Int = 4,
             queryId: String = "query_id",
             textCol: String = "text"): DataFrame = {
    val dim = spark.read.parquet(s"$path/params")
      .select(col("dim")).head().getInt(0)
    val qMin = queries.agg(min(col(queryId).cast("long"))).head()
    require(qMin.isNullAt(0) || qMin.getLong(0) >= 0L,
      "search requires non-negative query ids (remap guard)")
    val remapped = queries
      .withColumn("__rq", -col(queryId).cast("long") - 1)
    val qVecs = VectorFuncs.hashedEmbedding(remapped, dim,
        idCol = "__rq", textCol = textCol)
      .withColumnRenamed("embedding", "query_vec")
    val hits = AnnIndex.topK(spark, s"$path/index", qVecs, k, nprobe,
      queryId = "__rq")
    hits.join(spark.read.parquet(s"$path/chunks"), Seq("vec_id"))
      .select((-col("__rq") - 1).as(queryId), col("rk"), col("doc_id"),
        col("chunk_idx"), col("chunk_text"), col("sim"))
  }

  /** Incremental corpus growth — the X74 append lifecycle at the
    * retrieval level: new documents chunk and embed in the PERSISTED
    * space (same params, same hash space — no retrain, no rewrite),
    * their chunk rows append to the chunk table and their codes to the
    * existing index partitions. Serveable throughout; the drift probe
    * ([[AnnIndex.drift]]) remains the retrain signal.
    */
  def appendDocs(docs: DataFrame, path: String,
                 idCol: String = "doc_id", textCol: String = "text"): Unit = {
    val spark = docs.sparkSession
    val params = spark.read.parquet(s"$path/params").head()
    val (dim, targetChars) = (params.getInt(0), params.getInt(1))
    val chunks = Chunking.sentenceChunks(docs, targetChars, idCol, textCol)
      .withColumn("vec_id", vecId(idCol))
      .select(col("vec_id"), col(idCol).as("doc_id"),
        col("chunk_idx"), col("chunk_text"))
      .localCheckpoint()
    chunks.write.mode("append").parquet(s"$path/chunks")
    AnnIndex.append(spark,
      VectorFuncs.hashedEmbedding(chunks, dim,
        idCol = "vec_id", textCol = "chunk_text"),
      s"$path/index")
    // pre-lexical-index layouts (no /lexical dir) stay appendable —
    // hybridSearch falls back to the chunk-table scan for them
    if (hasLexical(spark, path))
      Bm25Index.append(chunks, s"$path/lexical",
        idCol = "vec_id", textCol = "chunk_text")
  }

  /** Absence must be a clean `false`; a TRANSIENT filesystem error
    * must PROPAGATE — mapping it to "no lexical index" would silently
    * skip the lexical append (leaving a permanently incomplete index)
    * or silently serve the fallback path. `exists` returns false for
    * missing paths without throwing, so no catch is correct here.
    */
  private def hasLexical(spark: SparkSession, path: String): Boolean =
    ParquetStore.exists(spark, s"$path/lexical/params")

  /** Tombstone-delete documents from a built index — the takedown
    * path (a removal request against a 100 TB serving corpus must not
    * cost a rewrite): the docs' chunk rows resolve to their vec_ids
    * through the chunk table, and those ids tombstone BOTH serving
    * tiers ([[AnnIndex.delete]] and, when present,
    * [[Bm25Index.delete]]) plus the chunk table itself
    * (`<path>/chunk_tombstones`, so [[compact]] cannot resurrect the
    * rows). Slim appends only; every serve path excludes the docs on
    * its next query batch because the index-side hits are gone before
    * any metadata join. Idempotent — a crash between the three
    * appends is repaired by re-running the same call. [[compact]]
    * reclaims the space. Lexical layouts written before doclens
    * tracking fail loudly BEFORE any tombstone lands (run [[compact]]
    * once to upgrade them — it rebuilds the lexical store through
    * [[Bm25Index.write]], which now emits doclens).
    */
  def deleteDocs(spark: SparkSession, path: String, docIds: DataFrame,
                 idCol: String = "doc_id"): Unit = {
    val lex = hasLexical(spark, path)
    require(!lex || ParquetStore.exists(spark, s"$path/lexical/doclens"),
      s"$path/lexical predates deletion support; run Retrieval.compact " +
        "once to upgrade the layout before deleting")
    val vecIds = spark.read.parquet(s"$path/chunks")
      .join(docIds.select(col(idCol).as("doc_id")).distinct(),
        Seq("doc_id"), "left_semi")
      .select(col("vec_id"))
      .localCheckpoint()
    vecIds.write.mode("append").parquet(s"$path/chunk_tombstones")
    AnnIndex.delete(vecIds, s"$path/index", idCol = "vec_id")
    if (lex) Bm25Index.delete(vecIds, s"$path/lexical", idCol = "vec_id")
  }

  /** Replace documents wholesale — the re-crawl update path. vec_ids
    * are deterministic hashes of (doc, chunk position), so a changed
    * document re-chunks to the SAME ids with different text: append
    * alone would violate the id-uniqueness contract, which is why
    * replacement must physically purge the old rows first. delete →
    * [[compact]] → append: one full index rewrite per call. Takedowns
    * are cheap ([[deleteDocs]] is append-only); replacement is the
    * expensive op — batch the updates and amortize the compact.
    */
  def upsertDocs(docs: DataFrame, path: String,
                 idCol: String = "doc_id", textCol: String = "text"): Unit = {
    val spark = docs.sparkSession
    deleteDocs(spark, path, docs.select(col(idCol)), idCol)
    compact(spark, path)
    appendDocs(docs, path, idCol, textCol)
  }

  /** Streaming corpus growth: a document stream (e.g. the landed
    * output of `MediaStreams.pdfTextIngest`/`warcPdfIngest`, or any
    * cleaned append stream) feeds [[appendDocs]] per micro-batch
    * behind the [[BatchLedger]], so the retrieval index grows
    * continuously and stays serveable throughout — the
    * crawl-to-searchable-corpus loop closed as one running query.
    *
    * The ledger makes replays of COMMITTED batches no-ops. A crash
    * BETWEEN one batch's store appends (chunks, then codes, then
    * lexical) leaves no ledger row, and the replay re-appends — a
    * duplicated slice across the stores. vec_ids are deterministic
    * (hash of doc and chunk position), so the duplicates are exact
    * copies: [[compact]] is the recovery pass that squeezes them out
    * and re-derives every artifact from the deduped chunk table.
    */
  def ingestStream(docs: DataFrame, path: String,
                   idCol: String = "doc_id", textCol: String = "text")
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    BatchLedger.guarded(docs, path) { (batch, _) =>
      appendDocs(batch, path, idCol, textCol)
    }

  /** Recovery + reclamation pass: re-derive every index artifact from
    * the chunk table alone, using the PERSISTED models (no retrain).
    * Squeezes out the exact-duplicate rows an interrupted
    * [[ingestStream]] batch can leave (chunks by vec_id) and
    * physically purges [[deleteDocs]]-tombstoned chunks (the ANN codes
    * and lexical postings are rebuilt wholesale from the surviving
    * chunks, and every tombstone store clears with its rewrite), after
    * which serving is indistinguishable from a clean build of the same
    * surviving corpus. One full pass over the chunk table — run it
    * after a crash or a deletion backlog, not on a schedule.
    */
  def compact(spark: SparkSession, path: String): Unit = {
    val hadTombs = ParquetStore.exists(spark, s"$path/chunk_tombstones")
    val raw = spark.read.parquet(s"$path/chunks")
      .dropDuplicates("vec_id")
    val deduped = (if (hadTombs)
        raw.join(spark.read.parquet(s"$path/chunk_tombstones")
            .select(col("vec_id")).distinct(),
          Seq("vec_id"), "left_anti")
      else raw)
      .localCheckpoint() // materialized: its source dir is overwritten
    deduped.write.mode("overwrite").parquet(s"$path/chunks")
    val dim = spark.read.parquet(s"$path/params")
      .select(col("dim")).head().getInt(0)
    val (cents, books) = AnnIndex.loadModels(spark, s"$path/index")
    AnnIndex.writeWithModels(
      VectorFuncs.hashedEmbedding(deduped, dim,
        idCol = "vec_id", textCol = "chunk_text"),
      s"$path/index", cents, books)
    if (hasLexical(spark, path))
      // Bm25Index.write clears the lexical tombstones itself (the
      // fresh-index contract), and AnnIndex.writeWithModels' root
      // overwrite clears the ANN ones
      Bm25Index.write(deduped, s"$path/lexical",
        idCol = "vec_id", textCol = "chunk_text")
    if (hadTombs) ParquetStore.delete(spark, s"$path/chunk_tombstones")
  }

  // ------------------------------------------------------------------
  // Versioned lifecycle ([[VersionedIndex]]): the retrieval stack
  // under serve. [[compact]] overwrites chunks/index/lexical in place
  // — a hybrid serve racing it can read torn state across tiers. The
  // versioned variants write each maintenance result as one complete
  // immutable v<N> (chunks + ANN index + lexical + params move
  // TOGETHER, so a serve never joins one tier's new files against
  // another's old ones) and flip the pointer atomically.
  // ------------------------------------------------------------------

  /** [[buildIndex]] into a fresh version under a [[VersionedIndex]]
    * root, then publish. Returns the version.
    */
  def buildIndexVersioned(docs: DataFrame, root: String,
                          targetChars: Int = 400, dim: Int = 256,
                          nlist: Int = 16, m: Int = 8,
                          idCol: String = "doc_id",
                          textCol: String = "text"): Int = {
    val spark = docs.sparkSession
    val v = VersionedIndex.next(spark, root)
    buildIndex(docs, VersionedIndex.versionPath(root, v), targetChars,
      dim, nlist, m, idCol, textCol)
    VersionedIndex.publish(spark, root, v)
    v
  }

  /** Copy-compact: the current version's surviving chunk rows
    * (vec_id-deduped, chunk tombstones anti-joined) land at v<N+1>,
    * every serving artifact re-derives from them with the PERSISTED
    * models (no retrain), then the pointer flips. The superseded
    * version is never touched — a serve that resolved it finishes
    * bit-exactly. Returns the new version.
    */
  def compactVersioned(spark: SparkSession, root: String): Int = {
    val src = VersionedIndex.currentPath(spark, root)
    val v = VersionedIndex.next(spark, root)
    val dst = VersionedIndex.versionPath(root, v)
    val raw = spark.read.parquet(s"$src/chunks").dropDuplicates("vec_id")
    val deduped =
      if (ParquetStore.exists(spark, s"$src/chunk_tombstones"))
        raw.join(spark.read.parquet(s"$src/chunk_tombstones")
            .select(col("vec_id")).distinct(),
          Seq("vec_id"), "left_anti")
      else raw
    deduped.write.mode("overwrite").parquet(s"$dst/chunks")
    val persisted = spark.read.parquet(s"$dst/chunks")
    val dim = spark.read.parquet(s"$src/params")
      .select(col("dim")).head().getInt(0)
    val (cents, books) = AnnIndex.loadModels(spark, s"$src/index")
    // pin: writeWithModels consumes the corpus twice (encode + fit
    // metrics, concurrently); one embed pass instead of two. EAGER
    // localCheckpoint, built before writeWithModels' pool fans out
    // (no concurrent first-materialization race) — sizing and
    // fault-tolerance rationale in [[buildIndex]]
    val emb = VectorFuncs.hashedEmbedding(persisted, dim,
      idCol = "vec_id", textCol = "chunk_text").localCheckpoint()
    AnnIndex.writeWithModels(emb, s"$dst/index", cents, books)
    if (hasLexical(spark, src))
      Bm25Index.write(persisted, s"$dst/lexical",
        idCol = "vec_id", textCol = "chunk_text")
    spark.read.parquet(s"$src/params")
      .coalesce(1).write.mode("overwrite").parquet(s"$dst/params")
    VersionedIndex.publish(spark, root, v)
    v
  }

  /** [[search]] against the CURRENT version of a versioned root — the
    * pointer resolves once per call, so the batch's ANN probe and
    * chunk join read ONE immutable snapshot. The other serve entry
    * points compose the same way:
    * `hybridSearch(spark, VersionedIndex.currentPath(spark, root), …)`.
    */
  def searchVersioned(spark: SparkSession, root: String,
                      queries: DataFrame, k: Int = 5, nprobe: Int = 4,
                      queryId: String = "query_id",
                      textCol: String = "text"): DataFrame =
    search(spark, VersionedIndex.currentPath(spark, root), queries, k,
      nprobe, queryId, textCol)

  /** Document-level roll-up of chunk-level hits (SURVEY §2.10 X127):
    * a chunk index retrieves PASSAGES, but most consumers want
    * documents — a doc's relevance is its best chunk's similarity
    * (max-sim, the standard late-interaction roll-up), with the
    * matching-chunk count kept as an evidence signal. One groupBy to
    * (query, doc) then a per-query rank.
    *
    * Contract: `chunkHits` is a SERVING OUTPUT — a bounded hit set
    * (≤ |queries|·fetchK rows, e.g. [[search]]'s result), so the rank
    * window partitions over ≤ fetchK rows per query. Feeding
    * corpus-scale scored pairs through this is the wrong tool — use
    * the CollectTopK aggregate shape ([[Mining.hardNegatives]]) there.
    *
    * @return (queryId, rk, docId, doc_sim, n_chunks), rk 1-based by
    *         (doc_sim desc, docId asc)
    */
  def rollupDocs(chunkHits: DataFrame, k: Int,
                 queryId: String = "query_id",
                 docId: String = "doc_id",
                 simCol: String = "sim"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(queryId))
      .orderBy(col("doc_sim").desc, col(docId))
    chunkHits
      .groupBy(col(queryId), col(docId))
      .agg(max(col(simCol)).as("doc_sim"),
        count(lit(1)).as("n_chunks"))
      .withColumn("rk", row_number().over(w).cast("int"))
      .filter(col("rk") <= k)
      .select(col(queryId), col("rk"), col(docId), col("doc_sim"),
        col("n_chunks"))
  }

  /** Document-level serving: [[search]] over-retrieves `fetchK`
    * chunks per query, [[rollupDocs]] keeps the top-`k` documents.
    */
  def searchDocs(spark: SparkSession, path: String, queries: DataFrame,
                 k: Int = 5, fetchK: Int = 20, nprobe: Int = 4,
                 queryId: String = "query_id",
                 textCol: String = "text"): DataFrame =
    rollupDocs(search(spark, path, queries, fetchK, nprobe, queryId,
      textCol), k, queryId)

  /** Query-term snippet extraction (SURVEY §2.10 X135) — serve-side
    * passage highlighting: for each (query, doc) hit, the best
    * `window`-token span — the one containing the most query-term
    * occurrences, earliest span on ties — returned with its start
    * offset, match count, and text. The classic result-page snippet,
    * done relationally: an optimal fixed-width window can always
    * start AT a match, so only matched positions are candidates —
    * per (query, doc) the candidate count is the match count, never
    * the document length.
    *
    * Scale shape: `hits` is a bounded serving output, so documents
    * tokenize only for hit docs (semi-join first); matches are slim
    * (query, doc, pos) rows; the window score is a self-join of
    * matches against matches within [pos, pos+window) — bounded by
    * matches² per (query, doc), both small; the snippet reassembles
    * by slicing the doc's token array once per winning window.
    *
    * @param hits    (queryId, docId) pairs — a serving output
    * @param queries (queryId, text)
    * @return (queryId, docId, snip_start, n_matched, snippet);
    *         hits whose doc contains NO query term yield no row
    */
  def snippets(docs: DataFrame, hits: DataFrame, queries: DataFrame,
               window: Int = 20,
               queryId: String = "query_id", docId: String = "doc_id",
               textCol: String = "text"): DataFrame = {
    require(window >= 1, "window must be >= 1")
    val qterms = queries
      .select(col(queryId),
        explode(TextFuncs.tokens(col(textCol))).as("__term"))
      .filter(col("__term") =!= "").distinct()
    val hitPairs = hits.select(col(queryId), col(docId)).distinct()
    val toks = docs
      .join(hitPairs.select(col(docId)).distinct(), Seq(docId),
        "left_semi")
      .select(col(docId), TextFuncs.tokens(col(textCol)).as("__arr"))
    val pos = toks
      .select(col(docId),
        posexplode(col("__arr")).as(Seq("__pos", "__term")))
    val matches = pos
      .join(broadcast(qterms), Seq("__term"))
      .join(hitPairs, Seq(queryId, docId), "left_semi")
      .select(col(queryId), col(docId), col("__pos"))
    val m2 = matches
      .select(col(queryId), col(docId), col("__pos").as("__p2"))
    val wBest = org.apache.spark.sql.expressions.Window
      .partitionBy(col(queryId), col(docId))
      .orderBy(col("n_matched").desc, col("__pos"))
    val best = matches
      .join(m2, Seq(queryId, docId))
      .filter(col("__p2") >= col("__pos") &&
        col("__p2") < col("__pos") + window)
      .groupBy(col(queryId), col(docId), col("__pos"))
      .agg(count(lit(1)).as("n_matched"))
      .withColumn("__rk", row_number().over(wBest))
      .filter(col("__rk") === 1)
    best
      .join(toks, Seq(docId))
      .select(col(queryId), col(docId),
        col("__pos").cast("int").as("snip_start"), col("n_matched"),
        array_join(slice(col("__arr"), col("__pos") + 1, lit(window)),
          " ").as("snippet"))
  }

  /** Retrieval-quality metrics against a relevance-judgment set
    * (SURVEY §2.10 X128) — the standard IR eval triple at cutoff `k`,
    * per query: recall@k (relevant retrieved / relevant), MRR@k
    * (1 / rank of the first relevant hit, 0 when none lands in the
    * top k), and nDCG@k (DCG with the 1/log2(rank+1) discount over
    * binary relevance, normalized by the ideal DCG of min(n_rel, k)
    * front-loaded hits). The operator every index-tuning decision
    * (nprobe, dim, chunking, hybrid weights) should be read through.
    *
    * `qrels` is the query universe: queries absent from it are not
    * evaluated; queries with no retrieved relevant docs score 0, not
    * null. Both inputs are bounded eval artifacts — the whole
    * computation is slim joins and one aggregate per query; the ideal
    * DCG is a closed-form higher-order fold, no join against ranks.
    *
    * @param hits  (queryId, rk, docId) — a serving output
    * @param qrels (queryId, docId) relevant pairs (dups tolerated)
    * @return (queryId, n_rel, n_hit, recall_at_k, mrr_at_k, ndcg_at_k)
    */
  def evalMetrics(hits: DataFrame, qrels: DataFrame, k: Int,
                  queryId: String = "query_id",
                  docId: String = "doc_id"): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val ln2 = math.log(2.0)
    val rel = qrels.select(col(queryId), col(docId)).distinct()
    val nRel = rel.groupBy(col(queryId)).agg(count(lit(1)).as("n_rel"))
    val hitRel = hits.filter(col("rk") <= k)
      .join(rel, Seq(queryId, docId))
      .groupBy(col(queryId))
      .agg(count(lit(1)).as("n_hit"),
        min(col("rk")).as("__minrk"),
        sum(lit(1.0) / (log(col("rk") + 1.0) / ln2)).as("__dcg"))
    nRel.join(hitRel, Seq(queryId), "left")
      .withColumn("n_hit", coalesce(col("n_hit"), lit(0L)))
      .withColumn("recall_at_k",
        col("n_hit").cast("double") / col("n_rel"))
      .withColumn("mrr_at_k",
        coalesce(lit(1.0) / col("__minrk"), lit(0.0)))
      .withColumn("__idcg",
        aggregate(sequence(lit(1L), least(col("n_rel"), lit(k.toLong))),
          lit(0.0), (acc, i) =>
            acc + lit(1.0) / (log(i.cast("double") + 1.0) / ln2)))
      .withColumn("ndcg_at_k",
        coalesce(col("__dcg"), lit(0.0)) / col("__idcg"))
      .select(col(queryId), col("n_rel"), col("n_hit"),
        col("recall_at_k"), col("mrr_at_k"), col("ndcg_at_k"))
  }

  /** Diversified retrieval: [[search]] fetches `fetchK` candidates per
    * question, each hit's chunk text re-embeds in the SAME hash space
    * the index was built in (the true vectors are PQ-coded on disk —
    * re-embedding k·|queries| short chunks is cheaper than storing
    * raw floats corpus-wide), and [[Mmr.rerank]] greedily keeps the
    * `k` most relevant-but-mutually-distinct passages. The standard
    * fetchK ≈ 3–5× k over-retrieve-then-diversify pattern; every
    * stage is individually verified (q135 serve, q132 embedding, q140
    * greedy).
    */
  def searchDiverse(spark: SparkSession, path: String, queries: DataFrame,
                    k: Int = 5, fetchK: Int = 20, nprobe: Int = 4,
                    lambda: Double = 0.7,
                    queryId: String = "query_id",
                    textCol: String = "text"): DataFrame = {
    val dim = spark.read.parquet(s"$path/params")
      .select(col("dim")).head().getInt(0)
    // cached: search()'s internal read, the vec_id join-back, and the
    // final metadata join all resolve to this one relation (Spark's
    // cache manager matches by logical plan), so the chunk table scans
    // once per call instead of three times
    val chunks = spark.read.parquet(s"$path/chunks").cache()
    val withId = search(spark, path, queries, fetchK, nprobe, queryId,
        textCol)
      .join(chunks.select(col("vec_id"), col("doc_id"), col("chunk_idx")),
        Seq("doc_id", "chunk_idx"))
    // a chunk's embedding is query-independent: embed each DISTINCT
    // hit chunk once, then fan out to the queries that retrieved it
    val vecs = VectorFuncs.hashedEmbedding(
      withId.select(col("vec_id"), col("chunk_text"))
        .dropDuplicates("vec_id"),
      dim, idCol = "vec_id", textCol = "chunk_text")
    val picks = Mmr.rerank(
      withId.join(vecs, Seq("vec_id"))
        .select(col(queryId), col("vec_id"), col("sim").as("rel"),
          col("embedding")),
      k, lambda, queryIdCol = queryId, idCol = "vec_id")
    val out = picks
      .join(chunks, Seq("vec_id"))
      .select(col(queryId), col("rk"), col("doc_id"), col("chunk_idx"),
        col("chunk_text"), col("mmr_score"))
      .localCheckpoint() // k·|queries| rows; outlives the unpersist
    chunks.unpersist()
    out
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009) of two per-query
    * rankings, each (queryId, idCol, rk): full-outer on (query, id),
    * `rrf_score = Σ 1/(rrfK + rk_i)` — exact integer-rank arithmetic,
    * no score normalization across incomparable scales — then
    * per-query top-k by (rrf_score desc, id) via the [[CollectTopK]]
    * bounded-heap aggregate (no rank window). This is
    * [[hybridSearch]]'s fusion arithmetic, reusable for ANY two
    * rankings (lexical×vector, two lexical variants, …); the q134
    * oracle replays it relationally.
    */
  def rrfFuse(a: DataFrame, b: DataFrame, k: Int, rrfK: Int = 60,
              queryId: String = "query_id",
              idCol: String = "doc_id"): DataFrame = {
    Seq(a, b).foreach(TopK.requireIntegralId(_, idCol, "Retrieval.rrfFuse"))
    val fused = a
      .select(col(queryId), col(idCol), col("rk").as("__ra"))
      .join(b.select(col(queryId), col(idCol), col("rk").as("__rb")),
        Seq(queryId, idCol), "full_outer")
      .withColumn("rrf_score",
        coalesce(lit(1.0) / (lit(rrfK) + col("__ra")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(rrfK) + col("__rb")), lit(0.0)))
    fused.groupBy(col(queryId))
      .agg(TopK.topK(col(idCol).cast("long"), col("rrf_score"), k))
      .select(col(queryId), posexplode(col("topk")))
      .select(col(queryId), (col("pos") + 1).cast("int").as("rk"),
        col("col._1").as(idCol), col("col._2").as("rrf_score"))
  }

  /** Hybrid lexical + vector retrieval by reciprocal-rank fusion
    * (Cormack et al. 2009): per query, the BM25 top-k over chunk text
    * and the ANN top-k fuse as Σ 1/(rrfK + rank) — exact integer-rank
    * arithmetic, no score normalization across incomparable scales.
    * The lexical side catches exact terms the hash embedding smears
    * (ticker symbols, error codes); the vector side catches
    * paraphrases BM25 cannot see. Output: (query_id, rk, doc_id,
    * chunk_idx, chunk_text, rrf_score).
    */
  def hybridSearch(spark: SparkSession, path: String, queries: DataFrame,
                   k: Int = 5, nprobe: Int = 4, rrfK: Int = 60,
                   queryId: String = "query_id",
                   textCol: String = "text"): DataFrame = {
    // cached for THIS call: the vector join-backs and the lexical pass
    // share it; a long-lived server hoists the cache across calls
    // instead ([[hybridSearchWith]] — the AnnServe.serveHybrid shape)
    val chunks = spark.read.parquet(s"$path/chunks").cache()
    val out = hybridSearchWith(spark, path, chunks, queries, k, nprobe,
      rrfK, queryId, textCol)
    chunks.unpersist()
    out
  }

  /** [[hybridSearch]] with a pre-loaded (typically cached) chunk
    * table — the seam a long-lived server uses to pay the chunk-table
    * load once per stream, not once per micro-batch. The result is
    * `localCheckpoint`ed (k·|queries| rows), so it outlives any later
    * unpersist of `chunks`.
    */
  def hybridSearchWith(spark: SparkSession, path: String,
                       chunks: DataFrame, queries: DataFrame,
                       k: Int = 5, nprobe: Int = 4, rrfK: Int = 60,
                       queryId: String = "query_id",
                       textCol: String = "text"): DataFrame = {
    val (vec, lex) = hybridSides(spark, path, chunks, queries, k, nprobe,
      queryId, textCol)
    // materialize: the result is k·|queries| rows, checkpoint-small by
    // construction — it must outlive the caller's chunk unpersist
    rrfFuse(vec, lex, k, rrfK, queryId, "vec_id")
      .join(chunks, Seq("vec_id"))
      .select(col(queryId), col("rk"), col("doc_id"), col("chunk_idx"),
        col("chunk_text"), col("rrf_score"))
      .localCheckpoint()
  }

  /** The two candidate rankings hybrid retrieval fuses, each slim
    * (queryId, vec_id, rk) — shared by [[hybridSearchWith]] and
    * [[tuneHybrid]] so the tuner measures EXACTLY the rankings serving
    * would fuse.
    */
  private def hybridSides(spark: SparkSession, path: String,
                          chunks: DataFrame, queries: DataFrame,
                          k: Int, nprobe: Int, queryId: String,
                          textCol: String): (DataFrame, DataFrame) =
    (vecSide(spark, path, chunks, queries, k, nprobe, queryId, textCol),
      lexSide(spark, path, chunks, queries, k, queryId, textCol))

  /** Vector half of [[hybridSides]]: the [[search]] ranking, joined
    * back to vec_id granularity through the chunk table (vec_id is a
    * hash — not derivable from (doc, chunk) without it).
    */
  private def vecSide(spark: SparkSession, path: String,
                      chunks: DataFrame, queries: DataFrame,
                      k: Int, nprobe: Int, queryId: String,
                      textCol: String): DataFrame =
    search(spark, path, queries, k, nprobe, queryId, textCol)
      .join(chunks.select(col("vec_id"), col("doc_id"), col("chunk_idx")),
        Seq("doc_id", "chunk_idx"))
      .select(col(queryId), col("vec_id"), col("rk"))

  /** Lexical half of [[hybridSides]]: ONE set-based multi-query BM25
    * job. Indexes built with the /lexical postings serve from them
    * (only the probed term buckets are read — no chunk-table
    * re-tokenize); older layouts fall back to the direct batch over
    * the cached chunk table. Null query text or id cannot score
    * lexically — the batch drops them, so they ride the vector side
    * only (where the embedder drops them row-wise). Depends on k but
    * NOT nprobe — [[tuneHybrid]] exploits exactly that.
    */
  private def lexSide(spark: SparkSession, path: String,
                      chunks: DataFrame, queries: DataFrame,
                      k: Int, queryId: String,
                      textCol: String): DataFrame = {
    val lexTop =
      if (hasLexical(spark, path))
        Bm25Index.topK(spark, s"$path/lexical", queries, k,
          idCol = "vec_id", queryIdCol = queryId, queryTextCol = textCol)
      else
        Bm25.topKBatch(chunks, queries, k,
          idCol = "vec_id", textCol = "chunk_text",
          queryIdCol = queryId, queryTextCol = textCol)
    lexTop.select(col(queryId), col("vec_id"), col("rk"))
  }

  /** Hybrid-retrieval tuning grid (the X129 sweep shape applied to
    * retrieval): [[evalMetrics]] over every (fetchK, nprobe, rrfK)
    * cell in ONE report, so index-tuning decisions are one call
    * instead of a notebook loop.
    *
    * Structure follows the knobs' cost: fetchK and nprobe change
    * CANDIDATE GENERATION, so each (fetchK, nprobe) pair serves its
    * vector ranking once and each fetchK its lexical ranking once
    * (nprobe is a vector-side knob only; both tier rankings
    * `localCheckpoint`ed) — |fetchKs|·|nprobes| vector serves,
    * |fetchKs| lexical serves, |grid| cheap fusions; rrfK only
    * changes the FUSION arithmetic over those materialized rankings. A cell's measurement is exactly what
    * SERVING at its knobs delivers: the fused top-fetchK chunk
    * ranking ([[hybridSearchWith]]'s output shape) rolls up to
    * document level (best chunk rank per doc, dense per-query
    * re-rank — qrels are document judgments) and [[evalMetrics]]
    * applies the evalK cut at DOC rank; each cell's metrics average
    * over the judged queries.
    *
    * @param qrels (queryId, doc_id) relevant pairs, the [[evalMetrics]]
    *              contract
    * @return one row per grid cell: (fetch_k, nprobe, rrf_k,
    *         n_queries, mean_recall, mean_mrr, mean_ndcg), ordered by
    *         the cell key
    */
  def tuneHybrid(spark: SparkSession, path: String, queries: DataFrame,
                 qrels: DataFrame, evalK: Int = 5,
                 fetchKs: Seq[Int] = Seq(5, 10, 20),
                 nprobes: Seq[Int] = Seq(2, 4, 8),
                 rrfKs: Seq[Int] = Seq(20, 60, 120),
                 queryId: String = "query_id",
                 textCol: String = "text"): DataFrame = {
    require(evalK >= 1, "evalK must be >= 1")
    require(fetchKs.nonEmpty && nprobes.nonEmpty && rrfKs.nonEmpty,
      "every grid axis needs at least one value")
    val chunks = spark.read.parquet(s"$path/chunks").cache()
    // the lexical ranking depends on fetchK but NOT nprobe, so it
    // serves once per fetchK and every nprobe cell reuses the
    // materialized ranking — |fetchKs| lexical serves instead of
    // |fetchKs|·|nprobes|. The serves are independent actions, so they
    // run from a small driver pool and back-fill each other's tails
    // (guide §2.6); so do the per-cell vector serves and the per-cell
    // metric evaluations below.
    val lexByFk = Par.run(fetchKs.map(fk => () =>
      fk -> lexSide(spark, path, chunks, queries, fk, queryId, textCol)
        .localCheckpoint())).toMap
    val vecCells = for (fk <- fetchKs; np <- nprobes) yield (fk, np)
    val vecByCell = Par.run(vecCells.map { case (fk, np) => () =>
      (fk, np) -> vecSide(spark, path, chunks, queries, fk, np,
        queryId, textCol).localCheckpoint()
    }).toMap
    val cellFns =
      for (fk <- fetchKs; np <- nprobes; rk <- rrfKs) yield { () =>
        val (vecC, lexC) = (vecByCell((fk, np)), lexByFk(fk))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col(queryId))
          .orderBy(col("__mr"), col("doc_id"))
        // fuse the FULL fetchK candidate lists — the doc roll-up and
        // the dense re-rank happen before the evalK cut (inside
        // evalMetrics' rk <= k filter); cutting the fused CHUNK list
        // at evalK first would collapse multi-chunk docs into fewer
        // doc slots and mask exactly the fetchK effect the grid
        // exists to measure
        val docHits = rrfFuse(vecC, lexC, fk, rk, queryId, "vec_id")
          .join(chunks.select(col("vec_id"), col("doc_id")),
            Seq("vec_id"))
          .groupBy(col(queryId), col("doc_id"))
          .agg(min(col("rk")).as("__mr"))
          .withColumn("rk", row_number().over(w))
        evalMetrics(docHits, qrels, evalK, queryId, "doc_id")
          .agg(count(lit(1)).as("n_queries"),
            avg(col("recall_at_k")).as("mean_recall"),
            avg(col("mrr_at_k")).as("mean_mrr"),
            avg(col("ndcg_at_k")).as("mean_ndcg"))
          .select(lit(fk).as("fetch_k"), lit(np).as("nprobe"),
            lit(rk).as("rrf_k"), col("n_queries"),
            col("mean_recall"), col("mean_mrr"), col("mean_ndcg"))
          .localCheckpoint() // one row per cell, evaluated in the pool
      }
    val cells = Par.run(cellFns)
    val report = cells.reduce(_.unionByName(_))
      .orderBy(col("fetch_k"), col("nprobe"), col("rrf_k"))
      .localCheckpoint() // |grid| rows; outlives the unpersist
    chunks.unpersist()
    report
  }
}
