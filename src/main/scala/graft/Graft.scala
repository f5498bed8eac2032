package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, lit}

/** Public facade — the one-import surface a user of the reference
  * pipeline would switch to. Everything delegates to the specialized
  * modules; see README.md's coverage matrix for the SURVEY §2 mapping.
  *
  * {{{
  * import graft.Graft
  * val spark = Graft.session()                  // extensions registered
  * val docs  = Graft.documents(spark, dir)
  * val clean = Graft.minhashDedup(docs)         // near-dup removal
  * val ranked = Graft.cosineTopK(emb, queries, k = 10)
  * }}}
  */
object Graft {

  /** Session with the engine's extensions, tuned local defaults: the
    * one session builder of the library, its drivers, tools and tests. */
  def session(master: String = "local[*]", shufflePartitions: Int = 32)
      : SparkSession = {
    val s = SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // Spark's 128-group default abandons hash aggregation and SORTS
      // the whole input — sized for unbounded object buffers like
      // collect_list. This engine's object aggregates (CollectTopK
      // heaps, HLL sketches) are bounded per group, so hashing tens of
      // thousands of groups is safe; the AdcProbe measured the sort
      // fallback at +1.6 s over 51 M rows × 1 024 groups.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "65536")
      // The 100-entry default codegen class cache thrashes under the
      // iterative lifecycle operators (k-means/PQ training + encode +
      // serve produce hundreds of distinct generated classes per
      // query): every task then RE-compiles its projections behind
      // the compile KeyLock, serializing short stages — thread dumps
      // showed 23/32 task threads blocked on that lock. Sized to hold
      // a full lifecycle run; entries are soft-referenced, so this is
      // a cap, not a reservation.
      .config("spark.sql.codegen.cache.maxEntries", "3000")
      // AQE's parallelism-first coalescing targets
      // max(shuffleBytes/parallelism, minPartitionSize); the 1m default
      // floor serializes compute-dense slim shuffles (string-kernel
      // verifies, exploded-gram windows: KBs of bytes, seconds of CPU)
      // onto a handful of cores. 64k keeps every core busy whenever a
      // shuffle holds >= 64k*cores bytes and is a no-op at production
      // shuffle sizes, where bytes/parallelism is far above 1m anyway.
      // Measured 2x on the exact-join tiers (OPTIMIZATION_r14.md);
      // A/B other floors with `graft.tools.Run ab`.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        "64k")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  // ---- sources -----------------------------------------------------
  def documents(s: SparkSession, dir: String): DataFrame = Tables.documents(s, dir)
  def embeddings(s: SparkSession, dir: String): DataFrame = Tables.embeddings(s, dir)
  def events(s: SparkSession, dir: String): DataFrame = Tables.events(s, dir)
  def companiesCsv(s: SparkSession, path: String): DataFrame =
    io.LineFormats.readCompaniesCsv(s, path)
  def linksFile(s: SparkSession, path: String): DataFrame =
    io.LineFormats.readLinks(s, path)
  /** JSONL corpus with corrupt-line quarantine: (clean, quarantined). */
  def jsonlDocs(s: SparkSession, path: String): (DataFrame, DataFrame) =
    io.JsonlDocs.readSplit(s, path)

  // ---- reference pipeline ------------------------------------------
  /** BFS crawl from `seeds` through `fetcher` (SURVEY W5/U7).
    *
    * PRODUCTION SEAM — JS rendering: the shipped
    * [[services.HttpPageFetcher]] fetches raw HTTP bytes; the
    * reference renders pages in a real browser, so JS-shell IR sites
    * (most of them) yield far fewer links through the raw fetcher.
    * [[services.PageFetcher]] is the one-method seam: wrap a headless
    * browser (one per executor, `transient lazy val`) and pass it
    * here — every downstream operator is fetcher-agnostic. See
    * README "Production backends" for the recipe; CrawlSpec's
    * archive-replay identity shows the contract any impl must meet.
    */
  def crawl(s: SparkSession, seeds: DataFrame, fetcher: services.PageFetcher,
            maxDepth: Int = 2): DataFrame =
    pipeline.Crawl.crawl(s, seeds, fetcher, maxDepth)
  /** Latest-quarter report pick (SURVEY U5→A2→W4), the relational
    * twin of the reference's LLM extraction step.
    *
    * PRODUCTION SEAM — LLM extraction: the reference prompts an LLM
    * for this answer; the engine's [[services.StructuredExtractor]]
    * trait is the drop-in point for that backend (same
    * `Seq[DocumentLink] => Seq[Report]` shape, `Report` as the
    * response schema), while [[services.RuleBasedExtractor]] is the
    * deterministic impl this relational query cross-checks. See
    * README "Production backends".
    */
  def latestQuarterReports(links: DataFrame, maxYear: Int): DataFrame =
    pipeline.Extract.latestQuarterReports(links, maxYear)
  /** IR-page discovery scoring (SURVEY A5/P15); same JS-rendering
    * seam as [[crawl]] — pass a rendering [[services.PageFetcher]]
    * for JS-shell sites. */
  def discoverIrPages(s: SparkSession, companies: DataFrame,
                      fetcher: services.PageFetcher): DataFrame =
    pipeline.Discovery.discover(s, companies, fetcher)

  // ---- dedup -------------------------------------------------------
  /** One-call dedup-tier advisor: probe the corpus's duplication
    * shape (exact-dup mass, skew, sampled near-dup density,
    * containment signal) and recommend which tier to pay for — see
    * [[llmops.DedupPlan.plan]] for the estimators and SCALING.md
    * ("choosing a dedup tier") for the recipe.
    */
  def dedupPlan(docs: DataFrame, threshold: Double = 0.7,
                sampleRate: Double = 0.1): llmops.DedupPlan.DedupTierPlan =
    llmops.DedupPlan.plan(docs, threshold, sampleRate)
  def exactDedup(docs: DataFrame): DataFrame = llmops.Dedup.exact(docs)
  def minhashDedup(docs: DataFrame, threshold: Double = 0.7): DataFrame =
    llmops.Dedup.minhashDedup(docs, threshold)
  def nearDupPairs(docs: DataFrame, threshold: Double = 0.7): DataFrame =
    llmops.Dedup.minhashPairs(docs, threshold)
  /** Exact hot-bucket cap audit: the over-cap LSH buckets (and the
    * candidate recall they cost) a [[nearDupPairs]]/[[minhashDedup]]
    * run at the same parameters silently dropped. Empty = cap cost
    * nothing. In-run telemetry also flows via observed metrics
    * (`Dedup.capDropMetrics`). */
  def dedupCapAudit(docs: DataFrame, threshold: Double = 0.7,
                    maxBucket: Int = 200): DataFrame =
    llmops.Dedup.capAudit(docs, threshold, maxBucket = maxBucket)
  /** SimHash near-dup pairs; defaults to the 128-bit wide-band config
    * (see [[llmops.Dedup.simhashPairs]] — `wideBands = false` is the
    * sub-100k-doc fast path only). `maxHamming = -1` auto-scales the
    * threshold to the fingerprint width (3 per 64 bits).
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = -1,
                   wideBands: Boolean = true): DataFrame =
    llmops.Dedup.simhashPairs(docs, maxHamming, wideBands = wideBands)
  /** Decontamination: near-dup pairs between corpus and benchmark. */
  def contaminationPairs(corpus: DataFrame, benchmark: DataFrame,
                         threshold: Double = 0.7): DataFrame =
    llmops.Dedup.contaminationPairs(corpus, benchmark, threshold)
  /** Drop corpus docs that near-duplicate any benchmark doc. */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
                    threshold: Double = 0.7): DataFrame =
    llmops.Dedup.decontaminate(corpus, benchmark, threshold)
  /** Exact word-n-gram Jaccard pairs within LSH candidates. */
  def ngramJaccardPairs(docs: DataFrame, n: Int = 3,
                        threshold: Double = 0.5): DataFrame =
    llmops.Dedup.ngramJaccardPairs(docs, n, threshold)
  /** EXACT n-gram-set Jaccard join via prefix filtering (SSJoin/
    * PPJoin) — recall 1.0 by construction, no LSH banding
    * probability, no bucket-cap cliff (q171). */
  def jaccardJoinExact(docs: DataFrame, threshold: Double = 0.7,
                       n: Int = 3): DataFrame =
    llmops.Dedup.jaccardJoinExact(docs, threshold, n)
  /** Exact ordered containment pairs: a's shingles ≥ t inside b's
    * (quote/wrapper detection, q187). */
  def containmentJoinExact(docs: DataFrame, threshold: Double = 0.8,
                           n: Int = 3): DataFrame =
    llmops.Dedup.containmentJoinExact(docs, threshold, n)
  /** Normalized-Levenshtein-verified near-dup pairs — order-sensitive,
    * banded O(len·cap) verify, exact over its candidate set (q151).
    * Recall is bounded by the proposal stage: pass `candidates` (any
    * (id_a, id_b) frame) when shingle-Jaccard LSH proposals at
    * `proposalThreshold` are not the recall you need. */
  def editSimilarityPairs(docs: DataFrame, threshold: Double = 0.8,
                          proposalThreshold: Double = Double.NaN,
                          maxChars: Int = 2000,
                          candidates: DataFrame = null): DataFrame =
    llmops.Dedup.editSimilarityPairs(docs, threshold, proposalThreshold,
      maxChars, candidates)
  /** Embedding near-dup pairs within IVF cluster lists — the semantic
    * bucketing alternative to hyperplane LSH ([[llmops.Dedup.semanticPairs]]).
    */
  def semanticPairs(vecs: DataFrame, threshold: Double = 0.95,
                    nlist: Int = 16, kmeansIters: Int = 0): DataFrame =
    llmops.Dedup.semanticPairs(vecs, threshold, nlist,
      kmeansIters = kmeansIters)
  /** [[semanticPairs]] over the two-level IMI product quantizer
    * (k² lists from 2·k half-codebooks) — the corpus-scale quantizer
    * once `nlist ∝ corpus` makes flat assignment quadratic.
    */
  def semanticPairsImi(vecs: DataFrame, threshold: Double = 0.95,
                       k: Int = 8, kmeansIters: Int = 0): DataFrame =
    llmops.Dedup.semanticPairsImi(vecs, threshold, k,
      kmeansIters = kmeansIters)
  /** One BPE merge-selection round: frequency-weighted adjacent
    * char-pair counts over the corpus's word dictionary.
    */
  def bpePairCounts(docs: DataFrame, textCol: Column): DataFrame =
    llmops.Vocab.bpePairCounts(docs, textCol)
  /** Near-dup components of a pair graph (large-star/small-star). */
  def dupClusters(pairs: DataFrame): DataFrame =
    ops.ConnectedComponents.components(pairs)
  /** Transitive-closure-correct dedup: one representative per
    * connected component of the near-dup pair graph.
    */
  def clusterDedup(docs: DataFrame, threshold: Double = 0.7): DataFrame =
    ops.ConnectedComponents.dedupByComponent(docs,
      llmops.Dedup.minhashPairs(docs, threshold)
        .select(org.apache.spark.sql.functions.col("id_a"),
                org.apache.spark.sql.functions.col("id_b")))
  /** [[clusterDedup]] keeping each cluster's BEST member by quality
    * score (min-id tiebreak) instead of the arbitrary minimum id —
    * near-dup clusters keep their clean copy (q145).
    */
  def clusterDedupBest(docs: DataFrame, threshold: Double = 0.7): DataFrame =
    ops.ConnectedComponents.dedupByComponentBest(docs,
      llmops.Dedup.minhashPairs(docs, threshold)
        .select(org.apache.spark.sql.functions.col("id_a"),
                org.apache.spark.sql.functions.col("id_b")),
      llmops.TextFuncs.qualityScore(
        org.apache.spark.sql.functions.col("text")))
  /** Sliding token-window chunking with overlap (training sequences /
    * retrieval units).
    */
  def slidingChunks(docs: DataFrame, windowTokens: Int,
                    strideTokens: Int): DataFrame =
    llmops.Chunking.slidingChunks(docs, windowTokens, strideTokens)
  /** One-call batch corpus cleaning: quality/lang gate → PII redact →
    * hash sample → exact dedup → near-dup cluster dedup →
    * decontaminate. See [[llmops.Corpus.clean]] for stage rationale.
    */
  def cleanCorpus(docs: DataFrame, benchmark: Option[DataFrame] = None,
                  minQuality: Double = 0.25, lang: Option[String] = None,
                  sampleFrac: Double = 1.0,
                  nearDupThreshold: Option[Double] = Some(0.7),
                  nearDupKeepBest: Boolean = false,
                  minCompressionRatio: Double = 0.0,
                  maxDupLineFrac: Double = 1.0,
                  lmTables: Option[(DataFrame, DataFrame)] = None,
                  maxNll: Double = Double.MaxValue,
                  qualityModel: Option[(Map[String, Double], Double)] = None,
                  minModelProb: Double = 0.5,
                  dropSpanNgram: Option[Int] = None,
                  dropLineBoilerplateMinDocs: Option[Int] = None,
                  dsir: Option[(Map[String, Double], Double, Double)] = None,
                  normalizeUnicode: Boolean = false): DataFrame =
    llmops.Corpus.clean(docs, benchmark, minQuality, lang,
      redact = true, sampleFrac = sampleFrac,
      nearDupThreshold = nearDupThreshold,
      nearDupKeepBest = nearDupKeepBest,
      minCompressionRatio = minCompressionRatio,
      maxDupLineFrac = maxDupLineFrac, lmTables = lmTables,
      maxNll = maxNll, qualityModel = qualityModel,
      minModelProb = minModelProb, dropSpanNgram = dropSpanNgram,
      dropLineBoilerplateMinDocs = dropLineBoilerplateMinDocs,
      dsir = dsir, normalizeUnicode = normalizeUnicode)
  /** One-pass per-column audit: nulls, approx distinct, min/max. */
  def profile(df: DataFrame, columns: Seq[String] = Seq.empty): DataFrame =
    ops.Profiling.profile(df, columns)
  /** Release diff between two corpus snapshots: (key, status). */
  def snapshotDiff(before: DataFrame, after: DataFrame,
                   keyCol: String = "doc_id"): DataFrame =
    ops.SnapshotDiff.diff(before, after, keyCol)
  /** PageRank centrality over a (src, dst) link graph. */
  def pageRank(edges: DataFrame, iterations: Int = 5): DataFrame =
    ops.PageRank.ranks(edges, iterations)
  /** Personalized (seed-teleport) PageRank — TrustRank (q200). */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
                           iterations: Int = 5): DataFrame =
    ops.PageRank.personalizedRanks(edges, seeds, iterations)
  /** HITS hubs/authorities over a (src, dst) link graph (q180). */
  def hubsAuthorities(edges: DataFrame, iterations: Int = 2): DataFrame =
    ops.Hits.hubsAuthorities(edges, iterations)
  /** Per-node triangle counts + local clustering coefficient (q182). */
  def triangleCounts(edges: DataFrame): DataFrame =
    ops.Triangles.triangleCounts(edges)
  /** k-core peel: (node, in_core, removal round) (q190). */
  /** Synchronous label-propagation communities (X180) — deterministic
    * LPA: most-frequent neighbor label, ties to the smallest. */
  def labelPropagation(edges: DataFrame, iterations: Int = 3): DataFrame =
    ops.Communities.labelPropagation(edges, iterations)
  /** Modularity + conductance per community (X199, q226) — evaluate a
    * labeling before acting on it. */
  def communityReport(edges: DataFrame, labels: DataFrame): DataFrame =
    ops.Communities.communityReport(edges, labels)
  /** Gini + top-decile concentration of a weight over keys, per group
    * (X200, q227). */
  def concentrationReport(df: DataFrame, groupCol: String, keyCol: String,
                          weight: org.apache.spark.sql.Column): DataFrame =
    ops.Profiling.concentrationReport(df, groupCol, keyCol, weight)
  /** Deterministic-assignment two-proportion A/B z-test (X201, q228). */
  def abTest(events: DataFrame, conversionType: String,
             salt: String): DataFrame =
    ops.Experiments.abTest(events, conversionType, salt)
  /** Multi-source BFS hop distances from a seed frame (X181);
    * unreachable nodes absent. */
  def bfsDistances(edges: DataFrame, seeds: DataFrame, maxDepth: Int = 3,
                   directed: Boolean = false): DataFrame =
    ops.Bfs.distances(edges, seeds, maxDepth, directed)
  /** First/last-touch conversion credit per channel (X182), one RANGE
    * window per user. */
  def attributionReport(events: DataFrame, touchTypes: Seq[String],
                        conversionType: String,
                        lookbackMillis: Long): DataFrame =
    ops.Attribution.report(events, touchTypes, conversionType,
      lookbackMillis)
  /** Basket co-occurrence lift (X183) over a caller-defined basket
    * expression; distinct presence semantics. */
  def basketLift(events: DataFrame,
                 basket: org.apache.spark.sql.Column,
                 itemCol: String = "event_type"): DataFrame =
    ops.Baskets.pairLift(events, basket, itemCol)
  /** Content drift between consecutive fetches (X184): normalized
    * capped edit distance per (url, version). */
  def contentDrift(history: DataFrame, maxChars: Int = 2000): DataFrame =
    ops.Recrawl.contentDrift(history, maxChars)
  /** FK integrity audit (X185): orphan/null/dup-parent counts before
    * a join silently drops rows. */
  def fkAudit(child: DataFrame, parent: DataFrame, childKey: String,
              parentKey: String, relation: String): DataFrame =
    ops.Profiling.fkAudit(child, parent, childKey, parentKey, relation)
  /** Per-group percentile clamp (X186): winsorized values + the band,
    * rows preserved. */
  def winsorize(df: DataFrame, valueCol: String, byCol: String,
                lo: Double = 0.01, hi: Double = 0.99): DataFrame =
    llmops.Binning.winsorize(df, valueCol, byCol, lo, hi)
  def kCore(edges: DataFrame, k: Int): DataFrame =
    ops.KCore.kCore(edges, k)
  /** Empirical event transition matrix (prev, next, n, p) (q183). */
  def transitionMatrix(events: DataFrame,
                       maxGapMillis: Long = Long.MaxValue): DataFrame =
    ops.Paths.transitionMatrix(events, maxGapMillis)
  /** Top-k next events per antecedent from the transition matrix. */
  def topNextEvents(events: DataFrame, k: Int,
                    maxGapMillis: Long = Long.MaxValue): DataFrame =
    ops.Paths.topNextEvents(events, k, maxGapMillis)
  /** N-gram-overlap decontamination: drop corpus docs sharing any
    * word n-gram with a benchmark document.
    */
  def ngramDecontaminate(corpus: DataFrame, benchmark: DataFrame,
                         n: Int = 8): DataFrame =
    llmops.Dedup.ngramDecontaminate(corpus, benchmark, n)
  /** Keep docs per group until a token quota fills (mixture building). */
  def tokenBudgetSample(docs: DataFrame, budgetPerGroup: Long,
                        streams: Int = 8): DataFrame =
    llmops.Splits.tokenBudgetSample(docs, budgetPerGroup, streams)
  /** Cap documents per host by a deterministic md5 lottery — the
    * RefinedWeb/CCNet host-bias control (q137). */
  def hostCapSample(docs: DataFrame, cap: Int,
                    hostCol: String = "host"): DataFrame =
    llmops.Splits.hostCapSample(docs, cap, hostCol)
  /** Per-doc fraction of distinct word n-grams absent from a
    * reference corpus — the graded decontamination/memorization
    * signal (q141). */
  def ngramNoveltyScores(corpus: DataFrame, reference: DataFrame,
                         n: Int = 8): DataFrame =
    llmops.Dedup.ngramNoveltyScores(corpus, reference, n)
  /** Exact decontamination with a bloom pre-split (benchmark too big
    * to broadcast): misses skip the join entirely.
    */
  def bloomDecontaminate(corpus: DataFrame, benchmark: DataFrame,
                         expectedItems: Long = 1000000L,
                         fpp: Double = 0.01): DataFrame =
    llmops.Dedup.bloomDecontaminate(corpus, benchmark,
      expectedItems = expectedItems, fpp = fpp)
  /** Clean a delta batch against persisted corpus sketch tables. */
  def incrementalDedup(delta: DataFrame, corpusBands: DataFrame,
                       corpusSigs: DataFrame,
                       threshold: Double = 0.7): DataFrame =
    llmops.Dedup.incrementalDedup(delta, corpusBands, corpusSigs, threshold)

  // ---- similarity search -------------------------------------------
  /** Model-free hashing-trick text embedder (signed feature hashing,
    * md5-deterministic): makes chunk → embed → ANN executable
    * end-to-end with nothing external. */
  def hashedEmbedding(docs: DataFrame, dim: Int = 256,
                      idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame =
    llmops.VectorFuncs.hashedEmbedding(docs, dim, idCol, textCol)
  /** TF-IDF-weighted hashed embedding: stopwords vanish (idf 0), rare
    * terms dominate — the quality step above [[hashedEmbedding]]
    * (q139). */
  def hashedTfidfEmbedding(docs: DataFrame, dim: Int = 256,
                           idCol: String = "doc_id",
                           textCol: String = "text"): DataFrame =
    llmops.VectorFuncs.hashedTfidfEmbedding(docs, dim, idCol, textCol)
  /** Sentence-aligned retrieval chunks (atomic sentences, char
    * budget). */
  /** Semantic (embedding-drift) chunking (X203, q229): split where
    * the topic moves, not where a byte budget fills. */
  def semanticChunks(docs: DataFrame, dim: Int = 64,
                     minSim: Double = 0.3): DataFrame =
    llmops.Chunking.semanticChunks(docs, dim, minSim)
  /** PCA for embedding columns (X204, q230): one-pass scatter,
    * deterministic power iteration, broadcast projection. */
  def pcaFit(vecs: DataFrame, k: Int,
             iters: Int = 30): llmops.Pca.PcaModel =
    llmops.Pca.fit(vecs, k, iters)
  def pcaProject(vecs: DataFrame, model: llmops.Pca.PcaModel): DataFrame =
    llmops.Pca.project(vecs, model)
  def sentenceChunks(docs: DataFrame, targetChars: Int): DataFrame =
    llmops.Chunking.sentenceChunks(docs, targetChars)
  /** One-call retrieval: text in, persisted chunk+ANN index out. */
  def buildRetrievalIndex(docs: DataFrame, path: String,
                          targetChars: Int = 400, dim: Int = 256): Unit =
    llmops.Retrieval.buildIndex(docs, path, targetChars, dim)
  /** Question texts in, (query_id, rk, doc_id, chunk_text, sim) out —
    * served from the persisted index alone. */
  def searchRetrievalIndex(s: SparkSession, path: String,
                           queries: DataFrame, k: Int = 5,
                           nprobe: Int = 4): DataFrame =
    llmops.Retrieval.search(s, path, queries, k, nprobe)
  /** Exact brute-force top-k. Defaults to the scale-safe bounded-heap
    * partial-aggregation plan; the rank-window formulation is only
    * reachable via `VectorFuncs.bruteForceTopK(impl = "window")` (the
    * documented oracle anchor — it funnels every scored row through
    * |queries| reducers and must not be used at scale).
    */
  def cosineTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame =
    llmops.VectorFuncs.bruteForceTopK(corpus, queries, k)
  /** Alias for [[cosineTopK]] (the agg plan is the default now). */
  def cosineTopKAgg(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame =
    llmops.VectorFuncs.bruteForceTopKAgg(corpus, queries, k)
  def approxTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                 planes: Int = 8): DataFrame =
    llmops.VectorFuncs.lshTopK(corpus, queries, k, planes)
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nlist: Int = 16, nprobe: Int = 4,
              kmeansIters: Int = 0): DataFrame =
    llmops.Ivf.ivfTopK(corpus, queries, k, nlist, nprobe, kmeansIters)
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
             m: Int = 8, codewords: Int = 16, iters: Int = 0): DataFrame =
    llmops.Ivf.pqTopK(corpus, queries, k, m, codewords, iters)
  def ivfAdcTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                 nlist: Int = 16, nprobe: Int = 4,
                 m: Int = 8, codewords: Int = 16,
                 coarseIters: Int = 0, pqIters: Int = 0): DataFrame =
    llmops.Ivf.ivfAdcTopK(corpus, queries, k, nlist, nprobe, m,
      codewords, coarseIters, pqIters)
  /** IMI coarse lists (√nlist assignment) over the PQ ADC scan — the
    * corpus-scale composition (Babenko-Lempitsky × Jégou).
    */
  def imiAdcTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                 kHalf: Int = 8, p: Int = 2,
                 m: Int = 8, codewords: Int = 16,
                 imiIters: Int = 0, pqIters: Int = 0): DataFrame =
    llmops.Ivf.imiAdcTopK(corpus, queries, k, kHalf, p, m, codewords,
      imiIters, pqIters)
  /** IVFADC proper: PQ codes quantize the coarse residual
    * (Jégou §V.A) — lower reconstruction error at the same m·k budget.
    */
  def ivfAdcResidualTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                         nlist: Int = 16, nprobe: Int = 4,
                         m: Int = 8, codewords: Int = 16,
                         coarseIters: Int = 0, pqIters: Int = 0): DataFrame =
    llmops.Ivf.ivfAdcResidualTopK(corpus, queries, k, nlist, nprobe, m,
      codewords, coarseIters, pqIters)
  /** SQ8 scalar-quantized brute-force top-k: 4× smaller scans than
    * raw floats at near-exact ranking — the first compression tier
    * before PQ.
    */
  def sq8TopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame =
    llmops.Ivf.sq8TopK(corpus, queries, k)
  /** Persist / restore trained ANN models (centroids + codebooks) —
    * the train-once / serve-many seam; see [[llmops.Models]].
    */
  def saveAnnModel(s: SparkSession, dir: String,
                   cents: Array[Array[Float]],
                   books: Array[Array[Array[Float]]]): Unit =
    llmops.Models.saveIvfAdc(s, dir, cents, books)
  def loadAnnModel(s: SparkSession, dir: String)
      : (Array[Array[Float]], Array[Array[Array[Float]]]) =
    llmops.Models.loadIvfAdc(s, dir)
  /** Write a list-partitioned persisted ANN index (codes + models);
    * [[queryAnnIndex]] then reads ONLY the probed partitions —
    * partition pruning makes the nprobe budget an I/O bound, not
    * just a join filter. See [[llmops.AnnIndex]].
    */
  def writeAnnIndex(corpus: DataFrame, path: String,
                    nlist: Int = 16, coarseIters: Int = 2,
                    m: Int = 8, codewords: Int = 16,
                    pqIters: Int = 2): Unit =
    llmops.AnnIndex.write(corpus, path, nlist, coarseIters, m,
      codewords, pqIters)
  def queryAnnIndex(s: SparkSession, path: String, queries: DataFrame,
                    k: Int, nprobe: Int = 4): DataFrame =
    llmops.AnnIndex.topK(s, path, queries, k, nprobe)
  /** Incremental index lifecycle: encode new vectors with the
    * persisted models into the existing partitions ([[appendAnnIndex]]
    * — equal to a fresh full write while the models fit), and the
    * retrain signal ([[annIndexDrift]]: assignment-MSE ratio vs the
    * training-time fit recorded at write).
    */
  def appendAnnIndex(s: SparkSession, newVecs: DataFrame, path: String): Unit =
    llmops.AnnIndex.append(s, newVecs, path)
  def annIndexDrift(s: SparkSession, newVecs: DataFrame, path: String): DataFrame =
    llmops.AnnIndex.drift(s, newVecs, path)
  /** Tombstone-delete vectors from a persisted ANN index (slim append,
    * no rewrite; serving excludes them on the next query), and the
    * physical purge + small-file consolidation pass (q143 lifecycle). */
  def deleteFromAnnIndex(ids: DataFrame, path: String): Unit =
    llmops.AnnIndex.delete(ids, path)
  def compactAnnIndex(s: SparkSession, path: String): Unit =
    llmops.AnnIndex.compact(s, path)

  // ---- versioned index lifecycle (serve-under-maintenance) ---------
  /** The CURRENT version's directory of a versioned index root —
    * resolve once per query batch, serve from the immutable snapshot.
    * See [[llmops.VersionedIndex]]. */
  def currentIndexPath(s: SparkSession, root: String): String =
    llmops.VersionedIndex.currentPath(s, root)
  /** Copy-compact the current version into a fresh published v&lt;N+1&gt;
    * — a racing serve reads old or new, never torn. */
  def compactAnnIndexVersioned(s: SparkSession, root: String): Int =
    llmops.AnnIndex.compactVersioned(s, root)
  def compactBm25IndexVersioned(s: SparkSession, root: String): Int =
    llmops.Bm25Index.compactVersioned(s, root)
  /** Versioned corpus-table roots (X207): publish a complete parquet
    * snapshot and atomically flip the pointer — readers that already
    * resolved keep their snapshot (q233). */
  def publishTable(df: DataFrame, root: String): Int =
    io.VersionedTable.publish(df, root)
  /** Incremental publish (X225, q250): v+1 = parent's files + only
    * these rows, same atomic pointer flip — a daily append never
    * rewrites the world. */
  def publishTableAppend(df: DataFrame, root: String): Int =
    io.VersionedTable.publishAppend(df, root)
  /** Scan the current published snapshot of a versioned root. */
  def readCurrentTable(s: SparkSession, root: String): DataFrame =
    io.VersionedTable.readCurrent(s, root)
  /** Audit two snapshots of a versioned root:
    * (key, added/removed/changed/unchanged). */
  def tableDiff(s: SparkSession, root: String, vFrom: Int, vTo: Int,
                keyCol: String = "doc_id"): DataFrame =
    io.VersionedTable.diff(s, root, vFrom, vTo, keyCol)
  def compactRetrievalIndexVersioned(s: SparkSession, root: String): Int =
    llmops.Retrieval.compactVersioned(s, root)
  /** drift → retrain → re-encode → atomic swap in one call (appends
    * serve-safely instead when the batch still fits the models). */
  def retrainAnnIfDrifted(s: SparkSession, corpus: DataFrame,
                          newBatch: DataFrame, root: String,
                          maxRatio: Double = 2.0): (Boolean, Int) =
    llmops.AnnIndex.retrainIfDrifted(s, corpus, newBatch, root, maxRatio)
  def buildRetrievalIndexVersioned(docs: DataFrame, root: String,
                                   targetChars: Int = 400,
                                   dim: Int = 256): Int =
    llmops.Retrieval.buildIndexVersioned(docs, root, targetChars, dim)
  def searchRetrievalIndexVersioned(s: SparkSession, root: String,
                                    queries: DataFrame, k: Int = 5,
                                    nprobe: Int = 4): DataFrame =
    llmops.Retrieval.searchVersioned(s, root, queries, k, nprobe)
  /** Eval metrics over every (fetchK, nprobe, rrfK) cell in ONE
    * report (q170) — candidate rankings serve once per (fetchK,
    * nprobe); rrfK variants re-fuse them for free. */
  def tuneRetrievalHybrid(s: SparkSession, path: String,
                          queries: DataFrame, qrels: DataFrame,
                          evalK: Int = 5,
                          fetchKs: Seq[Int] = Seq(5, 10, 20),
                          nprobes: Seq[Int] = Seq(2, 4, 8),
                          rrfKs: Seq[Int] = Seq(20, 60, 120)): DataFrame =
    llmops.Retrieval.tuneHybrid(s, path, queries, qrels, evalK,
      fetchKs, nprobes, rrfKs)

  // ---- text analysis / curation ------------------------------------
  def langId(text: Column): Column = llmops.TextFuncs.langId(text)
  /** Monolingual line segments of a code-mixed document: per-line
    * langId, consecutive same-language lines merge into ordered
    * segments (q146). */
  def lineLangSegments(docs: DataFrame): DataFrame =
    llmops.TextFuncs.lineLangSegments(docs)
  def qualityScore(text: Column): Column = llmops.TextFuncs.qualityScore(text)
  def tokenCount(text: Column): Column = llmops.TextFuncs.tokenCount(text)
  def minhashSignature(text: Column): Column =
    llmops.Sketches.minhash_signature(text)
  def simhash(text: Column): Column = llmops.Sketches.simhash64(text)
  def compressionRatio(text: Column): Column =
    llmops.Compression.compressionRatio(text)
  /** Deterministic content-hash train/val/test assignment. */
  def assignSplit(text: Column, trainFrac: Double = 0.8,
                  valFrac: Double = 0.1): Column =
    llmops.Splits.assignSplit(text, trainFrac, valFrac)
  /** Leakage-safe split: near-dup neighbors (the `pairs` graph) share
    * a split by construction — the split key is the connected-component
    * label, so no dup pair straddles train/test (q174). */
  def splitByCluster(docs: DataFrame, pairs: DataFrame,
                     idCol: String = "doc_id",
                     trainFrac: Double = 0.8, valFrac: Double = 0.1,
                     seed: String = "cluster-split"): DataFrame =
    llmops.Splits.splitByCluster(docs, pairs, idCol, trainFrac, valFrac, seed)
  /** Redact emails / phone numbers / IPv4 addresses with typed tags. */
  def redactPii(text: Column): Column = llmops.TextFuncs.redactPii(text)
  /** Encoding-damage ratio (U+FFFD + controls + mojibake per char,
    * q185); the component counters live on TextFuncs. */
  def encodingDamageRatio(text: Column): Column =
    llmops.TextFuncs.encodingDamageRatio(text)
  /** Per-source unigram KL divergence vs the corpus mix (q186). */
  def sourceDivergence(docs: DataFrame, topV: Int = 200): DataFrame =
    llmops.TextFuncs.sourceDivergence(docs, topV)
  /** RAKE keyphrases per document, pooled-ratio scoring (q189). */
  def rakeKeywords(docs: DataFrame, k: Int = 5,
                   maxPhraseWords: Int = 4): DataFrame =
    llmops.Keywords.rakeKeywords(docs, k, maxPhraseWords)
  /** Flesch Reading Ease (vowel-group syllable heuristic, q191). */
  def fleschReadingEase(text: Column): Column =
    llmops.TextFuncs.fleschReadingEase(text)
  /** Exact-dup pair counts per source pair (q192). */
  def crossSourceDupMatrix(docs: DataFrame): DataFrame =
    llmops.Dedup.crossSourceDupMatrix(docs)
  /** Exact distinct-text Jaccard between source pairs (q203). */
  def crossSourceOverlapMatrix(docs: DataFrame): DataFrame =
    llmops.Dedup.crossSourceOverlapMatrix(docs)
  /** Functional-dependency audit: ranked lhs→rhs violations (q204). */
  def fdViolations(df: DataFrame, lhs: Seq[String], rhs: String,
                   k: Int = 10): DataFrame =
    ops.Profiling.fdViolations(df, lhs, rhs, k)
  /** Change-rate recrawl schedule from a fetch history (q205). */
  def recrawlSchedule(history: DataFrame,
                      minIntervalMillis: Long = 3600000L,
                      maxIntervalMillis: Long = 30L * 86400000L)
      : DataFrame =
    ops.Recrawl.schedule(history, minIntervalMillis, maxIntervalMillis)
  /** Head+tail token truncation to a fixed budget (q206). */
  def truncateTokens(text: Column, headTokens: Int, tailTokens: Int,
                     marker: String = " ... "): Column =
    llmops.TextFuncs.truncateTokens(text, headTokens, tailTokens, marker)
  /** Gopher-style repetition signals. */
  def duplicateWordFraction(text: Column): Column =
    llmops.TextFuncs.duplicateWordFraction(text)
  def duplicateNgramFraction(text: Column, n: Int): Column =
    llmops.TextFuncs.duplicateNgramFraction(text, n)
  /** Positional Gopher repetition stats (top-n-gram count + unioned
    * duplicated-n-gram coverage, integer token space). */
  def repetitionStats(docs: DataFrame, n: Int = 2, minCount: Int = 2): DataFrame =
    llmops.TextFuncs.repetitionStats(docs, n, minCount)
  /** Concat-and-chunk sequence packing (bin id per document). */
  def packBins(docs: DataFrame, targetTokens: Int, streams: Int = 8): DataFrame =
    llmops.Packing.packBins(docs, targetTokens, streams)
  /** Content-defined chunking (Gear CDC, q181): one row per chunk
    * with byte offsets + content hash; edits move only the chunks
    * that cover them. Group by chunk_hash for cross-corpus repeated
    * regions. */
  def cdcChunks(docs: DataFrame, maskBits: Int = 6, minSize: Int = 16,
                maxSize: Int = 256): DataFrame =
    llmops.Cdc.cdcChunks(docs, maskBits, minSize, maxSize)
  /** Seeded content-hash key for deterministic corpus shuffling. */
  def shuffleKey(key: Column, seed: String): Column =
    llmops.Splits.shuffleKey(key, seed)
  /** Rendezvous (HRW) shard id: growing n→n+1 moves only the keys the
    * new shard wins (~1/(n+1)), all TO the new shard (q184). */
  def rendezvousShard(key: Column, nShards: Int,
                      seed: String = ""): Column =
    llmops.Splits.rendezvousShard(key, nShards, seed)
  /** Quantile binning via broadcast thresholds (no global sort). */
  def quantileBins(df: DataFrame, value: Column, probs: Seq[Double],
                   binCol: String = "bin"): DataFrame =
    llmops.Binning.quantileBins(df, value, probs, binCol)
  /** Per-group percent-rank normalization without per-group raw-row
    * windows (q201). */
  def rankNormalize(df: DataFrame, valueCol: String, byCol: String,
                    outCol: String = "rank_norm"): DataFrame =
    llmops.Binning.rankNormalize(df, valueCol, byCol, outCol)
  /** Per-shard order-free integrity manifest for exports (q202). */
  def shardManifest(export: DataFrame, shardCol: String,
                    cols: Seq[String]): DataFrame =
    llmops.TrainExport.shardManifest(export, shardCol, cols)
  /** Deterministic per-stratum sampling decision (corpus mixing):
    * true iff the row survives its stratum's rate.
    */
  def stratifiedKeep(stratum: Column, key: Column,
                     fractions: Map[String, Double],
                     defaultFrac: Double): Column =
    llmops.Splits.sampleHash(key,
      llmops.Splits.stratumThreshold(stratum, fractions, defaultFrac))

  // ---- join pruning ------------------------------------------------
  /** Exact semi-join with a bloom pre-filter at the fact scan. */
  def bloomSemiJoin(fact: DataFrame, factKey: Column,
                    dim: DataFrame, dimKey: Column,
                    expectedItems: Long = 1000000L,
                    fpp: Double = 0.03): DataFrame =
    ops.Bloom.prunedSemiJoin(fact, factKey, dim, dimKey, expectedItems, fpp)

  // ---- quality models / selection / mixing -------------------------
  /** Train the hashed-bag-of-words LR quality classifier (q97). */
  def trainQualityModel(labeled: DataFrame, labelCol: String = "label")
      : (Map[String, Double], Double) =
    llmops.QualityModel.train(labeled, labelCol)
  /** Score docs with a trained quality model: (doc_id, prob). */
  def qualityModelScore(docs: DataFrame, weights: Map[String, Double],
                        bias: Double): DataFrame =
    llmops.QualityModel.score(docs, weights, bias)
  /** Bigram-LM per-doc avg negative log-likelihood (CCNet, q99). */
  def lmPerplexityScores(docs: DataFrame, uni: DataFrame, bi: DataFrame,
                         k: Double = 0.5): DataFrame =
    llmops.LangModel.nllScores(docs, uni, bi, k)
  /** DSIR importance log-ratio model: fit target vs raw (q100). */
  def dsirRatios(target: DataFrame, raw: DataFrame,
                 alpha: Double = 1.0): DataFrame =
    llmops.Dsir.logRatios(target, raw, alpha)
  /** DSIR Gumbel-top-k selection from a ratio model (q100). */
  def dsirSelect(raw: DataFrame, ratios: DataFrame, k: Int): DataFrame = {
    val scored = llmops.Dsir.importanceScores(raw, ratios)
      .join(raw, Seq("doc_id"))
    llmops.Dsir.gumbelTopK(scored, k, org.apache.spark.sql.functions.col("text"))
  }
  /** Temperature mixture table: weight ∝ n_tokens^α (q101). */
  def temperatureWeights(docs: DataFrame, alpha: Double,
                         tokenBudget: Long): DataFrame =
    llmops.Mixture.temperatureWeights(docs, alpha, tokenBudget)
  /** Apply a mixture table's per-source rates (adds `keep`). */
  def applyMixture(docs: DataFrame, rates: DataFrame): DataFrame =
    llmops.Mixture.applyRates(docs, rates)
  /** Budget-constrained quality-greedy mixture allocation (q177):
    * fill a hard token budget best-source-first under a per-source
    * share cap; feed the result to [[applyMixture]]. */
  def budgetAllocate(docs: DataFrame, tokenBudget: Long,
                     maxShare: Double = 1.0): DataFrame =
    llmops.Mixture.budgetAllocate(docs, tokenBudget, maxShare)
  /** Per-group quantile thresholds + bucket assignment (CCNet, q102). */
  def groupQuantileBins(df: DataFrame, group: Column, value: Column,
                        probs: Seq[Double], binCol: String = "bin")
      : DataFrame = {
    val thr = llmops.Binning.groupQuantileThresholds(df, group, value, probs)
    llmops.Binning.groupBins(df, thr, group, value, binCol)
  }
  /** Calibration/reliability report + ECE for a scored table (X187,
    * q214): is prob 0.8 right 80% of the time? */
  def calibrationReport(scored: DataFrame, labelCol: String = "label",
                        probCol: String = "prob",
                        nBins: Int = 10): DataFrame =
    llmops.QualityModel.calibrationReport(scored, labelCol, probCol, nBins)
  /** LSH-vs-exact realized recall audit in the same n-gram Jaccard
    * space (X188, q215). */
  def lshRecallAudit(docs: DataFrame, lshPairs: DataFrame,
                     threshold: Double = 0.5, n: Int = 3): DataFrame =
    llmops.Dedup.lshRecallAudit(docs, lshPairs, threshold, n)
  /** Chi-square sample-representativeness audit (X189, q216). */
  def sampleAudit(source: DataFrame, sample: DataFrame,
                  byCol: String): DataFrame =
    ops.Profiling.sampleAudit(source, sample, byCol)
  /** Semantic (embedding-space) decontamination (X192, q219):
    * (kept corpus, evidence receipts). */
  def semanticDecontaminate(corpus: DataFrame, benchmark: DataFrame,
                            threshold: Double = 0.95, nlist: Int = 16,
                            nprobe: Int = 2, kmeansIters: Int = 0)
      : (DataFrame, DataFrame) =
    llmops.Dedup.semanticDecontaminate(corpus, benchmark, threshold,
      nlist, nprobe, kmeansIters)
  /** BM25 top-k retrieval over a text corpus (q103). */
  def bm25TopK(docs: DataFrame, terms: Seq[String], k: Int): DataFrame =
    llmops.Bm25.topK(docs, terms, k)
  /** TextRank keywords (X193, q220): per-document PageRank over word
    * co-occurrence, all documents as one edge table. */
  def textrankKeywords(docs: DataFrame, k: Int = 5, windowSize: Int = 2,
                       iterations: Int = 2): DataFrame =
    llmops.Keywords.textrankKeywords(docs, k, windowSize, iterations)
  /** Keyed pseudonymization (X194, q221): identifiers hash to stable
    * joinable pseudonyms; rotate the key to unlink. */
  def pseudonymize(df: DataFrame, cols: Seq[String],
                   key: String): DataFrame =
    llmops.Privacy.pseudonymize(df, cols, key)
  /** k-anonymity audit over quasi-identifier columns (X195, q222). */
  /** l-diversity audit (X208): distinct sensitive values per
    * quasi-identifier class — the homogeneity attack k-anonymity
    * misses (q234). */
  def lDiversityAudit(df: DataFrame, quasiCols: Seq[String],
                      sensitiveCol: String, l: Int): DataFrame =
    llmops.Privacy.lDiversityAudit(df, quasiCols, sensitiveCol, l)
  /** Embedding isotropy / effective-rank report (X209): full-spectrum
    * variance landscape + the trace-identity self-audit (q235). */
  def isotropyReport(vecs: DataFrame,
                     vecCol: String = "embedding"): DataFrame =
    llmops.Pca.isotropyReport(vecs, vecCol)
  /** PSI drift report (X211): current snapshot binned by the
    * reference's exact deciles, clamped-log contributions (q237). */
  def psiReport(ref: DataFrame, cur: DataFrame, valueCol: String,
                bins: Int = 10): DataFrame =
    llmops.Binning.psiReport(ref, cur, valueCol, bins)
  /** Good-Turing unseen-mass report (X212): P(next token unseen) =
    * N1/N per source (q238). */
  def goodTuringReport(docs: DataFrame,
                       byCol: String = "source"): DataFrame =
    llmops.Vocab.goodTuringReport(docs, byCol)
  /** Luhn-gated credit-card redaction (X213): card-shaped runs that
    * pass mod-10 become `<CARD>`, random digit runs stay (q239). */
  def redactCards(text: Column): Column =
    llmops.TextFuncs.redactCards(text)
  /** Top-k embedding outliers by centroid-distance z-score (X214) —
    * pre-index hygiene (q240). */
  def embeddingOutliers(vecs: DataFrame, k: Int = 10): DataFrame =
    llmops.VectorFuncs.embeddingOutliers(vecs, k)
  /** Whole-graph reciprocity + degree assortativity (X215, q241). */
  def graphHealthReport(edges: DataFrame): DataFrame =
    ops.GraphStats.healthReport(edges)
  /** Per-window PSI drift vs a static reference (X216) — the q237
    * arithmetic as one streaming-legal windowed aggregate (q242). */
  def psiWindows(events: DataFrame, edges: Seq[Double],
                 refProps: Seq[Double],
                 windowLen: String = "1 hour"): DataFrame =
    streaming.EventStreams.psiWindows(events, edges, refProps, windowLen)
  /** Blocked Jaro-Winkler fuzzy entity matching (X218, q243). */
  def fuzzyNamePairs(df: DataFrame, threshold: Double,
                     idCol: String = "doc_id",
                     nameCol: String = "name"): DataFrame =
    llmops.Fuzzy.jaroWinklerPairs(df, threshold, idCol, nameCol)
  /** Jaro-Winkler similarity column (X218) — DuckDB-convention
    * (0.7 boost threshold, prefix cap 4). */
  def jaroWinkler(a: Column, b: Column): Column =
    expr.StringSim.jaro_winkler(a, b)
  /** Single change-point per series (X219, q244): the bucket after
    * which the level shifted most (least-squares two-segment). */
  def changePoint(events: DataFrame, bucketMillis: Long): DataFrame =
    ops.Anomaly.changePoint(events, bucketMillis)
  /** Column-profile drift between two snapshots of a versioned root
    * (X220, q245): schema adds/removes + null-rate movement. */
  def tableProfileDrift(s: SparkSession, root: String,
                        vFrom: Int, vTo: Int): DataFrame =
    io.VersionedTable.profileDrift(s, root, vFrom, vTo)
  /** Version-aware stream enrichment against a versioned table root
    * (X217): each micro-batch re-resolves the pointer, so a publish
    * mid-stream serves on the next batch with no restart. */
  def enrichStreamVersioned(s: SparkSession, root: String,
                            stream: DataFrame, joinKeys: Seq[String])
                           (sink: (DataFrame, Long) => Unit) =
    streaming.TableServe.enrich(s, root, stream, joinKeys)(sink)
  /** Cross-corpus quote detection (X224, q249): per (corpus, ref)
    * pair, shared n-grams and the longest verbatim-quote token run.
    * Grams in more than `maxRefDf` reference docs are dropped as
    * template boilerplate (observed via Dedup's cap metrics). */
  def quoteSpans(corpus: DataFrame, reference: DataFrame, n: Int = 8,
                 minSharedNgrams: Long = 1,
                 maxRefDf: Int = 100): DataFrame =
    llmops.Dedup.quoteSpans(corpus, reference, n, minSharedNgrams,
      maxRefDf = maxRefDf)
  /** Corpus minus documents quoting the reference at or beyond
    * `maxQuoteTokens` — [[quoteSpans]] as a decontamination filter
    * (anti-join on the flagged corpus ids; X224 composition). The
    * corpus/reference column names are forwarded to the detector, so
    * the flag key and the anti-join key are always the SAME column. */
  def quoteSafeCorpus(corpus: DataFrame, reference: DataFrame,
                      maxQuoteTokens: Long, n: Int = 8,
                      idCol: String = "doc_id", textCol: String = "text",
                      refId: String = "doc_id", refText: String = "text",
                      maxRefDf: Int = 100): DataFrame = {
    val flagged = llmops.Dedup.quoteSpans(corpus, reference, n,
        corpusId = idCol, corpusText = textCol,
        refId = refId, refText = refText, maxRefDf = maxRefDf)
      .where(col("max_quote_tokens") >= maxQuoteTokens)
      .select(col("corpus_id").as(idCol))
    corpus.join(flagged, Seq(idCol), "left_anti")
  }
  /** Soft dedup (X221, q246): weight = 1/|near-dup cluster| instead
    * of dropping — templated families share one unit of mass. */
  def softDedupWeights(docs: DataFrame,
                       threshold: Double = 0.7): DataFrame =
    llmops.Dedup.softWeights(docs, threshold)
  /** End-to-end entity resolution (X222, q247): fuzzy pairs → CC →
    * canonical record per entity. */
  def entityClusters(df: DataFrame, threshold: Double,
                     idCol: String = "doc_id",
                     nameCol: String = "name"): DataFrame =
    llmops.Fuzzy.entityClusters(df, threshold, idCol, nameCol)
  /** Crawl politeness audit (X231, q257/q264): per-host
    * consecutive-fetch gap stats + violations of a minimum-gap floor;
    * pass `endCol` to measure start-vs-previous-END (overlapping
    * fetches = negative gaps = violations). */
  def politenessAudit(fetches: DataFrame, minGapMillis: Long,
                      hostCol: String = "host", tsCol: String = "ts",
                      endCol: Option[String] = None): DataFrame =
    ops.Recrawl.politenessAudit(fetches, minGapMillis, hostCol, tsCol,
      endCol)
  /** Exact dedup with a keep policy (X232, q256): per content group
    * keep the row maximizing (orderCol, id) — newest fetch, highest
    * score — instead of lowest id. */
  def exactDedupKeepBy(docs: DataFrame, orderCol: String,
                       keepMax: Boolean = true): DataFrame =
    llmops.Dedup.exactKeepBy(docs, orderCol, keepMax)
  /** Cohen's kappa inter-annotator agreement (X226, q251): chance-
    * corrected two-rater agreement over a nominal label set. */
  def cohenKappa(df: DataFrame, raterACol: String,
                 raterBCol: String): DataFrame =
    ops.Labeling.cohenKappa(df, raterACol, raterBCol)
  /** Krippendorff's alpha, nominal (X233, q258): agreement for any
    * number of raters with missing labels — long (item, label) input. */
  def krippendorffAlpha(df: DataFrame, itemCol: String,
                        labelCol: String): DataFrame =
    ops.Labeling.krippendorffAlpha(df, itemCol, labelCol)
  /** Weighted Cohen's kappa (X235, q260): distance-priced agreement
    * for ordered numeric labels — linear or quadratic weights. */
  def weightedKappa(df: DataFrame, raterACol: String, raterBCol: String,
                    weights: String = "quadratic"): DataFrame =
    ops.Labeling.weightedKappa(df, raterACol, raterBCol, weights)
  /** Fleiss' kappa (X237, q263): fixed-size rater panel agreement;
    * items off the panel size are dropped and counted. */
  def fleissKappa(df: DataFrame, itemCol: String, labelCol: String,
                  raters: Int): DataFrame =
    ops.Labeling.fleissKappa(df, itemCol, labelCol, raters)
  /** Krippendorff's alpha, interval (X236, q261): squared-difference
    * metric for numeric ratings — near-misses mostly agree. */
  def krippendorffAlphaInterval(df: DataFrame, itemCol: String,
                                valueCol: String): DataFrame =
    ops.Labeling.krippendorffAlphaInterval(df, itemCol, valueCol)
  /** Gwet's AC1 (X239, q265): prevalence-robust two-rater agreement
    * — stays calibrated where kappa's paradox strikes. */
  def gwetAC1(df: DataFrame, raterACol: String,
              raterBCol: String): DataFrame =
    ops.Labeling.gwetAC1(df, raterACol, raterBCol)
  /** Krippendorff's alpha, ordinal (X240, q266): ranked categories,
    * marginal-walking difference function. */
  def krippendorffAlphaOrdinal(df: DataFrame, itemCol: String,
                               labelCol: String): DataFrame =
    ops.Labeling.krippendorffAlphaOrdinal(df, itemCol, labelCol)
  /** Majority-vote consensus label per item (X241, q267): winning
    * label, vote counts, support share; deterministic ties. */
  def consensusLabels(df: DataFrame, itemCol: String,
                      labelCol: String): DataFrame =
    ops.Labeling.consensusLabels(df, itemCol, labelCol)
  /** Per-rater agreement vs consensus + outlier flag (X241, q268):
    * which annotator is dragging alpha down. */
  def raterOutliers(df: DataFrame, itemCol: String, raterCol: String,
                    labelCol: String,
                    zThresh: Double = 2.0): DataFrame =
    ops.Labeling.raterOutliers(df, itemCol, raterCol, labelCol, zThresh)
  /** ROUGE-N per (candidate, reference) pair (X227, q252): clipped
    * bag-of-ngrams precision/recall/F1. */
  def rougeN(pairs: DataFrame, n: Int = 2, idCol: String = "doc_id",
             candCol: String = "candidate",
             refCol: String = "reference"): DataFrame =
    llmops.Rouge.rougeN(pairs, n, idCol, candCol, refCol)
  /** Chat-transcript shape audit (X228, q253): role alternation,
    * opening role, empty turns, per-role char mass from JSON turn
    * arrays. */
  def transcriptAudit(df: DataFrame, idCol: String = "convo_id",
                      jsonCol: String = "convo_json"): DataFrame =
    llmops.Chat.transcriptAudit(df, idCol, jsonCol)
  /** Burrows' Delta stylometric distance between groups (X229,
    * q254): function-word z-score geometry, topic-robust. */
  def burrowsDelta(docs: DataFrame, k: Int = 50,
                   groupCol: String = "source"): DataFrame =
    llmops.Stylometry.burrowsDelta(docs, k, groupCol)
  /** Split-leakage audit (X230, q255): near-dup pairs straddling an
    * EXISTING train/val/test assignment — the check to run before
    * trusting any third-party eval split. */
  def splitLeakage(docs: DataFrame, threshold: Double = 0.7,
                   splitCol: String = "split"): DataFrame =
    llmops.Dedup.splitLeakage(docs, threshold, splitCol)
  /** Actionable split leakage (X230, q262): the straddling
    * (id_a, id_b, split_a, split_b) pairs themselves — the
    * quarantine list behind [[splitLeakage]]'s counts. */
  def splitLeakagePairs(docs: DataFrame, threshold: Double = 0.7,
                        splitCol: String = "split"): DataFrame =
    llmops.Dedup.splitLeakagePairs(docs, threshold, splitCol)
  /** ROUGE-L per (candidate, reference) pair (X234, q259): LCS-based
    * order-aware precision/recall/F1, token-capped DP. */
  def rougeL(pairs: DataFrame, idCol: String = "doc_id",
             candCol: String = "candidate",
             refCol: String = "reference",
             maxTokens: Int = 2000): DataFrame =
    llmops.Rouge.rougeL(pairs, idCol, candCol, refCol, maxTokens)
  /** BLEU-4 per (candidate, reference) pair (X242, q269): clipped
    * multi-n precisions, brevity penalty, unsmoothed. */
  def bleu(pairs: DataFrame, idCol: String = "doc_id",
           candCol: String = "candidate",
           refCol: String = "reference"): DataFrame =
    llmops.GenEval.bleu(pairs, idCol, candCol, refCol)
  /** chrF2 per (candidate, reference) pair (X242, q270): character
    * n-gram F-score, tokenization-robust. */
  def chrF(pairs: DataFrame, idCol: String = "doc_id",
           candCol: String = "candidate", refCol: String = "reference",
           maxChars: Int = 5000): DataFrame =
    llmops.GenEval.chrF(pairs, idCol, candCol, refCol, maxChars)
  /** Term burstiness / dispersion report (X223, q248): VMR of per-doc
    * counts, zeros in closed form. */
  def burstinessReport(docs: DataFrame, k: Int = 50,
                       minDf: Long = 5): DataFrame =
    llmops.Vocab.burstinessReport(docs, k, minDf)
  def kAnonymityAudit(df: DataFrame, quasiCols: Seq[String],
                      k: Int): DataFrame =
    llmops.Privacy.kAnonymityAudit(df, quasiCols, k)
  /** Heaps'-law vocabulary growth profile + fitted exponent
    * (X196, q223). */
  def heapsProfile(docs: DataFrame): DataFrame =
    llmops.Vocab.heapsProfile(docs)
  /** Log-odds distinctive terms per group, Dirichlet-shrunk z-scores
    * (X197, q225). */
  def distinctiveTerms(docs: DataFrame, byCol: String,
                       k: Int = 5): DataFrame =
    llmops.TextFuncs.distinctiveTerms(docs, byCol, k)
  /** Exact positional phrase search (X198, q224): adjacency joins
    * over term-pruned postings, overlap-counting. */
  def phraseTopK(docs: DataFrame, phrase: Seq[String], k: Int): DataFrame =
    llmops.Phrase.phraseTopK(docs, phrase, k)
  /** Fielded BM25 (BM25F, X190, q217): fields fold into one weighted
    * tf before saturation. */
  def bm25fTopK(docs: DataFrame, fields: Seq[llmops.Bm25.Field],
                terms: Seq[String], k: Int): DataFrame =
    llmops.Bm25.topKFielded(docs, fields, terms, k)
  /** Margin-ordered multi-probe LSH ANN (X191, q218): probe count
    * independent of plane count. */
  def multiProbeTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     planes: Int = 16, nprobe: Int = 4): DataFrame =
    llmops.VectorFuncs.lshMultiProbeTopK(corpus, queries, k, planes,
      nprobe)
  /** Multi-query BM25 in one dataflow: queries (query_id, text) →
    * (query_id, rk, doc_id, n_terms_hit, score). One corpus pass for
    * the union of all query terms (q134). */
  def bm25TopKBatch(docs: DataFrame, queries: DataFrame, k: Int)
      : DataFrame =
    llmops.Bm25.topKBatch(docs, queries, k)
  /** [[bm25TopKBatch]] under a pluggable no-space-script word
    * segmenter (X206) — plug `Segmenter.Dictionary(words)` (or a
    * production segmenter) for real Thai/Lao/Khmer word boundaries;
    * the default char-level behavior is `Segmenter.CharLevel` (q232).
    */
  def bm25TopKBatchSegmented(docs: DataFrame, queries: DataFrame, k: Int,
                             seg: llmops.Segmenter): DataFrame =
    llmops.Bm25.topKBatch(docs, queries, k, seg = seg)
  /** Per-benchmark-question top-k corpus docs with BM25 ≥ minScore —
    * the bulk decontamination-review probe, one job for the whole
    * benchmark. */
  def bm25DecontaminationProbe(corpus: DataFrame, benchmark: DataFrame,
                               k: Int = 10, minScore: Double = 0.0)
      : DataFrame =
    llmops.Bm25.decontaminationProbe(corpus, benchmark, k, minScore)
  /** Persisted lexical index: tokenize once, serve many query batches
    * from bucket-partitioned postings (q136). */
  def writeBm25Index(docs: DataFrame, path: String,
                     nBuckets: Int = 64): Unit =
    llmops.Bm25Index.write(docs, path, nBuckets)
  /** Append new docs to a [[writeBm25Index]] index (additive stats,
    * no rewrite). */
  def appendBm25Index(newDocs: DataFrame, path: String): Unit =
    llmops.Bm25Index.append(newDocs, path)
  /** Multi-query BM25 top-k served from a persisted index — only the
    * probed term buckets are read (q136). */
  def queryBm25Index(s: SparkSession, path: String, queries: DataFrame,
                     k: Int): DataFrame =
    llmops.Bm25Index.topK(s, path, queries, k)
  /** Tombstone-delete docs from a persisted lexical index: slim append,
    * exact stats subtraction at serve via the doclens store (q143). */
  def deleteFromBm25Index(ids: DataFrame, path: String): Unit =
    llmops.Bm25Index.delete(ids, path)
  /** Physically purge tombstoned postings + consolidate bucket files. */
  def compactBm25Index(s: SparkSession, path: String): Unit =
    llmops.Bm25Index.compact(s, path)
  /** Takedown path for a built retrieval index: tombstone a document's
    * chunks out of BOTH serving tiers plus the chunk table — append-
    * only, idempotent; `compactRetrievalIndex` reclaims the space. */
  def deleteRetrievalDocs(s: SparkSession, path: String,
                          docIds: DataFrame): Unit =
    llmops.Retrieval.deleteDocs(s, path, docIds)
  /** Recovery + reclamation: dedupe crash-window chunk rows, purge
    * tombstoned docs, rebuild every artifact from the surviving chunk
    * table with the persisted models. */
  def compactRetrievalIndex(s: SparkSession, path: String): Unit =
    llmops.Retrieval.compact(s, path)
  /** Re-crawl update path: physically replace documents (delete →
    * compact → append — vec_ids are deterministic, so old rows must
    * purge before the new text lands). */
  def upsertRetrievalDocs(docs: DataFrame, path: String): Unit =
    llmops.Retrieval.upsertDocs(docs, path)
  /** Diversified retrieval from a persisted index: over-retrieve
    * fetchK, MMR-keep the k most relevant-but-distinct passages. */
  def searchRetrievalIndexDiverse(s: SparkSession, path: String,
                                  queries: DataFrame, k: Int = 5,
                                  fetchK: Int = 20,
                                  lambda: Double = 0.7): DataFrame =
    llmops.Retrieval.searchDiverse(s, path, queries, k, fetchK,
      lambda = lambda)
  /** Max-sim roll-up of chunk hits to top-k documents (q157). */
  def rollupRetrievalDocs(chunkHits: DataFrame, k: Int): DataFrame =
    llmops.Retrieval.rollupDocs(chunkHits, k)
  /** Document-level index serving: over-retrieve chunks, roll up,
    * keep top-k docs (q157). */
  def searchRetrievalDocs(s: SparkSession, path: String,
                          queries: DataFrame, k: Int = 5,
                          fetchK: Int = 20): DataFrame =
    llmops.Retrieval.searchDocs(s, path, queries, k, fetchK)
  /** Densest query-term snippet per (query, doc) hit (q164). */
  def retrievalSnippets(docs: DataFrame, hits: DataFrame,
                        queries: DataFrame, window: Int = 20): DataFrame =
    llmops.Retrieval.snippets(docs, hits, queries, window)
  /** Per-query recall@k / MRR@k / nDCG@k against a qrels set (q158). */
  def retrievalEvalMetrics(hits: DataFrame, qrels: DataFrame,
                           k: Int): DataFrame =
    llmops.Retrieval.evalMetrics(hits, qrels, k)
  /** One-pass precision/recall/F1 threshold sweep on a fixed grid —
    * classifier calibration without a global sort (q159). */
  def prCurve(scored: DataFrame, labelCol: String = "label",
              probCol: String = "prob", nBins: Int = 100): DataFrame =
    llmops.QualityModel.prCurve(scored, labelCol, probCol, nBins)
  /** c-TF-IDF cluster labels: top-k distinguishing terms per cluster
    * (q160). */
  def clusterTerms(docs: DataFrame, clusterCol: String,
                   k: Int): DataFrame =
    llmops.TextFuncs.clusterTerms(docs, clusterCol, k)
  /** Windowed-co-occurrence PMI collocations over a pruned vocabulary
    * (q166). */
  def pmiPairs(docs: DataFrame, topV: Int = 500, window: Int = 3,
               minCount: Int = 5): DataFrame =
    llmops.TextFuncs.pmiPairs(docs, topV, window, minCount)
  /** Zipf ln-ln OLS over the vocabulary head — slope/intercept/r2
    * corpus-health stats (q168). */
  def zipfFit(docs: DataFrame, topN: Int = 200): DataFrame =
    llmops.TextFuncs.zipfFit(docs, topN)
  /** Char-distribution entropy in bits per doc — repetitive text LOW,
    * binary/base64 spill HIGH, prose ≈ 4–4.5 (q172). */
  def charEntropy(docs: DataFrame): DataFrame =
    llmops.TextFuncs.charEntropy(docs)
  /** One-call corpus data card: volume, dup rate, quality, entropy,
    * language histogram, Zipf fit as one (metric, value) table
    * (q173). */
  def corpusReport(docs: DataFrame, zipfTopN: Int = 200): DataFrame =
    ops.Profiling.corpusReport(docs, zipfTopN)
  /** MMR diversification of a per-query top-N candidate set
    * (Carbonell-Goldstein 1998): greedy lambda*rel - (1-lambda)*maxSim
    * re-rank (q140). */
  def mmrRerank(candidates: DataFrame, k: Int,
                lambda: Double = 0.7): DataFrame =
    llmops.Mmr.rerank(candidates, k, lambda)
  /** RM3 pseudo-relevance-feedback expanded retrieval: base top-k ->
    * relevance model -> weighted rescore (q138). */
  def bm25Rm3TopK(docs: DataFrame, queries: DataFrame, k: Int,
                  fbDocs: Int = 5, fbTerms: Int = 8,
                  origWeight: Double = 0.5): DataFrame =
    llmops.Bm25.rm3TopK(docs, queries, k, fbDocs, fbTerms, origWeight)
  /** Reciprocal-rank fusion of two (query_id, id, rk) rankings (q134);
    * the fusion arithmetic inside `Retrieval.hybridSearch`. */
  def rrfFuse(a: DataFrame, b: DataFrame, k: Int, rrfK: Int = 60,
              queryId: String = "query_id",
              idCol: String = "doc_id"): DataFrame =
    llmops.Retrieval.rrfFuse(a, b, k, rrfK, queryId, idCol)
  /** Rule-based sentence segmentation to array<string> (also SQL:
    * `split_sentences` — distinct from Spark's built-in locale
    * word-tokenizer `sentences`). */
  def splitSentences(text: Column): Column = llmops.Sentences.sentences(text)
  /** Cross-document line boilerplate removal (CCNet/RefinedWeb line
    * dedup): lines verbatim in >= minDocs documents drop everywhere. */
  def dropBoilerplateLines(docs: DataFrame, minDocs: Int = 2): DataFrame =
    llmops.TextFuncs.dropBoilerplateLines(docs, minDocs)
  /** Drop cross-document duplicated spans (Lee et al. 2021, q95). */
  def dropDuplicateSpans(docs: DataFrame, n: Int, minDocs: Int = 2)
      : DataFrame =
    llmops.Dedup.dropDuplicateSpans(docs, n, minDocs)
  /** OPQ top-k: learned-rotation PQ ANN (q94). */
  def opqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              m: Int = 16, codebookK: Int = 16): DataFrame =
    llmops.Opq.opqTopK(corpus, queries, k, m, codebookK)
  /** Top-k hard negatives per query — highest-cosine corpus vectors
    * not in the positives table (q147). */
  def hardNegatives(corpus: DataFrame, queries: DataFrame,
                    positives: DataFrame, k: Int): DataFrame =
    llmops.Mining.hardNegatives(corpus, queries, positives, k)
  /** (query, positive, hard-negative) training triplets: mined
    * negatives round-robin over the query's positives (q147). */
  def contrastiveTriplets(positives: DataFrame,
                          negatives: DataFrame): DataFrame =
    llmops.Mining.contrastiveTriplets(positives, negatives)
  /** Batch gaps-and-islands sessionization of an event log (q148);
    * the declarative twin of the streaming
    * [[streaming.EventStreams.sessionize]]. */
  def sessionize(events: DataFrame, gapMillis: Long): DataFrame =
    ops.Sessionize.sessions(events, gapMillis)
  /** Per-group vocabulary coverage / OOV report against a one-column
    * `token` list (q149). */
  def vocabCoverage(docs: DataFrame, vocab: DataFrame,
                    textCol: Column, groupCol: String): DataFrame =
    llmops.Vocab.coverageStats(docs, vocab, textCol, groupCol)
  /** Cohort retention triangle over an event log (q152). */
  def retentionCohorts(events: DataFrame, periodMillis: Long): DataFrame =
    ops.Cohorts.retention(events, periodMillis)
  /** Per-user strictly-ordered funnel timestamps (q153). */
  def funnelConversions(events: DataFrame, steps: Seq[String]): DataFrame =
    ops.Funnels.conversions(events, steps)
  /** Per-step funnel counts and conversion rates (q153). */
  def funnelSummary(events: DataFrame, steps: Seq[String]): DataFrame =
    ops.Funnels.funnel(events, steps)
  /** Time-to-convert stats per adjacent funnel step (q188). */
  def funnelLags(events: DataFrame, steps: Seq[String]): DataFrame =
    ops.Funnels.conversionLags(events, steps)
  /** Seasonal (same-phase trailing) rate anomalies (q193). */
  def seasonalRateAnomalies(events: DataFrame, bucketMillis: Long,
                            period: Int, lookback: Int = 8,
                            threshold: Double = 3.0): DataFrame =
    ops.Anomaly.seasonalRateAnomalies(events, bucketMillis, period,
      lookback, threshold)
  /** Which benchmark item leaked into which corpus doc (q194). */
  def decontaminationReport(corpus: DataFrame, benchmark: DataFrame,
                            n: Int = 8): DataFrame =
    llmops.Dedup.decontaminationReport(corpus, benchmark, n)
  /** Politeness-interleaved crawl-frontier sort keys (q195). */
  def frontierInterleave(links: DataFrame, hostCol: String = "host",
                         urlCol: String = "url",
                         priorityCol: String = null): DataFrame =
    ops.Frontier.interleaveByHost(links, hostCol, urlCol, priorityCol)
  /** Autocomplete table: per-prefix top-k completions (q196). */
  def prefixCompletions(queries: DataFrame, maxPrefixLen: Int = 10,
                        k: Int = 5): DataFrame =
    llmops.Keywords.prefixCompletions(queries, maxPrefixLen, k)
  /** Top-k ordered session journeys (q197). */
  def topSessionPaths(events: DataFrame, gapMillis: Long,
                      maxLen: Int = 5, k: Int = 10): DataFrame =
    ops.Paths.topSessionPaths(events, gapMillis, maxLen, k)
  /** Pre-join key-skew diagnostic: heavy keys + global stats (q198). */
  def skewReport(df: DataFrame, keyCol: String, k: Int = 10): DataFrame =
    ops.Profiling.skewReport(df, keyCol, k)
  /** Latest-wins CDC apply: fold upserts+deletes into a snapshot
    * (q199). */
  def applyChanges(snapshot: DataFrame, changes: DataFrame,
                   keyCols: Seq[String], tsCol: String,
                   opCol: String = "op"): DataFrame =
    ops.Merge.applyChanges(snapshot, changes, keyCols, tsCol, opCol)
  /** SCD-2 validity intervals from a change log (q154). */
  def scdIntervals(log: DataFrame, keyCol: String, tsCol: String,
                   attrCols: Seq[String]): DataFrame =
    ops.Scd.intervals(log, keyCol, tsCol, attrCols)
  /** Point-in-time dimension lookup against SCD-2 intervals (q162). */
  def scdLookupJoin(facts: DataFrame, intervals: DataFrame,
                    keyCol: String, tsCol: String,
                    attrCols: Seq[String]): DataFrame =
    ops.Scd.lookupJoin(facts, intervals, keyCol, tsCol, attrCols)
  /** Causal trailing-window rate anomalies per event series (q165). */
  def rateAnomalies(events: DataFrame, bucketMillis: Long,
                    lookback: Int = 24,
                    threshold: Double = 3.0): DataFrame =
    ops.Anomaly.rateAnomalies(events, bucketMillis, lookback, threshold)
  /** Robust (trailing median/MAD) rate anomalies — immune to scale
    * masking by a burst inside the lookback (q179). */
  def robustRateAnomalies(events: DataFrame, bucketMillis: Long,
                          lookback: Int = 24,
                          threshold: Double = 3.5): DataFrame =
    ops.Anomaly.robustRateAnomalies(events, bucketMillis, lookback, threshold)
  /** Exact-k weighted sampling without replacement — deterministic
    * Efraimidis-Spirakis exponential race (q155). */
  def weightedSample(docs: DataFrame, weight: Column, k: Int,
                     seed: String): DataFrame =
    llmops.Splits.weightedSample(docs, weight, k, seed)
  /** Exact-k weighted sampling per group — stratified PPS without
    * replacement (q163). */
  def weightedSamplePerGroup(docs: DataFrame, weight: Column, k: Int,
                             seed: String, groupCol: String): DataFrame =
    llmops.Splits.weightedSamplePerGroup(docs, weight, k, seed, groupCol)
  /** Order-free per-bucket content digest — the constant-size
    * corpus-version equality check (q156). */
  def contentDigest(df: DataFrame, cols: Seq[String],
                    nBuckets: Int = 256): DataFrame =
    ops.Profiling.contentDigest(df, cols, nBuckets)
  /** Merge digest tables: digest(A union B) from the halves — the
    * incremental-append property (q161). */
  def mergeDigests(a: DataFrame, b: DataFrame): DataFrame =
    ops.Profiling.mergeDigests(a, b)
  /** Count-Min point-frequency sketch of an item column (q142);
    * query with [[cmEstimate]]. */
  def cmSketch(item: Column, depth: Int = 4, width: Int = 1 << 16): Column =
    llmops.Freq.cmSketch(item, depth, width)
  /** Point-frequency estimate from a [[cmSketch]] array (q142). */
  def cmEstimate(sketch: Column, item: Column,
                 depth: Int = 4, width: Int = 1 << 16): Column =
    llmops.Freq.cmEstimate(sketch, item, depth, width)
  /** Misra-Gries heavy-hitters summary of an item column (q106). */
  def freqItems(item: Column, k: Int): Column =
    llmops.Freq.freqItems(item, k)
  /** KMV bottom-k distinct sketch of a pre-hashed long column (q107). */
  def kmvSketch(hash: Column, k: Int): Column =
    llmops.Freq.kmvSketch(hash, k)
  /** Jaccard estimate from two [[kmvSketch]] arrays (q107). */
  def kmvJaccard(a: Column, b: Column, k: Int): Column =
    llmops.Freq.kmvJaccard(a, b, k)
  /** Mergeable t-digest of a numeric column (q175); query with
    * [[tdigestQuantile]]. */
  def tdigestAgg(value: Column, compression: Int = 100): Column =
    llmops.Quantiles.tdigestAgg(value, compression)
  /** Quantile estimate from a [[tdigestAgg]] digest (q175). */
  def tdigestQuantile(digest: Column, q: Double): Column =
    llmops.Quantiles.tdigestQuantile(digest, q)
  /** Interpolated Kneser-Ney per-doc NLL from a bigram count table
    * (q112); train the table with [[bigramCounts]]. */
  def knPerplexityScores(docs: DataFrame, bigrams: DataFrame,
                         d: Double = 0.75): DataFrame =
    llmops.LangModel.knNllScores(docs, bigrams, d)
  /** Bigram count table over a reference corpus, with KenLM-style
    * count pruning (q112). */
  def bigramCounts(docs: DataFrame, textCol: Column,
                   minCount: Long = 1L): DataFrame =
    llmops.LangModel.bigramCounts(docs, textCol, minCount)
  /** Perceptual 64-bit dHashes of image assets (q113). */
  def imageDHashes(s: SparkSession,
                   assets: org.apache.spark.sql.Dataset[llmops.Multimodal.Asset])
      : DataFrame = llmops.Multimodal.imageDHashes(s, assets)
  /** Image near-dup pairs from [[imageDHashes]] output (q113). */
  def imageNearDupPairs(hashes: DataFrame, maxHamming: Int = 3): DataFrame =
    llmops.Multimodal.imageNearDupPairs(hashes, maxHamming)
  /** Real WAV/PCM per-clip stats (q114). */
  def audioStats(s: SparkSession,
                 assets: org.apache.spark.sql.Dataset[llmops.Multimodal.Asset])
      : DataFrame = llmops.Audio.decodeAudioStats(s, assets).toDF()
  /** 64-bit energy-dHash audio fingerprints (q115). */
  def audioEnergyHashes(s: SparkSession,
                        assets: org.apache.spark.sql.Dataset[llmops.Multimodal.Asset])
      : DataFrame = llmops.Audio.audioEnergyHashes(s, assets)
  /** Audio near-dup pairs from [[audioEnergyHashes]] output (q115). */
  def audioNearDupPairs(hashes: DataFrame, maxHamming: Int = 3): DataFrame =
    llmops.Audio.audioNearDupPairs(hashes, maxHamming)
  /** Exact training-sequence packing: fragment layout rows (q116). */
  def packSequences(docs: DataFrame, seqLen: Int,
                    idCol: String = "doc_id",
                    ntokCol: String = "n_toks"): DataFrame =
    llmops.Packing.packSequences(docs, seqLen, idCol, ntokCol)
  /** Per-sequence fill/doc-start stats over [[packSequences]]. */
  def sequenceStats(fragments: DataFrame): DataFrame =
    llmops.Packing.sequenceStats(fragments)
  /** One-epoch sharded training export: deterministic md5 shuffle into
    * shards, exact per-shard sequence packing, shard-partitioned
    * fragment table + manifest + params under `path` (q144). */
  def exportTrainingShards(docs: DataFrame, path: String, seqLen: Int,
                           nShards: Int = 64,
                           seed: String = "epoch-0"): Unit =
    llmops.TrainExport.writeShards(docs, path, seqLen, nShards, seed)
  /** The fragment table behind [[exportTrainingShards]], unwritten. */
  def epochFragments(docs: DataFrame, seqLen: Int, nShards: Int,
                     seed: String = "epoch-0"): DataFrame =
    llmops.TrainExport.epochFragments(docs, seqLen, nShards, seed)
  /** Takedown blast radius over a written export: every training
    * sequence containing a doomed doc, with exact token masses
    * (q150). */
  def affectedTrainSequences(s: SparkSession, path: String,
                             docIds: DataFrame): DataFrame =
    llmops.TrainExport.affectedSequences(s, path, docIds)
  /** LSH parameter planning: pick (bands, rowsPerBand) for a target
    * Jaccard threshold and hash budget (feeds [[minhashDedup]] &c.). */
  def planLsh(threshold: Double, maxHashes: Int = 128): llmops.LshPlan.Plan =
    llmops.LshPlan.plan(threshold, maxHashes)
  /** Real multi-frame (animated GIF) per-frame stats (q117). */
  def videoFrameStats(s: SparkSession,
                      assets: org.apache.spark.sql.Dataset[llmops.Multimodal.Asset])
      : DataFrame = llmops.Multimodal.decodeVideoFrameStats(s, assets).toDF()
  /** JDK-only PDF text extraction — the reference's actual payload
    * type (q118): distributed, corrupt rows → null text. */
  def pdfText(s: SparkSession,
              assets: org.apache.spark.sql.Dataset[llmops.Multimodal.Asset])
      : DataFrame = llmops.Pdf.extractPdfText(s, assets).toDF()
  /** Column faces of the media decoders (also SQL: `pdf_text`,
    * `image_dhash`, `audio_energy_hash` via GraftExtensions). */
  def pdfTextCol(content: Column): Column =
    llmops.MediaExprs.pdf_text(content)
  def imageDHashCol(content: Column): Column =
    llmops.MediaExprs.image_dhash(content)
  def audioEnergyHashCol(content: Column): Column =
    llmops.MediaExprs.audio_energy_hash(content)
  /** Persist / restore a trained BPE merge list (rank-exact). */
  def saveBpeModel(s: SparkSession, path: String,
                   merges: Seq[(String, String)]): Unit =
    llmops.Models.saveBpe(s, path, merges)
  def loadBpeModel(s: SparkSession, path: String): Seq[(String, String)] =
    llmops.Models.loadBpe(s, path)
  /** Persist / restore a trained unigram-LM vocabulary. */
  def saveUnigramModel(s: SparkSession, path: String,
                       pieces: Seq[(String, Double)]): Unit =
    llmops.Models.saveUnigram(s, path, pieces)
  def loadUnigramModel(s: SparkSession, path: String): Seq[(String, Double)] =
    llmops.Models.loadUnigram(s, path)
  /** Persist / restore the (bands, rows, threshold, shingle) plan a
    * sketch-table pair was built with — required by the incremental
    * dedup split-consistency contract. */
  def saveLshPlan(s: SparkSession, path: String, plan: llmops.LshPlan.Plan,
                  shingleSize: Int = 5): Unit =
    llmops.Models.saveLshPlan(s, path, plan, shingleSize)
  def loadLshPlan(s: SparkSession, path: String): (llmops.LshPlan.Plan, Int) =
    llmops.Models.loadLshPlan(s, path)

  // ---- url / html --------------------------------------------------
  def resolveUrl(href: Column, base: Column): Column =
    expr.UrlFuncs.resolve_url(href, base)
  /** Visited-set canonical URL (also SQL: `canonical_url`). */
  def canonicalUrl(url: Column): Column = expr.UrlFuncs.canonical_url(url)
  def extractLinks(html: Column): Column = graft.html.HtmlFuncs.extract_links(html)
  def cleanHtml(html: Column): Column = graft.html.HtmlFuncs.clean_html(html)

  // ---- unicode normalization (also SQL-registered) -----------------
  /** Unicode NFC — the exact-dedup/token-identity canonical form. */
  def nfcNorm(text: Column): Column = expr.NormFuncs.nfc_norm(text)
  /** Unicode NFKC — the tokenizer-facing compatibility fold. */
  def nfkcNorm(text: Column): Column = expr.NormFuncs.nfkc_norm(text)
  /** Diacritic removal (NFD-strip-NFC; DuckDB `strip_accents` analog). */
  def stripAccents(text: Column): Column = expr.NormFuncs.strip_accents(text)
  /** Control-strip + whitespace-collapse crawl-payload scrub. */
  def cleanText(text: Column): Column = expr.NormFuncs.clean_text(text)
  /** Aho-Corasick one-pass blocklist gate (q167). CASE-SENSITIVE
    * exact substring match — unlike the tokenizers here, nothing is
    * lowercased for you. Pass `lower(text)` and lowercased patterns
    * (what `Corpus.clean(blocklist = …)` does by default) unless the
    * blocklist is deliberately case-sensitive.
    */
  def containsAny(text: Column, patterns: Seq[String]): Column =
    expr.MultiMatch.contains_any(text, patterns)
  /** The distinct blocklist patterns present, in pattern order
    * (q167). Case-sensitive — see [[containsAny]]. */
  def matchedTerms(text: Column, patterns: Seq[String]): Column =
    expr.MultiMatch.matched_terms(text, patterns)

  // ---- crawl policy (robots.txt / sitemaps) ------------------------
  /** RFC 9309 verdict, failing OPEN on a null/missing robots file
    * (§2.3.1.4's unreachable-robots rule). */
  def robotsAllowed(robots: Column, agent: Column, url: Column): Column =
    coalesce(expr.CrawlPolicyFuncs.robots_allowed(robots, agent, url), lit(true))
  /** `Sitemap:` URLs listed in a robots.txt file. */
  def robotsSitemaps(robots: Column): Column =
    expr.CrawlPolicyFuncs.robots_sitemaps(robots)
  /** Matching group's Crawl-delay seconds (null = none declared) —
    * feed to [[graft.services.RateLimiter]] for per-host pacing. */
  def robotsCrawlDelay(robots: Column, agent: Column): Column =
    expr.CrawlPolicyFuncs.robots_crawl_delay(robots, agent)
  /** Generator of sitemap url/sitemap entries. */
  def extractSitemap(xml: Column): Column =
    expr.CrawlPolicyFuncs.extract_sitemap(xml)
}
