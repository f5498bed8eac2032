package graft.llmops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication strategies for document corpora, each designed so the
  * expensive comparison only ever happens inside a small candidate
  * bucket — the pattern that survives 100 TB:
  *
  *  - exact:     hash-groupBy on a content digest (one shuffle of digests)
  *  - minhash:   sketch → LSH band explode → bucket join (no N² scan)
  *  - simhash:   64-bit fingerprint → 16-bit band buckets → Hamming verify
  *  - embedding: random-hyperplane buckets → cosine verify
  */
object Dedup {

  /** Guard against quadratic fan-out in banded self-joins: drop every
    * row belonging to a (band, band_hash) bucket with more than
    * `maxBucket` members. A degenerate bucket (thousands of docs with
    * an identical band hash — boilerplate, empty docs, a template
    * corpus) otherwise produces |bucket|² candidate pairs; capping
    * bounds the join output at maxBucket² per bucket, linear in corpus
    * size. Same mechanism as Winnowing.containmentPairs' stop-
    * fingerprint df-filter. Members of dropped buckets can still pair
    * through their other bands (multi-band OR), and truly identical
    * docs belong to `exact` dedup, not near-dup pair generation.
    * The window count partitions by the same keys the subsequent
    * self-join shuffles on, so Catalyst reuses one exchange.
    */
  /** Prefix of the observed-metric names [[capBuckets]] emits. Every
    * cap site reports (rows_dropped, max_bucket_n, rows_seen) through
    * Spark's `observe` — collected DURING the run by the same job, no
    * second pass — so a production run can SEE what the cap cost
    * (silent candidate-recall loss on adversarial skew is the failure
    * mode). Read them from a `QueryExecutionListener`, or after an
    * action on the result's own plan via [[capDropMetrics]].
    */
  val CapMetricPrefix = "graft.dedup.cap"

  /** Observation names must be unique per query and one query can hold
    * several cap sites (incremental dedup runs two LSH rounds) — a
    * monotonic suffix keeps them distinct. Self-joins reusing ONE
    * capped table are fine: both branches carry the identical node.
    */
  private val capSeq = new java.util.concurrent.atomic.AtomicLong()

  private[llmops] def capBuckets(banded: DataFrame, maxBucket: Int,
                         keys: Seq[String] = Seq("band", "band_hash"))
      : DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
    banded.withColumn("bucket_n", count(lit(1)).over(w))
      .observe(s"$CapMetricPrefix-${capSeq.incrementAndGet()}",
        sum(when(col("bucket_n") > maxBucket, lit(1L)).otherwise(lit(0L)))
          .as("rows_dropped"),
        coalesce(max(col("bucket_n")), lit(0L)).as("max_bucket_n"),
        count(lit(1)).as("rows_seen"))
      .filter(col("bucket_n") <= maxBucket)
      .drop("bucket_n")
  }

  /** The hot-bucket cap metrics observed by the last execution of
    * `df`'s own plan (run `df.collect()`/`.write` first — a derived
    * action like `count()` executes a derived plan and lands its
    * metrics there): metric name → (rows_dropped, max_bucket_n,
    * rows_seen), one entry per cap site in the plan. `rows_dropped`
    * counts BAND rows in over-cap buckets — the exact recall surface
    * the cap traded away; members can still pair through their other
    * bands, so nonzero is a signal to inspect, not an error.
    *
    * CAVEAT — the adversarial-skew blind spot: when the cap empties
    * the candidate stream entirely (every bucket hot), AQE's
    * empty-relation propagation can replace the subtree CONTAINING the
    * CollectMetrics node, and the observed map comes back empty for
    * exactly the run you most wanted to inspect. A suspiciously empty
    * dedup result on skewed data therefore warrants the exact audit:
    * [[capAudit]].
    */
  def capDropMetrics(df: DataFrame): Map[String, (Long, Long, Long)] =
    df.queryExecution.observedMetrics.collect {
      case (name, row) if name.startsWith(CapMetricPrefix) =>
        name -> ((row.getLong(0), row.getLong(1), row.getLong(2)))
    }

  /** Exact hot-bucket cap audit — the X33 profiling shape: one row per
    * OVER-cap (band, band_hash) bucket with its size, under the SAME
    * planned split and sketch parameters [[minhashPairs]] uses, so the
    * audit sees exactly the buckets the pair generator saw. Each
    * returned row represents `bucket_n` band rows the cap dropped
    * whole (`bucket_n²/2` candidate pairs that were never proposed
    * through that band). Run it when a dedup pass over skewed data
    * returns suspiciously few pairs; empty output = the cap cost
    * nothing. One extra slim-row aggregation — deliberately a separate
    * pass, immune to the [[capDropMetrics]] AQE caveat.
    */
  def capAudit(docs: DataFrame, threshold: Double = 0.7,
               bands: Int = 0, rowsPerBand: Int = 0,
               shingleSize: Int = 5, maxBucket: Int = 200,
               idCol: String = "doc_id", textCol: String = "text")
      : DataFrame = {
    val (b, r) = resolveSplit(threshold, bands, rowsPerBand)
    lshBanded(minhashSigs(docs, shingleSize, b * r, idCol, textCol), b, r)
      .groupBy(col("band"), col("band_hash"))
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > maxBucket)
  }

  /** Shared verify tail for the vector pair generators: within-bucket
    * self-join on `keys` over (keys…, id, v) rows, cosine computed
    * map-side and thresholded BEFORE the pair-dedup shuffle. The
    * bucket join necessarily moves each vector once (that is the
    * bucketing); everything downstream carries only slim
    * (id_a, id_b, sim) survivor rows — shuffling vectors to dedup
    * pairs first is strictly worse at scale (measured 2x slower even
    * at sf0.1).
    */
  private def cosineVerifiedPairs(capped: DataFrame, keys: Seq[String],
                                  threshold: Double): DataFrame = {
    val keyCols = keys.map(col)
    val a = capped.select(
      keyCols :+ col("id").as("id_a") :+ col("v").as("v_a"): _*)
    val b = capped.select(
      keyCols :+ col("id").as("id_b") :+ col("v").as("v_b"): _*)
    a.join(b, keys)
      .filter(col("id_a") < col("id_b"))
      .withColumn("sim", VectorFuncs.cosine(col("v_a"), col("v_b")))
      .filter(col("sim") >= threshold)
      .groupBy(col("id_a"), col("id_b"))
      .agg(max(col("sim")).as("sim"))
  }

  /** Resolve the LSH split for a threshold-taking entry point: an
    * explicit (bands, rowsPerBand) override wins; the sentinel
    * (`bands <= 0 && rowsPerBand <= 0`, the default everywhere) derives
    * the split from the threshold via [[LshPlan.plan]], so the S-curve
    * operating point actually matches the `threshold` a caller passes
    * instead of silently staying at the old fixed (16, 8) ≈ 0.71
    * midpoint. The threshold is clamped to [0.05, 0.95] for planning —
    * e.g. an exact-match caller at threshold 1.0 gets the sharpest
    * plannable curve, and recall at s = 1.0 is 1.0 under ANY split.
    * Driver-side closed-form arithmetic; nothing touches data.
    */
  private[llmops] def resolveSplit(threshold: Double, bands: Int,
                                   rowsPerBand: Int): (Int, Int) =
    if (bands > 0 || rowsPerBand > 0) {
      require(bands > 0 && rowsPerBand > 0,
        s"bands=$bands rowsPerBand=$rowsPerBand: override both or neither")
      (bands, rowsPerBand)
    } else {
      val p = LshPlan.plan(math.min(math.max(threshold, 0.05), 0.95))
      (p.bands, p.rowsPerBand)
    }

  /** Pin a frame that feeds multiple plan branches (a signature
    * table, an exact join's prefix or candidate table) so the kernel
    * beneath it runs once per call. Default is
    * `localCheckpoint` — cheap, but the blocks are executor-local and
    * UNREPLICATED: on a real cluster an executor loss fails the job
    * mid-query. Set `spark.graft.dedup.reliableSigs=true` to persist
    * with MEMORY_AND_DISK instead, which keeps lineage and survives
    * executor loss (at the cost of possible re-sketching on a lost
    * partition). At true corpus scale, do neither: write the sig/band
    * tables to storage and run the incremental path
    * ([[incrementalDedup]] consumes exactly those persisted tables).
    */
  private def pinSigs(sigs: DataFrame): DataFrame =
    if (sigs.sparkSession.conf.getOption("spark.graft.dedup.reliableSigs")
          .exists(_.toBoolean))
      sigs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else sigs.localCheckpoint(false)

  /** Spread a slim candidate-pair frame across the cluster before a
    * compute-dense verify. The candidate bytes are tiny (two longs a
    * row), so AQE's parallelism-first coalescing legitimately
    * collapses them onto a few partitions — and then the VERIFY
    * projection (array intersections, banded levenshtein), whose
    * cost is seconds per KB of input, runs on those few cores. An
    * explicit hash repartition pins the verify's parallelism to the
    * cluster (defaultParallelism — scale-adaptive, never a local
    * constant) for the price of one shuffle of the slim pairs; AQE
    * does not coalesce a user-specified repartition, so this holds
    * under any coalescing floor.
    */
  private def spreadPairs(pairs: DataFrame): DataFrame =
    pairs.repartition(
      pairs.sparkSession.sparkContext.defaultParallelism,
      col("id_a"), col("id_b"))


  /** Exact dedup: keep the lowest-id document per identical content
    * (ids are assumed unique — the corpus contract every kernel here
    * shares). Slim-rows shape: ONLY `(id, xxhash64(text), length)`
    * projections ever shuffle on the content-hash key — 16-ish bytes
    * per doc, never the text — and `min(id)` is map-side combinable,
    * so a million-copy boilerplate doc costs its mappers one partial
    * row each instead of landing a million full texts in one
    * partition. The full rows then rejoin the winner-id set with a
    * `left_semi` keyed on the UNIFORM id column, which is where the
    * text pays its single skew-free exchange. (The previous
    * `row_number().over(partitionBy(hash, len))` shape shuffled the
    * complete rows on the duplicate-mass key — the exact skew this
    * rewrite removes; PlanShapeSpec pins that no Exchange below the
    * semi-join carries the text column.)
    */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text")
      : DataFrame = {
    val winners = docs
      .select(col(idCol).as("__xid"),
        xxhash64(col(textCol)).as("__xh"),
        length(col(textCol)).as("__xlen"))
      .groupBy("__xh", "__xlen")
      .agg(min(col("__xid")).as("__xid"))
      .select("__xid")
    docs.join(winners, col(idCol) === col("__xid"), "left_semi")
  }

  /** [[exact]] with a pluggable KEEP POLICY (X232): real pipelines
    * rarely want keep-lowest-id — a recrawled corpus keeps the NEWEST
    * fetch, a quality-scored one the highest-scoring variant. Keeps,
    * per exact-content group, the row maximizing (`orderCol`, id) —
    * or minimizing, with `keepMax = false` — via one struct-max
    * aggregate over slim (digest, order, id) rows (the A2/W2 argmax
    * shape, no window, no second shuffle). Ties on `orderCol` break
    * on the id (max under `keepMax`, min otherwise), so the survivor
    * set is deterministic and rerun-stable. NULL order keys
    * (undated fetches, unscored variants) are normalized to LOSE
    * under BOTH policies — a null is "no evidence", and keep-oldest
    * must not crown an undated fetch over every dated duplicate; a
    * group whose order keys are ALL null falls back to the id
    * tie-break alone.
    */
  def exactKeepBy(docs: DataFrame, orderCol: String,
                  keepMax: Boolean = true, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    // presence flag leads the struct so a null order key sorts to the
    // losing side of max() AND min() alike
    val present =
      if (keepMax) col("__xord").isNotNull.cast("int")
      else col("__xord").isNull.cast("int")
    val key = struct(present.as("__xp"), col("__xord"), col("__xid"))
    val slim = docs
      .select(col(idCol).as("__xid"), col(orderCol).as("__xord"),
        xxhash64(col(textCol)).as("__xh"),
        length(col(textCol)).as("__xlen"))
    val winners = slim
      .groupBy("__xh", "__xlen")
      .agg((if (keepMax) max(key) else min(key)).as("__w"))
      .select(col("__w.__xid").as("__xid"))
    docs.join(winners, col(idCol) === col("__xid"), "left_semi")
  }

  /** MinHash signature table (id, sig) for a document table — the
    * materialized sketch state an incremental pipeline persists
    * alongside the corpus.
    */
  def minhashSigs(docs: DataFrame, shingleSize: Int = 5, numHashes: Int = 128,
                  idCol: String = "doc_id", textCol: String = "text")
      : DataFrame =
    docs.select(col(idCol).as("id"),
      Sketches.minhash_signature(col(textCol), shingleSize, numHashes).as("sig"))

  /** Slim LSH band rows (id, band, band_hash) for a signature table —
    * (id, band, hash) only; shipping the n-long signature with each of
    * `bands` rows would multiply the band shuffle by `bands`.
    */
  def lshBanded(sigs: DataFrame, bands: Int = 16, rowsPerBand: Int = 8)
      : DataFrame =
    sigs.select(col("id"),
      explode(Sketches.lshBands(col("sig"), bands, rowsPerBand)).as("b"))
      .select(col("id"),
        col("b.band").as("band"), col("b.band_hash").as("band_hash"))

  /** Candidate near-duplicate pairs via MinHash + LSH banding.
    * Returns (id_a, id_b, sim) with id_a < id_b and estimated Jaccard
    * ≥ `threshold`. The (bands, rowsPerBand) split is derived from the
    * threshold via [[LshPlan.plan]] by default — the S-curve's 50%
    * catch point lands at ≈ `threshold` (e.g. 0.7 → (14, 9) with
    * midpoint ≈ 0.714; a 0.4 caller gets (32, 4) instead of the old
    * fixed (16, 8) whose ≈ 0.71 midpoint would collapse candidate
    * recall). Pass both explicitly to pin a split (e.g. one matching
    * previously persisted sketch tables); bands×rows is the signature
    * length either way.
    */
  def minhashPairs(docs: DataFrame, threshold: Double = 0.7,
                   bands: Int = 0, rowsPerBand: Int = 0,
                   shingleSize: Int = 5, maxBucket: Int = 200,
                   idCol: String = "doc_id", textCol: String = "text")
      : DataFrame = {
    val (b, r) = resolveSplit(threshold, bands, rowsPerBand)
    val n = b * r
    // sigs feed three branches (bands + both verify joins); checkpoint
    // so the sketch kernel runs once per doc — the sig table is
    // ~1 KB/doc where every recompute is a full text scan
    val sigs = pinSigs(minhashSigs(docs, shingleSize, n, idCol, textCol))
    val banded = capBuckets(lshBanded(sigs, b, r), maxBucket)
    val candidates = banded.select(col("band"), col("band_hash"), col("id").as("id_a"))
      .join(banded.select(col("band"), col("band_hash"), col("id").as("id_b")),
        Seq("band", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    // verification: signatures join back once per side
    candidates
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        Sketches.signatureSim(col("sig_a"), col("sig_b")).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** MinHash dedup: drop every doc that has a near-duplicate with a
    * smaller id (single LSH round — transitive chains collapse to their
    * minimum via the pair relation's lower endpoint, which matches the
    * reference-style "keep first seen" semantics for clusters of
    * near-identical docs).
    */
  def minhashDedup(docs: DataFrame, threshold: Double = 0.7,
                   bands: Int = 0, rowsPerBand: Int = 0,
                   idCol: String = "doc_id", textCol: String = "text")
      : DataFrame = {
    val dupIds = minhashPairs(docs, threshold, bands, rowsPerBand,
      idCol = idCol, textCol = textCol)
      .select(col("id_b").as(idCol)).distinct()
    docs.join(dupIds, Seq(idCol), "left_anti")
  }

  /** SimHash near-duplicate pairs: banded candidate generation, then
    * exact Hamming verification.
    *
    * Default (`wideBands = true`, the corpus-scale configuration): a
    * 128-bit fingerprint with 4×32-bit bands — 2^32 distinct bucket
    * keys, so bucket occupancy stays proportional to real collisions
    * even at billions of documents, and every pair within Hamming
    * distance 3 of 128 still shares a band (pigeonhole). `maxHamming`
    * applies to the 128-bit distance.
    *
    * `wideBands = false` is the small-corpus fast path: 64-bit
    * fingerprint, 4×16-bit bands — half the sketch bytes and hash
    * work, but only 65k distinct buckets exist, so on a large corpus
    * every bucket saturates `maxBucket` and recall collapses; never
    * use it past ~10^5 documents. A 64-bit `maxHamming` is roughly
    * half the 128-bit one for comparable selectivity, which is why the
    * default (`maxHamming = -1`) auto-scales: 3 per 64 fingerprint
    * bits (3 for the 64-bit path, 6 for wide bands).
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = -1, maxBucket: Int = 200,
                   wideBands: Boolean = true,
                   idCol: String = "doc_id", textCol: String = "text")
      : DataFrame = {
    val hammingCap =
      if (maxHamming >= 0) maxHamming
      else if (wideBands) 6 else 3
    if (!wideBands)
      return bandedHammingPairs(
        docs.select(col(idCol).as("id"),
          Sketches.simhash64(col(textCol)).as("fp")),
        hammingCap, maxBucket)
    val (fpCol, bandsOf, hammingOf) =
      (Sketches.simhash128(col(textCol)),
        Sketches.simhash128Bands _,
        Sketches.hamming128 _)
    val fps = docs.select(col(idCol).as("id"), fpCol.as("fp"))
    val banded = capBuckets(fps
      .select(col("id"), col("fp"), explode(bandsOf(col("fp"))).as("b"))
      .select(col("id"), col("fp"),
        col("b.band").as("band"), col("b.band_hash").as("band_hash")),
      maxBucket)
    val a = banded.select(col("band"), col("band_hash"),
      col("id").as("id_a"), col("fp").as("fp_a"))
    val b = banded.select(col("band"), col("band_hash"),
      col("id").as("id_b"), col("fp").as("fp_b"))
    a.join(b, Seq("band", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        hammingOf(col("fp_a"), col("fp_b")).as("hamming"))
      .filter(col("hamming") <= hammingCap)
      .groupBy(col("id_a"), col("id_b"))
      .agg(min(col("hamming")).as("hamming"))
  }

  /** Banded Hamming-neighbor pairs over ANY 64-bit fingerprint frame
    * `fps` = (id, fp) — the fingerprint-agnostic core of
    * [[simhashPairs]], shared with perceptual image hashes
    * ([[Multimodal.imageNearDupPairs]]). 16-bit band buckets (4 per
    * fingerprint, so recall is COMPLETE for `maxHamming` ≤ 3 by
    * pigeonhole), hot-bucket cap against degenerate buckets, exact
    * `bit_count(xor)` verification, pair-dedup via group-min. Only
    * (long, long) rows move — never the payloads the fingerprints
    * summarize.
    */
  def bandedHammingPairs(fps: DataFrame, maxHamming: Int,
                         maxBucket: Int = 200): DataFrame = {
    val banded = capBuckets(fps
      .select(col("id"), col("fp"),
        explode(Sketches.simhashBands(col("fp"))).as("b"))
      .select(col("id"), col("fp"),
        col("b.band").as("band"), col("b.band_hash").as("band_hash")),
      maxBucket)
    val a = banded.select(col("band"), col("band_hash"),
      col("id").as("id_a"), col("fp").as("fp_a"))
    val b = banded.select(col("band"), col("band_hash"),
      col("id").as("id_b"), col("fp").as("fp_b"))
    a.join(b, Seq("band", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        Sketches.hamming64(col("fp_a"), col("fp_b")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .groupBy(col("id_a"), col("id_b"))
      .agg(min(col("hamming")).as("hamming"))
  }

  /** Two-sided banded Hamming pairs over 64-bit fingerprint frames —
    * the [[contaminationPairs]] shape for perceptual hashes: `fpsA`
    * (the large/persisted side, hot buckets capped) joins `fpsB` (the
    * small/incoming side, exempt from the cap) on 16-bit band
    * buckets, exact `bit_count(xor)` verify, group-min pair dedup.
    * Complete for `maxHamming` ≤ 3 by pigeonhole, like
    * [[bandedHammingPairs]]. Returns (id_a, id_b, hamming) with id_a
    * from `fpsA`, id_b from `fpsB` — work is |collisions|, never
    * |A|·|B|, and only (long, long) rows move.
    */
  def bandedHammingPairsAB(fpsA: DataFrame, fpsB: DataFrame,
                           maxHamming: Int, maxBucket: Int = 200)
      : DataFrame = {
    def banded(fps: DataFrame): DataFrame = fps
      .select(col("id"), col("fp"),
        explode(Sketches.simhashBands(col("fp"))).as("b"))
      .select(col("id"), col("fp"),
        col("b.band").as("band"), col("b.band_hash").as("band_hash"))
    val a = capBuckets(banded(fpsA), maxBucket)
      .select(col("band"), col("band_hash"),
        col("id").as("id_a"), col("fp").as("fp_a"))
    val b = banded(fpsB)
      .select(col("band"), col("band_hash"),
        col("id").as("id_b"), col("fp").as("fp_b"))
    a.join(b, Seq("band", "band_hash"))
      .select(col("id_a"), col("id_b"),
        Sketches.hamming64(col("fp_a"), col("fp_b")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .groupBy(col("id_a"), col("id_b"))
      .agg(min(col("hamming")).as("hamming"))
  }

  /** Cross-corpus contamination detection: near-duplicate pairs
    * between a training corpus and a held-out benchmark set (the
    * decontamination step of a training-data pipeline). Same
    * LSH-banded shape as [[minhashPairs]] but two-sided — corpus bands
    * join benchmark bands on (band, band_hash), so the work is
    * |corpus|·|benchmark-collisions|, never |corpus|² — and only the
    * (typically small) benchmark side is exempt from the hot-bucket
    * cap. Returns (corpus_id, bench_id, sim) with estimated Jaccard
    * ≥ `threshold`; anti-join the corpus on corpus_id to decontaminate.
    */
  def contaminationPairs(corpus: DataFrame, benchmark: DataFrame,
                         threshold: Double = 0.7,
                         bands: Int = 0, rowsPerBand: Int = 0,
                         shingleSize: Int = 5, maxBucket: Int = 200,
                         idCol: String = "doc_id", textCol: String = "text")
      : DataFrame = {
    val (b, r) = resolveSplit(threshold, bands, rowsPerBand)
    val n = b * r
    val corpusSigs = pinSigs(minhashSigs(corpus, shingleSize, n, idCol, textCol))
    val benchSigs = pinSigs(minhashSigs(benchmark, shingleSize, n, idCol, textCol))
    val candidates = capBuckets(lshBanded(corpusSigs, b, r), maxBucket)
      .withColumnRenamed("id", "corpus_id")
      .join(lshBanded(benchSigs, b, r)
        .withColumnRenamed("id", "bench_id"),
        Seq("band", "band_hash"))
      .select(col("corpus_id"), col("bench_id"))
      .distinct()
    candidates
      .join(corpusSigs.select(col("id").as("corpus_id"), col("sig").as("sig_a")),
        "corpus_id")
      .join(benchSigs.select(col("id").as("bench_id"), col("sig").as("sig_b")),
        "bench_id")
      .select(col("corpus_id"), col("bench_id"),
        Sketches.signatureSim(col("sig_a"), col("sig_b")).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** Remove from `corpus` every document that near-duplicates a
    * benchmark document (the decontamination step itself): anti-join
    * on [[contaminationPairs]]' corpus endpoints.
    */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
                    threshold: Double = 0.7,
                    idCol: String = "doc_id", textCol: String = "text")
      : DataFrame = {
    val contaminated = contaminationPairs(corpus, benchmark, threshold,
      idCol = idCol, textCol = textCol)
      .select(col("corpus_id").as(idCol)).distinct()
    corpus.join(contaminated, Seq(idCol), "left_anti")
  }

  /** Incremental dedup: clean a DELTA batch against an already-sketched
    * corpus without touching corpus text — the operational pattern for
    * a growing corpus, where re-sketching 100 TB per append is not an
    * option. `corpusBands`/`corpusSigs` are the persisted outputs of
    * [[lshBanded]]/[[minhashSigs]] (slim tables, appended as the corpus
    * grows). The delta's bands join the corpus band table (hot corpus
    * buckets capped, mirroring [[contaminationPairs]]), candidates
    * verify by signature similarity, survivors then minhash-dedupe
    * within the delta itself. Work is |delta|·collisions, never
    * |corpus|.
    *
    * The delta MUST be sketched with the SAME (bands, rowsPerBand,
    * shingleSize) its corpus tables were built with — persist the
    * plan alongside the sketch tables ([[Models.saveLshPlan]]) and
    * pass it back explicitly. The default sentinel re-plans from
    * `threshold`, which matches a corpus sketched by this round's
    * default path at the same threshold; corpus tables persisted under
    * the historical fixed split need `bands = 16, rowsPerBand = 8`.
    */
  def incrementalDedup(delta: DataFrame, corpusBands: DataFrame,
                       corpusSigs: DataFrame, threshold: Double = 0.7,
                       bands: Int = 0, rowsPerBand: Int = 0,
                       shingleSize: Int = 5, maxBucket: Int = 200,
                       idCol: String = "doc_id", textCol: String = "text")
      : DataFrame = {
    val (b, r) = resolveSplit(threshold, bands, rowsPerBand)
    val n = b * r
    // The delta's signatures feed four plan branches (its own bands,
    // the corpus verify, and both sides of the within-delta verify);
    // checkpoint so the sketch kernel runs once per doc — the sig
    // table is ~1 KB/doc where each recompute is a full text scan.
    val dSigs = pinSigs(minhashSigs(delta, shingleSize, n, idCol, textCol))
    val dBands = lshBanded(dSigs, b, r)
    val candidates = capBuckets(corpusBands, maxBucket)
      .withColumnRenamed("id", "corpus_id")
      .join(dBands.withColumnRenamed("id", "delta_id"),
        Seq("band", "band_hash"))
      .select(col("corpus_id"), col("delta_id"))
      .distinct()
    val dupDeltaIds = candidates
      .join(corpusSigs.select(col("id").as("corpus_id"), col("sig").as("sig_a")),
        "corpus_id")
      .join(dSigs.select(col("id").as("delta_id"), col("sig").as("sig_b")),
        "delta_id")
      .filter(Sketches.signatureSim(col("sig_a"), col("sig_b")) >= threshold)
      .select(col("delta_id").as("id"))
      .distinct()
    // phase 2: dedup within the cleaned delta, reusing the checkpointed
    // signatures instead of re-sketching the filtered text
    val cleanSigs = dSigs.join(dupDeltaIds, Seq("id"), "left_anti")
    val banded2 = capBuckets(lshBanded(cleanSigs, b, r), maxBucket)
    val cand2 = banded2.select(col("band"), col("band_hash"), col("id").as("id_a"))
      .join(banded2.select(col("band"), col("band_hash"), col("id").as("id_b")),
        Seq("band", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    val dup2 = cand2
      .join(cleanSigs.select(col("id").as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(cleanSigs.select(col("id").as("id_b"), col("sig").as("sig_b")), "id_b")
      .filter(Sketches.signatureSim(col("sig_a"), col("sig_b")) >= threshold)
      .select(col("id_b"))
      .distinct()
    val dropIds = dupDeltaIds.unionByName(dup2.withColumnRenamed("id_b", "id"))
      .distinct().withColumnRenamed("id", idCol)
    delta.join(dropIds, Seq(idCol), "left_anti")
  }

  /** Exact-match decontamination for the case where the benchmark is
    * too big to broadcast: a bloom of the benchmark's content hashes
    * splits the corpus at the scan, and only the (tiny) suspected
    * slice pays a join. Rows failing the bloom are definitely clean
    * (no false negatives) and pass straight through with zero shuffle;
    * suspects anti-join the benchmark on a 192-bit digest pair
    * (xxhash64+md5 — slim shuffle, text never ships; a combined
    * collision is ~2^-96 per pair, far below any corpus scale).
    *
    * Cost shape: two columnar scans of the corpus plus a shuffle of
    * |suspects| + |benchmark| digests — versus one scan plus a full
    * both-sides shuffle for the plain anti-join. Scans are cheaper
    * than shuffles of the same bytes, and |suspects| ≈ |true matches|
    * + fpp·|corpus|, so this wins whenever the benchmark outgrows the
    * broadcast threshold. (If the benchmark DOES fit in a broadcast,
    * use a plain broadcast anti-join — the bloom adds nothing there.)
    * Result is exactly the plain anti-join on text equality.
    */
  def bloomDecontaminate(corpus: DataFrame, benchmark: DataFrame,
                         textCol: String = "text",
                         expectedItems: Long = 1000000L,
                         fpp: Double = 0.01): DataFrame = {
    import graft.ops.Bloom
    val bytes = Bloom.bloomBytesOf(benchmark, col(textCol), expectedItems, fpp)
    val benchKeys = benchmark.select(
      xxhash64(col(textCol), length(col(textCol))).as("__d1"),
      md5(col(textCol).cast("binary")).as("__d2")).distinct()
    val clean = corpus.filter(!Bloom.mightContain(bytes, col(textCol)))
    val survivors = corpus
      .filter(Bloom.mightContain(bytes, col(textCol)))
      .withColumn("__d1", xxhash64(col(textCol), length(col(textCol))))
      .withColumn("__d2", md5(col(textCol).cast("binary")))
      .join(benchKeys, Seq("__d1", "__d2"), "left_anti")
      .drop("__d1", "__d2")
    clean.unionByName(survivors)
  }

  /** Exact word-n-gram Jaccard pairs within LSH candidates: MinHash
    * banding proposes, exact Jaccard disposes. The exact set compare
    * only runs on bucket-mates.
    *
    * `proposalThreshold` is the CANDIDATE stage's MinHash threshold —
    * deliberately below `threshold` (default 0.75·threshold) because
    * the proposal estimates char-shingle Jaccard while the verify
    * measures word-n-gram Jaccard: the two similarity spaces
    * correlate but differ, and the margin is what keeps true
    * word-gram pairs from being lost to estimator mismatch before
    * the exact compare ever sees them. Lower = more recall, more
    * candidate fan-out (the planned low-threshold split uses short
    * bands — see SCALING.md round 8 on q60's honest cost).
    */
  def ngramJaccardPairs(docs: DataFrame, n: Int = 3, threshold: Double = 0.5,
                        proposalThreshold: Double = Double.NaN,
                        idCol: String = "doc_id", textCol: String = "text")
      : DataFrame = {
    val propose =
      if (proposalThreshold.isNaN) 0.75 * threshold else proposalThreshold
    // candidates feed three consumers (the id-prune plus both verify
    // joins) — pin so the LSH round runs once
    val candidates = pinSigs(minhashPairs(docs, threshold = propose,
      idCol = idCol, textCol = textCol).select(col("id_a"), col("id_b")))
    // the gram kernel only ever runs on candidate-involved docs: the
    // candidate id set is tiny next to the corpus, so semi-joining
    // first means the O(len) shingling + the wide gram arrays exist
    // for ~|candidates| docs, not |corpus| (measured 2x on the bench;
    // at corpus scale it is the difference between materializing
    // n-grams for every document and for the near-dup slice only)
    val candIds = candidates.select(col("id_a").as(idCol))
      .unionByName(candidates.select(col("id_b").as(idCol)))
      .distinct()
    val grams = docs.join(candIds, Seq(idCol), "left_semi")
      .select(col(idCol), TextFuncs.wordNgrams(col(textCol), n).as("grams"))
    spreadPairs(candidates)
      .join(grams.select(col(idCol).as("id_a"), col("grams").as("grams_a")), "id_a")
      .join(grams.select(col(idCol).as("id_b"), col("grams").as("grams_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("grams_a"), col("grams_b"))) /
          size(array_union(col("grams_a"), col("grams_b"))).cast("double"))
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** EXACT set-Jaccard similarity join via prefix filtering
    * (SSJoin, Chaudhuri et al. 2006; PPJoin, Xiao et al. 2008) — the
    * recall-GUARANTEED alternative to the LSH tier (X2/X5): every
    * pair with Jaccard ≥ `threshold` is returned, deterministically.
    * LSH trades recall for cost twice (banding probability, hot-bucket
    * caps — both audited, X82/the capAudit, but still trades); when
    * survivors carry legal or eval-integrity weight, exactness is the
    * requirement and this is the scalable exact shape.
    *
    * The prefix-filter theorem: fix ONE global token order; two sets
    * with Jaccard ≥ t must share at least one token inside each
    * one's first `n − ⌈t·n⌉ + 1` tokens under that order. So:
    * candidates = prefix-token co-occurrence, pruned by the length
    * filter (`t·max(|a|,|b|) ≤ min(|a|,|b|)` — a Jaccard ≥ t pair
    * cannot differ in size by more than 1/t), then ONE exact
    * set-overlap verify per surviving candidate.
    *
    * Scale shape: the global order is RAREST-FIRST, (df asc, term) —
    * computed as a per-doc rank against the (vocab-sized, dimension)
    * df table, never a global window — so prefixes hold each doc's
    * most selective tokens and the candidate self-join fans out on
    * the tokens with the FEWEST documents. The verify joins token
    * ARRAYS only for candidate-involved docs (the q60 semi-join-first
    * move). Honest worst case: a prefix token shared by k docs still
    * contributes O(k²) candidates — exactness forbids a bucket cap
    * (that is precisely the LSH recall cliff this operator exists to
    * avoid), so on adversarial corpora where common tokens reach
    * prefixes (many tiny docs of stopwords), budget the verify or
    * use the LSH tier deliberately.
    *
    * The set representation is the word-`n`-gram shingle set
    * (`TextFuncs.wordNgrams`) — X5's similarity space, so this is the
    * exact-recall counterpart of `ngramJaccardPairs`' LSH
    * propose/verify. n = 1 degrades to plain token sets; prefer
    * n ≥ 2 on small-vocabulary corpora, where token SETS converge
    * (every long doc covers the vocabulary) and a set join is
    * near-all-pairs by the data, not the algorithm.
    *
    * @return (id_a, id_b, jaccard) with jaccard ≥ threshold,
    *         id_a < id_b; docs with empty shingle sets never pair
    */
  def jaccardJoinExact(docs: DataFrame, threshold: Double = 0.7,
                       n: Int = 3,
                       idCol: String = "doc_id", textCol: String = "text")
      : DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      "threshold must be in (0, 1]")
    require(n >= 1, "n must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col(idCol).as("id"),
        explode(TextFuncs.wordNgrams(col(textCol), n)).as("term"))
      .filter(col("term") =!= "")
    val dfTab = toks.groupBy(col("term"))
      .agg(count(lit(1)).as("__df"))
    val wDoc = Window.partitionBy(col("id"))
      .orderBy(col("__df"), col("term"))
    val wN = Window.partitionBy(col("id"))
    // prefix feeds both sides of the self-join, and cand feeds candIds
    // twice plus the verify. Pin both: above a cached input AQE reuses
    // no exchange, so each read would re-run the explode, the df
    // aggregate and the windows beneath it
    val prefix = pinSigs(toks.join(dfTab, Seq("term"))
      .withColumn("__n", count(lit(1)).over(wN))
      .withColumn("__pos", row_number().over(wDoc))
      .filter(col("__pos") <=
        col("__n") - ceil(lit(threshold) * col("__n")) + 1)
      .select(col("id"), col("term"), col("__n")))
    val cand = pinSigs(prefix.select(col("id").as("id_a"), col("term"),
        col("__n").as("__na"))
      .join(prefix.select(col("id").as("id_b"), col("term"),
        col("__n").as("__nb")), Seq("term"))
      .filter(col("id_a") < col("id_b"))
      .filter(greatest(col("__na"), col("__nb")) * threshold <=
        least(col("__na"), col("__nb")))
      .select(col("id_a"), col("id_b"))
      .distinct())
    val candIds = cand.select(col("id_a").as(idCol))
      .unionByName(cand.select(col("id_b").as(idCol)))
      .distinct()
    val sets = docs.join(candIds, Seq(idCol), "left_semi")
      .select(col(idCol),
        TextFuncs.wordNgrams(col(textCol), n).as("set"))
    spreadPairs(cand)
      .join(sets.select(col(idCol).as("id_a"), col("set").as("set_a")),
        "id_a")
      .join(sets.select(col(idCol).as("id_b"), col("set").as("set_b")),
        "id_b")
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("set_a"), col("set_b"))) /
          size(array_union(col("set_a"), col("set_b"))).cast("double"))
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** EXACT set-CONTAINMENT join (X159): every ordered pair where
    * doc a's shingle set is ≥ `threshold` inside doc b's —
    * C(A,B) = |A∩B| / |A|. The asymmetric counterpart of
    * [[jaccardJoinExact]], and a different question: Jaccard finds
    * near-twins; containment finds QUOTES, aggregation/wrapper pages,
    * and template-plus-body reposts, where the contained doc is tiny
    * next to its container and their Jaccard is ~|A|/|B| ≈ 0 — pairs
    * no symmetric join at any usable threshold can return. Feeding
    * dedup policy: keep the container, or keep the original and drop
    * the wrapper — either way the PAIR is the evidence.
    *
    * Prefix filter, one-sided (the containment variant of the SSJoin
    * theorem): if B holds ≥ ⌈t·|A|⌉ of A's elements, then A has at
    * most |A| − ⌈t·|A|⌉ elements outside B, so A's first
    * |A| − ⌈t·|A|⌉ + 1 elements under the global rarest-first order
    * must hit B. Candidates therefore join A-PREFIXES against B's
    * FULL posting list (containment puts no ceiling on |B|, so the
    * container side cannot be prefix-truncated — the inverted-index
    * asymmetry is inherent to the semantics); the only size prune is
    * |B| ≥ t·|A| (the intersection fits inside B). Rarest-first
    * ((df asc, term)) keeps the joined postings short exactly where
    * prefixes land. Exactness forbids bucket caps (the X143
    * contract); the LSH tier remains the deliberate fallback for
    * adversarial corpora.
    *
    * @return (id_a, id_b, containment): id_a's set is ≥ threshold
    *         contained in id_b's, id_a ≠ id_b, BOTH directions
    *         reported independently when both hold; empty sets never
    *         pair
    */
  def containmentJoinExact(docs: DataFrame, threshold: Double = 0.8,
                           n: Int = 3, idCol: String = "doc_id",
                           textCol: String = "text"): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      "threshold must be in (0, 1]")
    require(n >= 1, "n must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col(idCol).as("id"),
        explode(TextFuncs.wordNgrams(col(textCol), n)).as("term"))
      .filter(col("term") =!= "")
    val dfTab = toks.groupBy(col("term")).agg(count(lit(1)).as("__df"))
    val wDoc = Window.partitionBy(col("id"))
      .orderBy(col("__df"), col("term"))
    val wN = Window.partitionBy(col("id"))
    // ranked feeds both the prefix and the postings side, cand feeds
    // candIds twice plus the verify — pinned as in jaccardJoinExact
    val ranked = pinSigs(toks.join(dfTab, Seq("term"))
      .withColumn("__n", count(lit(1)).over(wN))
      .withColumn("__pos", row_number().over(wDoc)))
    val prefix = ranked
      .filter(col("__pos") <=
        col("__n") - ceil(lit(threshold) * col("__n")) + 1)
      .select(col("id").as("id_a"), col("term"), col("__n").as("__na"))
    val postings = ranked
      .select(col("id").as("id_b"), col("term"), col("__n").as("__nb"))
    val cand = pinSigs(prefix.join(postings, Seq("term"))
      .filter(col("id_a") =!= col("id_b"))
      .filter(lit(threshold) * col("__na") <= col("__nb"))
      .select(col("id_a"), col("id_b"))
      .distinct())
    val candIds = cand.select(col("id_a").as(idCol))
      .unionByName(cand.select(col("id_b").as(idCol)))
      .distinct()
    val sets = docs.join(candIds, Seq(idCol), "left_semi")
      .select(col(idCol),
        TextFuncs.wordNgrams(col(textCol), n).as("set"))
    spreadPairs(cand)
      .join(sets.select(col(idCol).as("id_a"), col("set").as("set_a")),
        "id_a")
      .join(sets.select(col(idCol).as("id_b"), col("set").as("set_b")),
        "id_b")
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("set_a"), col("set_b"))) /
          size(col("set_a")).cast("double")).as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** Cross-source duplication matrix (X164): how many EXACT-duplicate
    * document pairs each (source, source) combination holds — the
    * who-copies-whom view that turns X1's corpus-wide dup rate into a
    * curation decision (dedup the mirror source against its origin
    * first; a hot diagonal is boilerplate within one crawl seed).
    *
    * Scale shape: the pair counts come from per-(hash, source)
    * COUNTS, never from materializing pairs — within a source
    * n·(n−1)/2, across sources n_a·n_b, summed over hashes — so a
    * million-copy hash costs one integer multiplication instead of a
    * 10¹²-row join. Output ≤ |sources|² rows; source_a ≤ source_b
    * canonicalizes the symmetric matrix.
    */
  def crossSourceDupMatrix(docs: DataFrame, textCol: String = "text",
                           sourceCol: String = "source"): DataFrame = {
    val cs = docs
      .select(md5(col(textCol)).as("h"), col(sourceCol).as("source"))
      .groupBy(col("h"), col("source")).agg(count(lit(1)).as("n"))
    val a = cs.select(col("h"), col("source").as("source_a"),
      col("n").as("na"))
    val b = cs.select(col("h"), col("source").as("source_b"),
      col("n").as("nb"))
    a.join(b, Seq("h")).filter(col("source_a") <= col("source_b"))
      .select(col("source_a"), col("source_b"),
        when(col("source_a") === col("source_b"),
          (col("na") * (col("na") - 1) / 2).cast("long"))
          .otherwise(col("na") * col("nb")).as("pairs"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(sum(col("pairs")).as("dup_pairs"))
      .filter(col("dup_pairs") > 0)
  }

  /** Edit-distance-verified near-duplicate pairs (SURVEY §2.10 X121):
    * candidate pairs confirmed by NORMALIZED LEVENSHTEIN similarity,
    * `1 − dist / max(len_a, len_b)` — the strictest practical near-dup
    * confirmation: Jaccard (set) and n-gram (bag) similarity are blind
    * to ORDER, so a doc and its sentence-shuffled twin score high
    * under both while edit similarity correctly collapses; small
    * in-place edits (the true near-dup case) survive all three. Use it
    * as the final verify stage when survivors feed dedup decisions
    * with legal or eval-integrity weight.
    *
    * RECALL CONTRACT — this is a VERIFY stage, exact only over its
    * candidate set: with the default (`candidates = null`) the pairs
    * come from a MinHash round at `proposalThreshold` (default
    * `0.75 · threshold` — a heuristic: Jaccard and edit similarity
    * are different scales, and a pair whose edits are DISPERSED —
    * one substituted char every few words — can hold a high edit
    * similarity while its shingle Jaccard collapses below any useful
    * proposal threshold, so such pairs are NOT proposed). When recall
    * beyond shingle-Jaccard proposals matters, pass `candidates`
    * explicitly — any (id_a, id_b) frame: a lower-threshold LSH
    * round, SimHash bands, embedding buckets, or a domain pairing —
    * and the verify is exact over exactly that set.
    *
    * Scale shape: candidates come from the planned-split LSH round
    * (bounded buckets, slim band rows), texts join only for
    * candidate-involved docs (semi-join first — the q60 move), and
    * the O(len²) kernel runs banded: Spark's thresholded
    * `levenshtein(l, r, cap)` abandons a pair the moment its distance
    * exceeds `cap = ⌈(1−threshold)·maxChars⌉` (returning −1, which is
    * below every keepable distance by construction), so each verify
    * costs O(maxChars·cap), not O(maxChars²). Similarity is measured
    * on the first `maxChars` chars — the caller's honesty knob for
    * multi-MB documents.
    *
    * @param candidates optional (id_a, id_b) pairs to verify; null →
    *                   propose via MinHash LSH at `proposalThreshold`.
    *                   Evaluated once per consumer — pin (cache /
    *                   localCheckpoint) frames that are expensive to
    *                   recompute.
    * @return (id_a, id_b, edit_sim) with edit_sim ≥ threshold
    */
  def editSimilarityPairs(docs: DataFrame, threshold: Double = 0.8,
                          proposalThreshold: Double = Double.NaN,
                          maxChars: Int = 2000,
                          candidates: DataFrame = null,
                          idCol: String = "doc_id",
                          textCol: String = "text"): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      "threshold must be in (0, 1]")
    val propose =
      if (proposalThreshold.isNaN) 0.75 * threshold else proposalThreshold
    val cands =
      if (candidates != null) candidates.select(col("id_a"), col("id_b"))
      else pinSigs(minhashPairs(docs, threshold = propose,
        idCol = idCol, textCol = textCol).select(col("id_a"), col("id_b")))
    val candIds = cands.select(col("id_a").as(idCol))
      .unionByName(cands.select(col("id_b").as(idCol)))
      .distinct()
    val heads = docs.join(candIds, Seq(idCol), "left_semi")
      .select(col(idCol), substring(col(textCol), 1, maxChars).as("h"))
    val cap = math.ceil((1.0 - threshold) * maxChars).toInt
    spreadPairs(cands)
      .join(heads.select(col(idCol).as("id_a"), col("h").as("h_a")), "id_a")
      .join(heads.select(col(idCol).as("id_b"), col("h").as("h_b")), "id_b")
      .withColumn("__ld", levenshtein(col("h_a"), col("h_b"), cap))
      .filter(col("__ld") >= 0)
      .select(col("id_a"), col("id_b"),
        (lit(1.0) - col("__ld").cast("double") /
          greatest(length(col("h_a")), length(col("h_b")), lit(1))
            .cast("double")).as("edit_sim"))
      .filter(col("edit_sim") >= threshold)
  }

  /** N-gram-overlap decontamination (the GPT-3-report method): a
    * corpus document is contaminated when it shares ANY word n-gram
    * (default n = 8) with any benchmark document — stricter than
    * exact-match decontam, cheaper and more predictable than LSH
    * similarity. Returns the surviving corpus rows.
    *
    * Scale shape: the benchmark's distinct gram set is tiny next to
    * the corpus (benchmarks are thousands of docs), so it broadcasts
    * and the corpus side is a narrow explode → broadcast semi-join —
    * no corpus shuffle at all. The join key is the 8-byte gram hash
    * with the gram string as residual equality (collision-proof);
    * only matching ids (a tiny set) reach the final anti-join. For a
    * benchmark too big to broadcast, split at the scan with a gram
    * bloom first (the [[bloomDecontaminate]] pattern).
    */
  def ngramDecontaminate(corpus: DataFrame, benchmark: DataFrame,
                         n: Int = 8,
                         idCol: String = "doc_id", textCol: String = "text")
      : DataFrame = {
    val benchGrams = benchmark
      .select(explode(TextFuncs.wordNgrams(col(textCol), n)).as("g"))
      .distinct()
      .select(xxhash64(col("g")).as("bgh"), col("g").as("bg"))
    val contaminated = corpus
      .select(col(idCol),
        explode(TextFuncs.wordNgrams(col(textCol), n)).as("g"))
      .withColumn("gh", xxhash64(col("g")))
      .join(broadcast(benchGrams),
        col("gh") === col("bgh") && col("g") === col("bg"), "left_semi")
      .select(col(idCol)).distinct()
    corpus.join(contaminated, Seq(idCol), "left_anti")
  }

  /** Cross-source DISTINCT-text overlap matrix (X176): exact Jaccard
    * between every pair of sources' text sets — the companion of
    * [[crossSourceDupMatrix]] asking a different question: the PAIR
    * matrix weights by copy multiplicity (hot boilerplate dominates),
    * this one asks "how much of source A's distinct content also
    * exists in B" — the mirror-detection / source-redundancy signal
    * that decides whether ingesting B adds anything at all.
    *
    * Exact without sketches, and still scale-safe: after the
    * per-(hash, source) distinct, a hash carries ≤ |sources| rows, so
    * the self-join fan-out per hash is ≤ |sources|² — bounded by the
    * fleet, not the corpus; union sizes come from per-source distinct
    * counts and |A∪B| = n_a + n_b − i. (The KMV sketch tier, X70,
    * remains the answer when SOURCES are data-scaled, e.g. per-host.)
    *
    * @return (source_a, source_b, n_a, n_b, n_common, jaccard),
    *         source_a < source_b, only pairs with n_common > 0
    */
  def crossSourceOverlapMatrix(docs: DataFrame,
                               textCol: String = "text",
                               sourceCol: String = "source")
      : DataFrame = {
    val hs = docs
      .select(md5(col(textCol)).as("h"), col(sourceCol).as("source"))
      .distinct()
    val totals = hs.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val inter = hs.select(col("h"), col("source").as("source_a"))
      .join(hs.select(col("h"), col("source").as("source_b")), Seq("h"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_common"))
    inter
      .join(totals.select(col("source").as("source_a"),
        col("n").as("n_a")), "source_a")
      .join(totals.select(col("source").as("source_b"),
        col("n").as("n_b")), "source_b")
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        col("n_common"),
        (col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common"))).as("jaccard"))
  }

  /** Decontamination EVIDENCE report (X167): which benchmark item
    * leaked into which corpus document, with how many shared n-grams
    * and a concrete example gram — the audit trail behind
    * [[ngramDecontaminate]]'s silent drop. Dropping contaminated docs
    * is the pipeline action; showing WHY each doc dropped (and which
    * eval items are compromised how widely) is the eval-integrity
    * review, takedown-style: X120 answers "which shards carry this
    * doc", this answers "which eval rows does this doc poison".
    *
    * @return (idCol, bench_id, n_shared, example_gram): one row per
    *         contaminated (corpus doc, benchmark item) pair;
    *         n_shared counts DISTINCT shared n-grams, example_gram
    *         is the lexicographically first (deterministic).
    *
    * Scale shape: benchmark grams broadcast with their bench ids
    * (benchmarks are small by definition — the X6 contract); corpus
    * grams stream once through the broadcast-hash join, and the
    * aggregation output is bounded by true contamination, not the
    * corpus. DISTINCT grams per side so a gram repeated inside one
    * doc doesn't inflate the evidence count.
    */
  def decontaminationReport(corpus: DataFrame, benchmark: DataFrame,
                            n: Int = 8, idCol: String = "doc_id",
                            benchIdCol: String = "bench_id",
                            textCol: String = "text"): DataFrame = {
    val benchGrams = benchmark
      .select(col(benchIdCol).as("bench_id"),
        explode(TextFuncs.wordNgrams(col(textCol), n)).as("g"))
      .distinct()
    val corpusGrams = corpus
      .select(col(idCol),
        explode(TextFuncs.wordNgrams(col(textCol), n)).as("g"))
      .distinct()
    corpusGrams.join(broadcast(benchGrams), Seq("g"))
      .groupBy(col(idCol), col("bench_id"))
      .agg(count(lit(1)).as("n_shared"),
        min(col("g")).as("example_gram"))
  }

  /** N-gram novelty scores — the graded form of
    * [[ngramDecontaminate]]'s boolean verdict: per corpus document,
    * the fraction of its DISTINCT word n-grams absent from the
    * reference corpus. 1.0 = fully novel text; 0.0 = every n-gram
    * already exists verbatim in the reference — the memorization /
    * near-copy signal behind dedup-threshold tuning and eval-set
    * hygiene (Lee et al. 2021's overlap analyses, as a per-doc
    * column). Returns (idCol, n_grams, novelty); a document with
    * fewer than n words contributes its whole text as ONE short gram
    * (the [[TextFuncs.wordNgrams]] kernel contract, same as
    * [[ngramDecontaminate]]), so every document scores.
    *
    * Scale shape: the reference gram set broadcasts (hash + residual
    * string equality, collision-proof); corpus grams are slim
    * (id, gram) rows deduped per doc before the join. For a reference
    * too big to broadcast, pre-split the corpus with a gram bloom
    * first (the [[bloomDecontaminate]] pattern) and score only the
    * possibly-overlapping remainder — misses are novelty 1 by
    * construction.
    */
  def ngramNoveltyScores(corpus: DataFrame, reference: DataFrame,
                         n: Int = 8, idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame = {
    val refGrams = reference
      .select(explode(TextFuncs.wordNgrams(col(textCol), n)).as("g"))
      .distinct()
      .select(xxhash64(col("g")).as("rgh"), col("g").as("rg"))
    // wordNgrams already emits DISTINCT grams per document (the
    // kernel's LinkedHashSet) and doc ids are unique, so the exploded
    // rows are unique as-is — a distinct() here would shuffle the
    // whole corpus gram table for nothing
    corpus
      .select(col(idCol),
        explode(TextFuncs.wordNgrams(col(textCol), n)).as("g"))
      .withColumn("gh", xxhash64(col("g")))
      .join(broadcast(refGrams),
        col("gh") === col("rgh") && col("g") === col("rg"), "left_outer")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("rg").isNull, 1L).otherwise(0L)).as("novel"))
      .select(col(idCol), col("n_grams"),
        (col("novel").cast("double") / col("n_grams")).as("novelty"))
  }

  /** Embedding-cosine near-duplicate pairs within random-hyperplane
    * buckets (near-identical vectors land in the same bucket with high
    * probability; multi-band OR raises recall).
    */
  def embeddingPairs(vecs: DataFrame, threshold: Double = 0.95,
                     planes: Int = 8, bandsOfPlanes: Int = 4,
                     maxBucket: Int = 200,
                     idCol: String = "vec_id", vecCol: String = "embedding")
      : DataFrame = {
    val banded = capBuckets(vecs.select(
      col(idCol).as("id"), col(vecCol).as("v"),
      explode(array((0 until bandsOfPlanes).map(bd =>
        struct(lit(bd).as("band"),
          VectorFuncs.rhpBucket(col(vecCol), planes, seed = 42L + bd)
            .as("band_hash"))): _*)).as("b"))
      .select(col("id"), col("v"),
        col("b.band").as("band"), col("b.band_hash").as("band_hash")),
      maxBucket)
    cosineVerifiedPairs(banded, Seq("band", "band_hash"), threshold)
  }

  /** Embedding near-duplicate pairs within IVF cluster lists — the
    * semantic-bucketing alternative to [[embeddingPairs]]: a coarse
    * quantizer ([[Ivf]] sample or Lloyd-refined centroids) assigns
    * each vector to its `nprobe` nearest lists and only list-mates are
    * compared. Random hyperplanes are data-blind; the quantizer adapts
    * to the corpus's cluster structure, so near-dups concentrate in
    * far fewer buckets. `nprobe > 1` is the multi-band OR analog — a
    * pair straddling a list boundary still meets in a runner-up list.
    * Same scale discipline as every banded generator here: the
    * list-size cap bounds the self-join output, each vector shuffles
    * exactly once (into its lists), and the pair-dedup shuffle carries
    * only slim (id_a, id_b, sim) survivor rows.
    *
    * Sizing rule (measured in SCALING.md): scale `nlist ∝ corpus
    * size` so list occupancy ≈ nprobe·n/nlist stays below `maxList` —
    * a small-corpus nlist on a big corpus pushes EVERY list over the
    * cap, and since the cap drops whole lists (never compares them),
    * the result is silent recall collapse (zero pairs), not slowness.
    * At corpus scale where n·nlist assignment cost bites, train a
    * hierarchical quantizer externally and pass its flattened leaves
    * via [[semanticPairsWithCentroids]].
    */
  def semanticPairs(vecs: DataFrame, threshold: Double = 0.95,
                    nlist: Int = 16, nprobe: Int = 2, kmeansIters: Int = 0,
                    maxList: Int = 200,
                    idCol: String = "vec_id", vecCol: String = "embedding")
      : DataFrame = {
    val cents =
      if (kmeansIters > 0)
        Ivf.kmeansCentroids(vecs, nlist, kmeansIters, idCol, vecCol)
      else Ivf.sampleCentroids(vecs, nlist, idCol, vecCol)
    semanticPairsWithCentroids(vecs, threshold, cents, nprobe, maxList,
      idCol, vecCol)
  }

  /** [[semanticPairs]] over the two-level IMI product quantizer
    * ([[Ivf.imiCentroids]]): k² product lists from 2·k·(dim/2)
    * assignment flops per vector, each vector entering its p²
    * crossed probe lists. The corpus-scale form of the same
    * operator — flat assignment cost is n·nlist·dim, IMI's is
    * n·2·√nlist·(dim/2) at equal list count — with the identical
    * capped-self-join + map-side-verify tail, so the [[semanticPairs]]
    * sizing rule carries over with k² in place of nlist.
    */
  def semanticPairsImi(vecs: DataFrame, threshold: Double = 0.95,
                       k: Int = 8, p: Int = 2, kmeansIters: Int = 0,
                       maxList: Int = 200,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    val (c1, c2) = Ivf.imiCentroids(vecs, k, kmeansIters, idCol, vecCol)
    semanticPairsImiWithCentroids(vecs, threshold, c1, c2, p, maxList,
      idCol, vecCol)
  }

  /** [[semanticPairsImi]] with pre-trained half-codebooks (the
    * train-once seam, mirroring [[semanticPairsWithCentroids]]).
    */
  def semanticPairsImiWithCentroids(vecs: DataFrame, threshold: Double,
                                    cents1: Array[Array[Float]],
                                    cents2: Array[Array[Float]],
                                    p: Int = 2, maxList: Int = 200,
                                    idCol: String = "vec_id",
                                    vecCol: String = "embedding")
      : DataFrame = {
    val capped = capBuckets(
      vecs.select(
        col(idCol).as("id"), col(vecCol).as("v"),
        explode(Ivf.imiLists(col(vecCol), cents1, cents2, p))
          .as("list_id")),
      maxList, keys = Seq("list_id"))
    cosineVerifiedPairs(capped, Seq("list_id"), threshold)
  }

  /** [[semanticPairs]] with pre-trained centroids, so a caller (or the
    * oracle contract) can share one training run across the assignment
    * dump and the pair stage.
    */
  def semanticPairsWithCentroids(vecs: DataFrame, threshold: Double,
                                 centroids: Array[Array[Float]],
                                 nprobe: Int = 2, maxList: Int = 200,
                                 idCol: String = "vec_id",
                                 vecCol: String = "embedding")
      : DataFrame = {
    val capped = capBuckets(
      vecs.select(
        col(idCol).as("id"), col(vecCol).as("v"),
        explode(Ivf.nearest_centroids(col(vecCol), centroids, nprobe))
          .as("list_id")),
      maxList, keys = Seq("list_id"))
    cosineVerifiedPairs(capped, Seq("list_id"), threshold)
  }

  /** Positioned duplicated-span occurrences — the shared core of
    * [[duplicateSpanStats]] / [[dropDuplicateSpans]] (Lee et al. 2021,
    * "Deduplicating Training Data Makes Language Models Better":
    * duplication lives at SPAN granularity — boilerplate, licenses,
    * quoted passages — inside documents that are not near-duplicates
    * as wholes, so doc-level MinHash never sees it). A span is a word
    * `n`-gram occurring in ≥ `minDocs` distinct documents.
    *
    * Scale shape: each document explodes to (id, pos, 16-hex-char
    * gram hash) — the text itself never shuffles. The global
    * duplicated-gram set is one count-distinct aggregation over those
    * slim rows (map-side partial on the gram hash), and occurrences
    * rejoin it on the hash — both sides narrow, both partitioned by
    * the same key. Nothing is quadratic: cost is O(total tokens) rows
    * through one aggregation and one equi-join. (The reference
    * achieves span dedup with a suffix array over the concatenated
    * corpus — a global sort unavailable at 100 TB; fixed-width gram
    * hashing is the standard distributed approximation.)
    *
    * The gram stream feeds BOTH the duplicate-gram aggregation and
    * the probe side of the join back, so it is localCheckpoint-ed:
    * without it Spark recomputes the tokenize+posexplode scan — the
    * most expensive stage of span dedup — once per consumer, doubling
    * the corpus read at scale. The checkpoint holds only the slim
    * (id, nt, pos, 16-hex-char) rows, never the text.
    */
  private def dupSpanOccurrences(docs: DataFrame, n: Int, minDocs: Int,
                                 idCol: String, textCol: String)
      : DataFrame = {
    require(n >= 1, s"span length n=$n must be >= 1")
    val occ = docs
      .select(col(idCol), TextFuncs.tokens(col(textCol)).as("__toks"))
      .withColumn("__nt", size(col("__toks")))
      // sequence(1, x) with x < 1 runs DESCENDING — guard short docs out
      .filter(col("__nt") >= n)
      .select(col(idCol), col("__nt"),
        posexplode(transform(
          sequence(lit(1), col("__nt") - (n - 1)),
          i => substring(md5(concat_ws(" ", slice(col("__toks"), i, lit(n)))),
            1, 16))).as(Seq("__pos", "__gh")))
      .localCheckpoint()
    val dup = occ.groupBy(col("__gh"))
      .agg(countDistinct(col(idCol)).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select(col("__gh"))
    occ.join(dup, "__gh")
  }

  /** Per-document duplicated-span coverage: how many word positions
    * sit inside at least one cross-document repeated `n`-gram. Returns
    * one row per document that contains any such span:
    * (id, n_tokens, dup_grams, dup_tokens, dup_frac) where dup_grams
    * counts repeated-gram occurrences (distinct start positions) and
    * dup_tokens counts distinct covered token positions — overlapping
    * spans are unioned, not double-counted.
    */
  def duplicateSpanStats(docs: DataFrame, n: Int = 8, minDocs: Int = 2,
                         idCol: String = "doc_id", textCol: String = "text")
      : DataFrame = {
    // (id, __pos) is UNIQUE here by construction — posexplode emits
    // each position once per doc and the dup-gram join matches each
    // against one distinct hash row — so dup_grams is a plain count,
    // and splitting the two aggregates removes the two-countDistinct
    // Expand (which doubled the already n×-exploded position stream
    // through the shuffle). Both aggs shuffle slim (id, long) rows by
    // the same key; the join is per-doc rows only.
    val occ = dupSpanOccurrences(docs, n, minDocs, idCol, textCol)
    val grams = occ.groupBy(col(idCol))
      .agg(first(col("__nt")).as("n_tokens"),
        count(lit(1)).as("dup_grams"))
    val toks = occ
      .select(col(idCol),
        explode(sequence(col("__pos"), col("__pos") + (n - 1))).as("__p"))
      .groupBy(col(idCol))
      .agg(countDistinct(col("__p")).as("dup_tokens"))
    grams.join(toks, Seq(idCol))
      .withColumn("dup_frac",
        col("dup_tokens") / col("n_tokens").cast("double"))
  }

  /** Remove duplicated spans from the corpus text (the Lee et al.
    * transform): every token position covered by a ≥`minDocs`-document
    * repeated `n`-gram is dropped and the survivors are re-joined with
    * single spaces. Documents with no repeated span (including those
    * shorter than `n` tokens) pass through with text untouched modulo
    * the shared lowercase/trim tokenizer. The covered-position set is
    * per-document bounded (≤ token count), so the collect_set buffer
    * never exceeds one document's length — no global state.
    *
    * The survivor computation is LINEAR in document length:
    * `array_except(all positions, covered)` is one hash-set pass over
    * both arrays (order-preserving on the first), vs the quadratic
    * `filter(toks, i -> !array_contains(cov, i))` formulation whose
    * membership scan made a fully-duplicated long document
    * O(tokens × covered).
    */
  def dropDuplicateSpans(docs: DataFrame, n: Int = 8, minDocs: Int = 2,
                         idCol: String = "doc_id", textCol: String = "text")
      : DataFrame = {
    val covered = dupSpanOccurrences(docs, n, minDocs, idCol, textCol)
      .select(col(idCol),
        explode(sequence(col("__pos"), col("__pos") + (n - 1))).as("__p"))
      .groupBy(col(idCol))
      .agg(collect_set(col("__p")).as("__cov"))
    val toks = TextFuncs.tokens(col(textCol))
    docs.join(covered, Seq(idCol), "left")
      .withColumn(textCol,
        when(col("__cov").isNull, col(textCol))
          .otherwise(concat_ws(" ",
            transform(
              array_except(sequence(lit(0), size(toks) - 1), col("__cov")),
              p => element_at(toks, p + 1)))))
      .drop("__cov")
  }

  /** Semantic (embedding-space) decontamination (X192): drop every
    * corpus vector with cosine ≥ `threshold` to ANY benchmark vector —
    * the third decontamination axis after exact/n-gram (X6/X35,
    * surface overlap) and bloom (X6, membership): paraphrased or
    * translated eval leakage shares no n-grams but sits next to the
    * benchmark in embedding space. IVF-bucketed, asymmetric (the IVF
    * SEARCH shape, not the pair-join shape): centroids train on the
    * corpus, each corpus vector indexes into its ONE nearest list,
    * each benchmark vector probes `nprobe` lists — the benchmark is
    * the small side, so probe fan-out multiplies the small table.
    * NO bucket caps: decontamination is a recall obligation (a capped
    * list is leaked eval data), the X6 contract; recall beyond the
    * probed lists is the nprobe knob, auditable like q89.
    *
    * @return (kept corpus rows, evidence): evidence =
    *         (corpus id, benchmark id, sim) per contaminated pair —
    *         the takedown receipt, q194's shape
    */
  def semanticDecontaminate(corpus: DataFrame, benchmark: DataFrame,
                            threshold: Double = 0.95, nlist: Int = 16,
                            nprobe: Int = 2, kmeansIters: Int = 0,
                            idCol: String = "vec_id",
                            vecCol: String = "embedding")
      : (DataFrame, DataFrame) = {
    val cents =
      if (kmeansIters > 0)
        Ivf.kmeansCentroids(corpus, nlist, kmeansIters, idCol, vecCol)
      else Ivf.sampleCentroids(corpus, nlist, idCol, vecCol)
    val evidence = semanticContaminationEvidence(corpus, benchmark,
      threshold, cents, nprobe, idCol, vecCol)
    val doomed = evidence.select(col("corpus_id").as(idCol)).distinct()
    (corpus.join(doomed, Seq(idCol), "left_anti"), evidence)
  }

  /** The evidence half of [[semanticDecontaminate]] with explicit
    * centroids (the dump-and-replay seam the oracle uses).
    */
  def semanticContaminationEvidence(corpus: DataFrame, benchmark: DataFrame,
                                    threshold: Double,
                                    centroids: Array[Array[Float]],
                                    nprobe: Int = 2,
                                    idCol: String = "vec_id",
                                    vecCol: String = "embedding")
      : DataFrame = {
    val cb = corpus.where(col(vecCol).isNotNull).select(
      col(idCol).as("corpus_id"), col(vecCol).as("__cv"),
      element_at(Ivf.nearest_centroids(col(vecCol), centroids, 1), 1)
        .as("list_id"))
    val qb = benchmark.where(col(vecCol).isNotNull).select(
        col(idCol).as("bench_id"), col(vecCol).as("__bv"),
        explode(Ivf.nearest_centroids(col(vecCol), centroids, nprobe))
          .as("list_id"))
    cb.join(broadcast(qb), Seq("list_id"))
      .select(col("corpus_id"), col("bench_id"),
        VectorFuncs.cosine(col("__cv"), col("__bv")).as("sim"))
      .filter(col("sim") >= threshold)
      .select(col("corpus_id"), col("bench_id"),
        round(col("sim"), 4).as("sim"))
  }

  /** LSH recall audit (X188): measure the LSH tier's REALIZED recall
    * against the exact tier's ground truth in the SAME similarity
    * space (word-n-gram Jaccard — [[ngramJaccardPairs]] vs
    * [[jaccardJoinExact]]), on the corpus it will actually run over.
    * [[LshPlan]] predicts recall from the S-curve under a uniformity
    * assumption; hot-bucket caps, signature noise at the proposal
    * stage, and skewed shingle distributions all eat into it — this
    * audit is the measurement that says whether the planned tier is
    * delivering, the number a "we deduped at threshold t" claim
    * should cite. Run it on a sample slice before committing the
    * full corpus to the LSH tier (the exact side is the expensive
    * one; that cost profile is q171's).
    *
    * `expected_recall` is the S-curve average over the true pairs —
    * Σ P(sim_i) / n_exact at the proposal stage's (b, r) split —
    * so observed-vs-expected separates "the plan was optimistic"
    * (observed ≈ expected, both low: re-plan the threshold) from
    * "the corpus broke an assumption" (observed ≪ expected: look at
    * bucket caps / skew).
    *
    * @param lshPairs the LSH tier's output for the same docs —
    *        (id_a, id_b, …) with id_a < id_b, as
    *        [[ngramJaccardPairs]] returns
    * @return one row: (n_exact, n_lsh, n_common, recall, precision,
    *         expected_recall) — recall/precision vs exact ground
    *         truth, 4dp; empty ground truth reports recall 1.0
    *         (nothing to miss)
    */
  def lshRecallAudit(docs: DataFrame, lshPairs: DataFrame,
                     threshold: Double = 0.5, n: Int = 3,
                     idCol: String = "doc_id", textCol: String = "text")
      : DataFrame = {
    // both sides feed two aggregates below — pin so the exact join
    // and the caller's LSH pipeline each run once
    val exact = jaccardJoinExact(docs, threshold, n, idCol, textCol)
      .select(col("id_a"), col("id_b"), col("jaccard"))
      .localCheckpoint(false)
    val lsh = lshPairs.select(col("id_a"), col("id_b"))
      .localCheckpoint(false)
    // proposal stage split: ngramJaccardPairs proposes at 0.75·t
    val (b, r) = resolveSplit(0.75 * threshold, 0, 0)
    val scurve = lit(1.0) -
      pow(lit(1.0) - pow(col("jaccard"), lit(r.toDouble)),
        lit(b.toDouble))
    val ex = exact.agg(count(lit(1)).as("n_exact"),
      coalesce(sum(scurve), lit(0.0)).as("__exp"))
    val hits = exact.join(lsh, Seq("id_a", "id_b"), "left_semi")
      .agg(count(lit(1)).as("n_common"))
    val found = lsh.agg(count(lit(1)).as("n_lsh"))
    ex.crossJoin(hits).crossJoin(found)
      .select(col("n_exact"), col("n_lsh"), col("n_common"),
        round(when(col("n_exact") > 0,
          col("n_common") / col("n_exact").cast("double"))
          .otherwise(lit(1.0)), 4).as("recall"),
        round(when(col("n_lsh") > 0,
          col("n_common") / col("n_lsh").cast("double"))
          .otherwise(lit(1.0)), 4).as("precision"),
        round(when(col("n_exact") > 0,
          col("__exp") / col("n_exact")).otherwise(lit(1.0)), 4)
          .as("expected_recall"))
  }

  /** Cross-corpus quote detection (X224) — the memorization audit
    * behind "does the corpus VERBATIM-quote the benchmark": for every
    * (corpus doc, reference doc) pair sharing n-grams, the count of
    * shared n-grams and the longest corpus-side token RUN whose every
    * n-gram occurs in the reference. Where the n-gram decontamination
    * tiers (X35/X65) answer "any overlap at all", this sizes the
    * quote — the difference between a shared idiom and a lifted
    * paragraph.
    *
    * Honest estimator note: a run of k consecutive matching n-gram
    * positions certifies that every window of the (k+n−1)-token run
    * appears in the reference; for n ≥ 8 overlapping windows chain
    * only for genuinely shared text, so the run length is the quote
    * length in practice (adversarial shuffled-window constructions
    * could inflate it — stated, not hidden).
    *
    * Relational shape: corpus positional n-grams (one explode) join
    * the reference's DISTINCT n-gram set on the gram key (the
    * decontam anchor join — only SHARED grams survive the join, so
    * the pair space never materializes), then the classic
    * gaps-and-islands window per (corpus, ref) pair turns positions
    * into runs. Text shuffles once, as grams.
    *
    * @return (corpus_id, ref_id, shared_ngrams, max_quote_tokens)
    *         for pairs with ≥ `minSharedNgrams` shared positions;
    *         max_quote_tokens = longest run + n − 1. Grams in more
    *         than `maxRefDf` reference documents are excluded as
    *         template boilerplate (see the cap comment in the body).
    */
  def quoteSpans(corpus: DataFrame, reference: DataFrame, n: Int = 8,
                 minSharedNgrams: Long = 1,
                 corpusId: String = "doc_id", corpusText: String = "text",
                 refId: String = "doc_id", refText: String = "text",
                 maxRefDf: Int = 100)
      : DataFrame = {
    require(n >= 2, "n must be >= 2")
    require(minSharedNgrams >= 1, "minSharedNgrams must be >= 1")
    require(maxRefDf >= 1, "maxRefDf must be >= 1")
    val cg = corpus
      .where(col(corpusText).isNotNull)
      .select(col(corpusId).cast("long").as("corpus_id"),
        posexplode(TextFuncs.wordNgramsAll(col(corpusText), n))
          .as(Seq("pos", "g")))
    // Hot-gram cap: per shared gram g, the join below emits (corpus
    // positions containing g) × (reference docs containing g) rows —
    // a TEMPLATE gram shared by every reference doc (license header,
    // QA prompt framing) multiplies the corpus side |reference|-fold.
    // A gram present in more than `maxRefDf` reference documents is
    // boilerplate, not quote evidence OF any single document, so it is
    // dropped before the join — the same capBuckets discipline as the
    // LSH tiers (rg carries one row per (ref_id, distinct gram), so
    // rows-per-g IS the reference document frequency), and the cost is
    // observable through the CapMetricPrefix metrics
    // (rows_dropped, max_bucket_n, rows_seen) via [[capDropMetrics]].
    val rg = capBuckets(reference
      .where(col(refText).isNotNull)
      .select(col(refId).cast("long").as("ref_id"),
        explode(TextFuncs.wordNgrams(col(refText), n)).as("g")),
      maxRefDf, Seq("g"))
    val w = Window.partitionBy(col("corpus_id"), col("ref_id"))
      .orderBy(col("pos"))
    cg.join(rg, Seq("g"))
      .withColumn("__grp", col("pos") - row_number().over(w))
      .groupBy(col("corpus_id"), col("ref_id"), col("__grp"))
      .agg(count(lit(1)).as("__run"))
      .groupBy(col("corpus_id"), col("ref_id"))
      .agg(sum(col("__run")).as("shared_ngrams"),
        (max(col("__run")) + (n - 1)).as("max_quote_tokens"))
      .where(col("shared_ngrams") >= minSharedNgrams)
  }

  /** Soft dedup (X221) — down-WEIGHT near-duplicates instead of
    * dropping them: every doc gets `weight = 1/|cluster|` over its
    * near-dup connected component, so a 10-way boilerplate family
    * contributes one document's worth of sampling mass while keeping
    * every variant available (the "soft" alternative the hard tiers'
    * keep-one policy throws away — recent corpus work prefers it for
    * templated-but-distinct families where any single representative
    * loses information). Singletons (no near-dup edge) keep weight 1.
    *
    * Shape: the [[minhashPairs]] LSH tier proposes edges (never
    * all-pairs), [[graft.ops.ConnectedComponents]] labels them
    * (slim (long, long) rounds), and two slim-key joins attach
    * cluster ids and sizes — text shuffles only inside the LSH tier.
    *
    * @return (idCol, cluster_id, cluster_size, weight) — weight 4dp;
    *         cluster_id = the component's min doc id
    */
  def softWeights(docs: DataFrame, threshold: Double = 0.7,
                  idCol: String = "doc_id", textCol: String = "text")
      : DataFrame = {
    val edges = minhashPairs(docs, threshold,
        idCol = idCol, textCol = textCol)
      .select(col("id_a"), col("id_b"))
    val comp = graft.ops.ConnectedComponents.components(edges)
      .withColumnRenamed("id", "__cid")
    val labeled = docs.select(col(idCol))
      .join(comp, col(idCol).cast("long") === col("__cid"), "left")
      .select(col(idCol),
        coalesce(col("component"), col(idCol).cast("long"))
          .as("cluster_id"))
    val sizes = labeled.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
    labeled.join(sizes, Seq("cluster_id"))
      .select(col(idCol), col("cluster_id"), col("cluster_size"),
        round(lit(1.0) / col("cluster_size"), 4).as("weight"))
  }

  /** Split-leakage audit (X230) — the read-only companion of
    * `Splits.splitByCluster` (X146): given an EXISTING split
    * assignment (a column that already shipped with the dataset, or
    * one produced by a splitter under test), how many near-duplicate
    * pairs STRADDLE a split boundary? splitByCluster prevents the
    * leak at split time; this measures it after the fact — the audit
    * to run on any third-party dataset before trusting its eval
    * split, since a near-copy of a train doc in test inflates every
    * metric measured on it.
    *
    * Shape: the [[minhashPairs]] LSH tier proposes edges (bucketed,
    * capped, never all-pairs); two slim (id, split) joins attach the
    * sides; pairs normalize to (least, greatest) split order and
    * reduce to one row per split pair. Text shuffles only inside the
    * LSH tier.
    *
    * A doc with a NULL split (the most suspicious case in a
    * third-party dataset — an unassigned row) is labeled
    * `(unassigned)` so its pairs surface and straddle instead of
    * silently collapsing through null-skipping least/greatest.
    *
    * @return (split_a, split_b, n_pairs, straddling) with
    *         split_a <= split_b; `straddling` = the pair crosses a
    *         boundary (the rows that should be empty)
    */
  def splitLeakage(docs: DataFrame, threshold: Double = 0.7,
                   splitCol: String = "split", idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame =
    leakagePairs(docs, threshold, splitCol, idCol, textCol)
      .select(least(col("__sa"), col("__sb")).as("split_a"),
        greatest(col("__sa"), col("__sb")).as("split_b"))
      .groupBy(col("split_a"), col("split_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("straddling", col("split_a") =!= col("split_b"))

  /** Near-dup edges with both split labels attached — the shared
    * tier under [[splitLeakage]] and [[splitLeakagePairs]].
    */
  private def leakagePairs(docs: DataFrame, threshold: Double,
                           splitCol: String, idCol: String,
                           textCol: String): DataFrame = {
    val edges = minhashPairs(docs, threshold,
        idCol = idCol, textCol = textCol)
      .select(col("id_a"), col("id_b"))
    val splits = docs.select(col(idCol).cast("long").as("__id"),
      coalesce(col(splitCol), lit("(unassigned)")).as("__s"))
    edges
      .join(splits.withColumnRenamed("__id", "id_a")
        .withColumnRenamed("__s", "__sa"), Seq("id_a"))
      .join(splits.withColumnRenamed("__id", "id_b")
        .withColumnRenamed("__s", "__sb"), Seq("id_b"))
  }

  /** ACTIONABLE split leakage (X230): [[splitLeakage]] says HOW MANY
    * near-dup pairs straddle a boundary; this lists WHICH — the
    * (id_a, id_b, split_a, split_b) pairs a user quarantines before
    * trusting an eval split (drop the eval-side doc of every pair, or
    * re-assign the family to one split). Same capped LSH tier and
    * NULL-split convention as [[splitLeakage]]; splits are reported
    * in id order (split_a belongs to id_a), not sorted, so each row
    * names the offending docs directly.
    *
    * @return (id_a, id_b, split_a, split_b), straddling pairs only
    */
  def splitLeakagePairs(docs: DataFrame, threshold: Double = 0.7,
                        splitCol: String = "split",
                        idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame =
    leakagePairs(docs, threshold, splitCol, idCol, textCol)
      .where(col("__sa") =!= col("__sb"))
      .select(col("id_a"), col("id_b"),
        col("__sa").as("split_a"), col("__sb").as("split_b"))
}
