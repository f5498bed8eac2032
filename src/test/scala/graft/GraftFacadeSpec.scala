package graft

import org.apache.spark.sql.functions._

/** Drives the public facade end-to-end (the "switch to this library"
  * surface): session bootstrap is exercised implicitly via the shared
  * session (same config path), delegation via representative calls.
  */
class GraftFacadeSpec extends SparkTestBase {
  import spark.implicits._

  test("facade: the test session is Graft.session's product profile") {
    val conf = spark.conf
    assert(conf.get("spark.sql.codegen.cache.maxEntries") == "3000")
    assert(conf.get(
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold") == "65536")
    assert(conf.get(
      "spark.sql.adaptive.coalescePartitions.minPartitionSize") == "64k")
    // GraftExtensions: its SQL functions resolve
    assert(spark.catalog.functionExists("resolve_url"))
  }

  test("facade: load → dedup → similarity → text analysis round trip") {
    val docs = Graft.documents(spark, sf0001)
    val deduped = Graft.minhashDedup(docs)
    assert(deduped.count() > 0 && deduped.count() <= docs.count())

    val emb = Graft.embeddings(spark, sf0001)
    val q = emb.filter($"vec_id" < 2)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    assert(Graft.cosineTopK(emb, q, k = 3).count() == 6)

    val stats = docs.select(
      Graft.langId($"text").as("lang"),
      Graft.tokenCount($"text").as("n"),
      Graft.qualityScore($"text").as("q")).collect()
    assert(stats.forall(r => r.getInt(1) >= 0 && r.getDouble(2) >= 0.0))

    val resolved = Seq(("a.pdf", "https://h.com/x/")).toDF("h", "b")
      .select(Graft.resolveUrl($"h", $"b")).as[String].head()
    assert(resolved == "https://h.com/x/a.pdf")
  }

  test("facade: round-4 additions delegate correctly") {
    val docs = Graft.documents(spark, sf0001)
      .select($"doc_id", $"source", $"text").limit(60).cache()
    // cluster dedup keeps at most as many docs and ≥ one per component
    val cd = Graft.clusterDedup(docs)
    assert(cd.count() > 0 && cd.count() <= docs.count())
    // chunks cover the corpus sample
    assert(Graft.slidingChunks(docs, 32, 16).count() >= docs.count())
    // profile yields one row per column
    assert(Graft.profile(docs).count() == 3)
    // compression ratio bounded — only meaningful past deflate's ~5-byte
    // framing floor, so restrict to texts long enough that framing can't
    // push the ratio over 1 (a 2-char doc deflates to ~10 bytes = r 5.0)
    val ratios = docs.filter(length($"text") >= 50)
      .select(Graft.compressionRatio($"text").as("r"))
      .filter($"r" <= 0.0 || $"r" > 1.2).count()
    assert(ratios == 0)
    // token budget keeps a subset
    assert(Graft.tokenBudgetSample(docs, 2000L).count() <= docs.count())
    // ngram decontam against itself drops everything
    assert(Graft.ngramDecontaminate(docs, docs.select($"text")).count() == 0)
    // composed cleaning runs end-to-end
    assert(Graft.cleanCorpus(docs, minQuality = 0.0).count() > 0)
  }

  test("facade: round-6 selection/mixing/retrieval delegate correctly") {
    val docs = Graft.documents(spark, sf0001)
      .select($"doc_id", $"lang", $"source", $"text").limit(80).cache()
    // DSIR: fit en-target ratios, select half the corpus
    val ratios = Graft.dsirRatios(docs.filter($"lang" === "en"), docs)
    val picked = Graft.dsirSelect(docs, ratios, k = 20)
    assert(picked.count() == 20)
    // quality model: train on heuristic labels, score everything
    val labeled = docs.withColumn("label",
      (Graft.qualityScore($"text") >= 0.75).cast("int"))
    val (w, b) = Graft.trainQualityModel(labeled)
    val probs = Graft.qualityModelScore(docs, w, b)
    assert(probs.count() == docs.count())
    // temperature mixing: rates in (0,1], keep column present
    val mix = Graft.temperatureWeights(docs, alpha = 0.7,
      tokenBudget = 1000L)
    assert(mix.count() > 0)
    assert(Graft.applyMixture(docs, mix).columns.contains("keep"))
    // per-group bins: every row lands in a bucket 0..2
    val binned = Graft.groupQuantileBins(docs, $"lang",
      length($"text").cast("double"), Seq(1.0 / 3, 2.0 / 3))
    assert(binned.filter($"bin" < 0 || $"bin" > 2).count() == 0)
    // BM25 returns ranked hits for a corpus term
    assert(Graft.bm25TopK(docs, Seq("spark", "query"), 5).count() <= 5)
    // span removal never grows the corpus
    assert(Graft.dropDuplicateSpans(docs, n = 8).count() == docs.count())
  }

  test("facade: round-7 LM/multimodal/packing delegate correctly") {
    val docs = Graft.documents(spark, sf0001)
      .select($"doc_id", $"lang", $"text").limit(80).cache()
    // KN scoring from a (optionally pruned) bigram table
    val bi = Graft.bigramCounts(docs, $"text", minCount = 2L)
    val scored = Graft.knPerplexityScores(docs, bi)
    assert(scored.count() > 0 &&
      scored.filter($"avg_nll" < 0).count() == 0)
    // multimodal: image dHash pairs, audio stats/fingerprints, frames
    val ids = docs.select($"doc_id")
    val ih = Graft.imageDHashes(spark,
      llmops.Multimodal.plantedHashImages(spark, ids))
    assert(Graft.imageNearDupPairs(ih).count() > 0)
    val aud = llmops.Audio.plantedAudio(spark, ids)
    assert(Graft.audioStats(spark, aud)
      .filter($"sample_rate" === 8000).count() > 0)
    val ah = Graft.audioEnergyHashes(spark,
      llmops.Audio.plantedFingerprintAudio(spark, ids))
    assert(Graft.audioNearDupPairs(ah).count() > 0)
    assert(Graft.videoFrameStats(spark,
      llmops.Multimodal.plantedGifs(spark, ids)).count() > 0)
    // exact packing: fragments tile, stats aggregate
    val frags = Graft.packSequences(
      docs.select($"doc_id", Graft.tokenCount($"text").as("n_toks")),
      seqLen = 64)
    assert(Graft.sequenceStats(frags)
      .filter($"n_toks" > 64).count() == 0)
  }

  test("quoteSafeCorpus drops the quoting doc and keeps the rest") {
    import spark.implicits._
    val words = (0 until 40).map(i => s"t$i")
    val corpus = Seq(
      (1L, words.mkString(" ")),                       // gets quoted
      (2L, (100 until 140).map(i => s"u$i").mkString(" ")))
      .toDF("doc_id", "text")
    val bench = Seq(
      (9L, "frame " + words.slice(5, 25).mkString(" ") + " close"))
      .toDF("doc_id", "text")
    val safe = Graft.quoteSafeCorpus(corpus, bench,
      maxQuoteTokens = 15)
    assert(safe.select($"doc_id").as[Long].collect().toSeq == Seq(2L))
    // a stricter-than-quote threshold keeps everything
    assert(Graft.quoteSafeCorpus(corpus, bench,
      maxQuoteTokens = 25).count() == 2)
  }

  test("quoteSafeCorpus flags and anti-joins on the SAME caller-named " +
      "id column even when a decoy doc_id column exists") {
    import spark.implicits._
    val words = (0 until 40).map(i => s"t$i")
    // item_id is the caller's key; doc_id is a DECOY with values that
    // would survive (999) / be dropped (5) if flags leaked onto it
    val corpus = Seq(
      (5L, 999L, words.mkString(" ")),                 // quoting row
      (6L, 5L, (100 until 140).map(i => s"u$i").mkString(" ")))
      .toDF("item_id", "doc_id", "text")
    val bench = Seq(
      (9L, "frame " + words.slice(5, 25).mkString(" ") + " close"))
      .toDF("doc_id", "text")
    val safe = Graft.quoteSafeCorpus(corpus, bench,
      maxQuoteTokens = 15, idCol = "item_id")
    assert(safe.select($"item_id").as[Long].collect().toSeq == Seq(6L))
  }
}
