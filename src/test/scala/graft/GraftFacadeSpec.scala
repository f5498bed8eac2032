package graft

import org.apache.spark.sql.functions._

/** Drives the public surface end-to-end (the "switch to this library"
  * surface): session bootstrap is exercised implicitly via the shared
  * session (same config path); the table sources and the facade's own
  * compositions through `Graft`, every other operator through its
  * module object.
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
    val deduped = llmops.Dedup.minhashDedup(docs)
    assert(deduped.count() > 0 && deduped.count() <= docs.count())

    val emb = Graft.embeddings(spark, sf0001)
    val q = emb.filter($"vec_id" < 2)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    assert(llmops.VectorFuncs.bruteForceTopK(emb, q, k = 3).count() == 6)

    val stats = docs.select(
      llmops.TextFuncs.langId($"text").as("lang"),
      llmops.TextFuncs.tokenCount($"text").as("n"),
      llmops.TextFuncs.qualityScore($"text").as("q")).collect()
    assert(stats.forall(r => r.getInt(1) >= 0 && r.getDouble(2) >= 0.0))

    val resolved = Seq(("a.pdf", "https://h.com/x/")).toDF("h", "b")
      .select(graft.expr.UrlFuncs.resolve_url($"h", $"b")).as[String].head()
    assert(resolved == "https://h.com/x/a.pdf")
  }

  test("facade: round-4 additions delegate correctly") {
    val docs = Graft.documents(spark, sf0001)
      .select($"doc_id", $"source", $"text").limit(60).cache()
    // cluster dedup keeps at most as many docs and ≥ one per component
    val cd = Graft.clusterDedup(docs)
    assert(cd.count() > 0 && cd.count() <= docs.count())
    // chunks cover the corpus sample
    assert(llmops.Chunking.slidingChunks(docs, 32, 16).count() >= docs.count())
    // profile yields one row per column
    assert(ops.Profiling.profile(docs).count() == 3)
    // compression ratio bounded — only meaningful past deflate's ~5-byte
    // framing floor, so restrict to texts long enough that framing can't
    // push the ratio over 1 (a 2-char doc deflates to ~10 bytes = r 5.0)
    val ratios = docs.filter(length($"text") >= 50)
      .select(llmops.Compression.compressionRatio($"text").as("r"))
      .filter($"r" <= 0.0 || $"r" > 1.2).count()
    assert(ratios == 0)
    // token budget keeps a subset
    assert(llmops.Splits.tokenBudgetSample(docs, 2000L).count() <= docs.count())
    // ngram decontam against itself drops everything
    assert(llmops.Dedup.ngramDecontaminate(docs, docs.select($"text"))
      .count() == 0)
    // composed cleaning runs end-to-end
    assert(llmops.Corpus.clean(docs, minQuality = 0.0,
      nearDupThreshold = Some(0.7)).count() > 0)
  }

  test("facade: round-6 selection/mixing/retrieval delegate correctly") {
    val docs = Graft.documents(spark, sf0001)
      .select($"doc_id", $"lang", $"source", $"text").limit(80).cache()
    // DSIR: fit en-target ratios, select half the corpus
    val ratios = llmops.Dsir.logRatios(docs.filter($"lang" === "en"), docs)
    val picked = Graft.dsirSelect(docs, ratios, k = 20)
    assert(picked.count() == 20)
    // quality model: train on heuristic labels, score everything
    val labeled = docs.withColumn("label",
      (llmops.TextFuncs.qualityScore($"text") >= 0.75).cast("int"))
    val (w, b) = llmops.QualityModel.train(labeled)
    val probs = llmops.QualityModel.score(docs, w, b)
    assert(probs.count() == docs.count())
    // temperature mixing: rates in (0,1], keep column present
    val mix = llmops.Mixture.temperatureWeights(docs, alpha = 0.7,
      tokenBudget = 1000L)
    assert(mix.count() > 0)
    assert(llmops.Mixture.applyRates(docs, mix).columns.contains("keep"))
    // per-group bins: every row lands in a bucket 0..2
    val binned = Graft.groupQuantileBins(docs, $"lang",
      length($"text").cast("double"), Seq(1.0 / 3, 2.0 / 3))
    assert(binned.filter($"bin" < 0 || $"bin" > 2).count() == 0)
    // BM25 returns ranked hits for a corpus term
    assert(llmops.Bm25.topK(docs, Seq("spark", "query"), 5).count() <= 5)
    // span removal never grows the corpus
    assert(llmops.Dedup.dropDuplicateSpans(docs, n = 8).count() == docs.count())
  }

  test("facade: round-7 LM/multimodal/packing delegate correctly") {
    val docs = Graft.documents(spark, sf0001)
      .select($"doc_id", $"lang", $"text").limit(80).cache()
    // KN scoring from a (optionally pruned) bigram table
    val bi = llmops.LangModel.bigramCounts(docs, $"text", minCount = 2L)
    val scored = llmops.LangModel.knNllScores(docs, bi)
    assert(scored.count() > 0 &&
      scored.filter($"avg_nll" < 0).count() == 0)
    // multimodal: image dHash pairs, audio stats/fingerprints, frames
    val ids = docs.select($"doc_id")
    val ih = llmops.Multimodal.imageDHashes(spark,
      llmops.Multimodal.plantedHashImages(spark, ids))
    assert(llmops.Multimodal.imageNearDupPairs(ih).count() > 0)
    val aud = llmops.Audio.plantedAudio(spark, ids)
    assert(llmops.Audio.decodeAudioStats(spark, aud)
      .filter($"sample_rate" === 8000).count() > 0)
    val ah = llmops.Audio.audioEnergyHashes(spark,
      llmops.Audio.plantedFingerprintAudio(spark, ids))
    assert(llmops.Audio.audioNearDupPairs(ah).count() > 0)
    assert(llmops.Multimodal.decodeVideoFrameStats(spark,
      llmops.Multimodal.plantedGifs(spark, ids)).count() > 0)
    // exact packing: fragments tile, stats aggregate
    val frags = llmops.Packing.packSequences(
      docs.select($"doc_id", llmops.TextFuncs.tokenCount($"text").as("n_toks")),
      seqLen = 64)
    assert(llmops.Packing.sequenceStats(frags)
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

  test("facade: exactly the session, the sources and the compositions") {
    val public = Graft.getClass.getDeclaredMethods.toSeq
      .filter(m => java.lang.reflect.Modifier.isPublic(m.getModifiers))
      .map(_.getName).filterNot(_.contains("$default$")).toSet
    assert(public == Set("session", "documents", "embeddings", "events",
      "clusterDedup", "clusterDedupBest", "dsirSelect", "groupQuantileBins",
      "quoteSafeCorpus"))
  }

  test("facade: events reads the table with ts as a timestamp") {
    val ev = Graft.events(spark, sf0001)
    assert(ev.schema("ts").dataType.typeName.startsWith("timestamp"))
    assert(ev.count() ==
      spark.read.parquet(s"$sf0001/events.parquet").count())
  }

  test("clusterDedupBest keeps the higher-quality copy of a near-dup pair") {
    val prose = (0 until 60).map(i => s"the report for quarter $i of the year")
      .mkString(" ")
    // doc 1 is the noisy copy: the lower id, so a min-id pick keeps it
    val docs = Seq(
      (1L, prose + " " + "!" * 400),
      (2L, prose),
      (3L, (0 until 80).map(i => s"unrelated w$i").mkString(" ")))
      .toDF("doc_id", "text")
    val q = docs.select($"doc_id",
      llmops.TextFuncs.qualityScore($"text").as("q"))
      .as[(Long, Double)].collect().toMap
    assert(q(2L) > q(1L))
    val kept = Graft.clusterDedupBest(docs)
    assert(kept.count() <= docs.count())
    assert(kept.select($"doc_id").as[Long].collect().sorted.toSeq ==
      Seq(2L, 3L))
    assert(Graft.clusterDedup(docs).select($"doc_id").as[Long]
      .collect().sorted.toSeq == Seq(1L, 3L))
  }
}
