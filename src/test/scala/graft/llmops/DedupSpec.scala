package graft.llmops

import graft.{SparkTestBase, Tables}
import org.apache.spark.sql.functions._

class DedupSpec extends SparkTestBase {
  import spark.implicits._

  lazy val docs = Tables.documents(spark, sf0001).cache()

  /** Driver-side exact word-3-gram jaccard ground truth (sf0.001: 500 docs). */
  lazy val exactPairs: Set[(Long, Long)] = {
    val texts = docs.select($"doc_id", lower(trim($"text"))).as[(Long, String)]
      .collect().toMap
    def grams(t: String) = {
      val w = t.split("\\s+").toSeq
      (0 until math.max(w.length - 2, 1)).map(i => w.slice(i, i + 3)).toSet
    }
    val gs = texts.map { case (id, t) => id -> grams(t) }
    val ids = gs.keys.toSeq.sorted
    (for {
      i <- ids.indices.iterator
      j <- (i + 1) until ids.size
      a = ids(i); b = ids(j)
      inter = (gs(a) & gs(b)).size
      union = (gs(a) ++ gs(b)).size
      if union > 0 && inter.toDouble / union >= 0.8
    } yield (a, b)).toSet
  }

  test("exact dedup keeps lowest id per duplicate group") {
    val dup = docs.select($"doc_id", $"text")
      .unionByName(docs.select(($"doc_id" + 10000).as("doc_id"), $"text"))
    val kept = Dedup.exact(dup)
    assert(kept.count() == docs.count())
    assert(kept.filter($"doc_id" >= 10000).count() == 0)
  }

  test("exactKeepBy: keep policy picks newest/highest per content " +
      "group with deterministic id tiebreak; keepMax=false inverts") {
    val df = Seq(
      (1L, 10L, "same text"), (2L, 30L, "same text"),
      (3L, 30L, "same text"),               // order tie -> max id wins
      (4L, 99L, "unique text")).toDF("doc_id", "fetch_ts", "text")
    val kept = Dedup.exactKeepBy(df, "fetch_ts")
      .select($"doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(3L, 4L), kept.toString)
    val oldest = Dedup.exactKeepBy(df, "fetch_ts", keepMax = false)
      .select($"doc_id").as[Long].collect().sorted.toSeq
    assert(oldest == Seq(1L, 4L), oldest.toString)
    // full rows survive, not just ids
    assert(Dedup.exactKeepBy(df, "fetch_ts").columns.toSeq ==
      Seq("doc_id", "fetch_ts", "text"))
  }

  test("exactKeepBy: a NULL order key loses under BOTH policies; " +
      "an all-null group falls back to the id tie-break") {
    val df = Seq(
      (1L, Some(10L), "dated"), (2L, None, "dated"),
      (3L, Some(5L), "dated"),
      (7L, None, "undated"), (8L, None, "undated"))
      .toDF("doc_id", "fetch_ts", "text")
    // keep-newest: dated max wins (1), undated group -> max id (8)
    assert(Dedup.exactKeepBy(df, "fetch_ts")
      .select($"doc_id").as[Long].collect().sorted.toSeq == Seq(1L, 8L))
    // keep-oldest: the undated fetch must NOT beat the dated ones —
    // dated min wins (3); undated group -> min id (7)
    assert(Dedup.exactKeepBy(df, "fetch_ts", keepMax = false)
      .select($"doc_id").as[Long].collect().sorted.toSeq == Seq(3L, 7L))
  }

  test("quoteSpans: a verbatim quote is sized exactly; scattered " +
      "shared n-grams do not chain; short overlap gated by floor") {
    val corpusTokens = (0 until 40).map(i => s"c$i")
    val corpus = Seq((1L, corpusTokens.mkString(" ")))
      .toDF("doc_id", "text")
    // ref 10 quotes tokens 10..24 verbatim (15 tokens = 8 consecutive
    // 8-gram positions); ref 11 shares two DISANT 8-grams (runs of 1)
    val refs = Seq(
      (10L, "frame " + corpusTokens.slice(10, 25).mkString(" ") + " end"),
      (11L, corpusTokens.slice(0, 8).mkString(" ") + " zzz " +
        corpusTokens.slice(20, 28).mkString(" ")))
      .toDF("doc_id", "text")
    val got = Dedup.quoteSpans(corpus, refs, n = 8)
      .collect().map(r => r.getLong(1) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(got(10L) == ((8L, 15L)), s"${got(10L)}")
    assert(got(11L)._2 == 8L, s"distant grams must not chain: $got")
    // the floor drops the scattered pair
    val floored = Dedup.quoteSpans(corpus, refs, n = 8,
      minSharedNgrams = 5).collect()
    assert(floored.length == 1 && floored.head.getLong(1) == 10L)
  }

  test("quoteSpans: a template gram shared across the reference is " +
      "capped out as boilerplate and the cost is observed; genuine " +
      "quotes survive") {
    val quote = (0 until 8).map(i => s"q$i").mkString(" ")
    val boiler = (0 until 8).map(i => s"b$i").mkString(" ")
    val corpus = Seq((1L,
      s"intro pad $quote filler pad2 $boiler tail end"))
      .toDF("doc_id", "text")
    // ref 0 holds the genuine quote; refs 1..20 are the same
    // 8-token boilerplate (a license header / prompt template)
    val refs = (Seq((0L, quote)) ++ (1L to 20L).map(i => (i, boiler)))
      .toDF("doc_id", "text")
    val capped = Dedup.quoteSpans(corpus, refs, n = 8, maxRefDf = 5)
    val got = capped.collect()
    assert(got.length == 1, got.mkString(", "))
    assert(got.head.getLong(1) == 0L &&
      got.head.getLong(3) == 8L, got.head.toString)
    val m = Dedup.capDropMetrics(capped)
    assert(m.size == 1 && m.keys.head.startsWith(Dedup.CapMetricPrefix))
    val (dropped, maxN, seen) = m.values.head
    assert(dropped == 20L && maxN == 20L && seen == 21L,
      s"($dropped, $maxN, $seen)")
    // an ample cap keeps the boilerplate fan-out: 21 pairs
    assert(Dedup.quoteSpans(corpus, refs, n = 8, maxRefDf = 100)
      .count() == 21)
  }

  test("splitLeakage: a near-copy straddling train/test is counted " +
      "as a straddling pair; same-split dups are reported benign") {
    def txt(i: Int) = (0 until 30)
      .map(j => s"s${i}_$j w${(i * 37 + j) % 91}").mkString(" ")
    val docs = Seq(
      (1L, txt(1), "train"), (2L, txt(2), "train"),
      (3L, txt(3), "val"), (4L, txt(4), "test"),
      (100L, txt(1), "test"),  // the leak: train doc 1 copied to test
      (101L, txt(2), "train")) // benign duplicate inside train
      .toDF("doc_id", "text", "split")
    val got = Dedup.splitLeakage(docs, threshold = 0.9)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getBoolean(3))).toMap
    assert(got == Map(
      ("test", "train") -> ((1L, true)),
      ("train", "train") -> ((1L, false))), got.toString)
  }

  test("splitLeakage: a NULL split surfaces as (unassigned) and " +
      "straddles instead of collapsing to a benign same-split pair") {
    def txt(i: Int) = (0 until 30)
      .map(j => s"n${i}_$j w${(i * 41 + j) % 89}").mkString(" ")
    val docs = Seq(
      (1L, txt(1), "train"),
      (100L, txt(1), null.asInstanceOf[String]), // near-dup, no split
      (2L, txt(2), "test"))
      .toDF("doc_id", "text", "split")
    val got = Dedup.splitLeakage(docs, threshold = 0.9)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getBoolean(3))).toMap
    assert(got == Map(("(unassigned)", "train") -> ((1L, true))),
      got.toString)
  }

  test("splitLeakagePairs lists exactly the offending (id, id, " +
      "split, split) rows, splits in id order; benign pairs omitted") {
    def txt(i: Int) = (0 until 30)
      .map(j => s"p${i}_$j w${(i * 37 + j) % 91}").mkString(" ")
    val docs = Seq(
      (1L, txt(1), "train"), (2L, txt(2), "train"),
      (3L, txt(3), "val"),
      (100L, txt(1), "test"),  // leak: train 1 -> test 100
      (101L, txt(3), "test"),  // leak: val 3 -> test 101
      (102L, txt(2), "train")) // benign: inside train
      .toDF("doc_id", "text", "split")
    val got = Dedup.splitLeakagePairs(docs, threshold = 0.9)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getString(2), r.getString(3))).toSet
    assert(got == Set((1L, 100L, "train", "test"),
      (3L, 101L, "val", "test")), got.toString)
  }

  test("softWeights: near-dup family shares one unit of mass; " +
      "singletons keep weight 1; weights partition the corpus") {
    // distinct base texts (no cross-similarity), then exact copies of
    // the first three — each family is exactly {orig, copy}
    def sent(i: Long) = (0 until 30)
      .map(j => s"w${i}_$j tok${(i * 31 + j) % 97}").mkString(" ")
    val base = (0L until 8L).map(i => (i, sent(i)))
    val dup = (base ++ (0L until 3L).map(i => (i + 10000, sent(i))))
      .toDF("doc_id", "text")
    val w = Dedup.softWeights(dup, threshold = 0.9)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(w.size == dup.count())
    // each exact copy pairs with its original: cluster of 2, weight .5
    (0L until 3L).foreach { i =>
      assert(w(i) == ((i, 2L, 0.5)), s"$i -> ${w(i)}")
      assert(w(i + 10000) == ((i, 2L, 0.5)))
    }
    // a doc with no near-dup is its own cluster at weight 1
    val singles = w.filter(_._2._2 == 1L)
    assert(singles.nonEmpty)
    singles.foreach { case (id, (cid, _, wt)) =>
      assert(cid == id && wt == 1.0)
    }
    // soft-dedup invariant: total weight == number of clusters
    val totalW = w.values.map(_._3).sum
    val nClusters = w.values.map(_._1).toSet.size
    assert(math.abs(totalW - nClusters) < 1e-6)
  }

  test("minhash LSH finds the high-similarity pairs (recall vs exact)") {
    val got = Dedup.minhashPairs(docs, threshold = 0.7)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val missed = exactPairs -- got
    assert(exactPairs.nonEmpty, "test corpus should contain near-dups")
    assert(missed.size <= math.max(1, exactPairs.size / 10),
      s"missed ${missed.size} of ${exactPairs.size}: $missed")
  }

  test("minhash pairs precision: reported pairs really are similar") {
    val got = Dedup.minhashPairs(docs, threshold = 0.9)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    // every ≥0.9-estimated pair must be a true ≥0.8-exact pair
    assert(got.nonEmpty)
    assert((got -- exactPairs).isEmpty, s"false positives: ${got -- exactPairs}")
  }

  test("minhashDedup drops the higher id of each near-dup pair") {
    val survivors = Dedup.minhashDedup(docs, threshold = 0.7)
      .select($"doc_id").as[Long].collect().toSet
    val droppedIds = Dedup.minhashPairs(docs, threshold = 0.7)
      .select($"id_b").as[Long].collect().toSet
    assert(droppedIds.forall(id => !survivors.contains(id)))
    assert(survivors.size == docs.count() - droppedIds.size)
  }

  test("simhash pairs overlap exact near-dups (64-bit small-corpus path)") {
    val got = Dedup.simhashPairs(docs, maxHamming = 10, wideBands = false)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    // simhash is token-frequency based; demand decent recall on 0.8-jaccard pairs
    val hit = exactPairs.count(got.contains)
    assert(hit >= exactPairs.size / 2, s"simhash found $hit of ${exactPairs.size}")
  }

  test("wide-band simhash (128-bit fp, 32-bit bands) matches 64-bit recall") {
    val got = Dedup.simhashPairs(docs, maxHamming = 20, wideBands = true)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val hit = exactPairs.count(got.contains)
    assert(hit >= exactPairs.size / 2, s"wide simhash found $hit of ${exactPairs.size}")
    // identical texts have identical fingerprints → hamming 0
    val dup = docs.select($"doc_id", $"text").limit(1)
      .unionByName(docs.select(($"doc_id" + 7000).as("doc_id"), $"text").limit(1))
    val pair = Dedup.simhashPairs(dup, maxHamming = 0, wideBands = true).collect()
    assert(pair.length == 1 && pair.head.getAs[Int]("hamming") == 0)
  }

  test("default maxHamming auto-scales with fingerprint width") {
    // wide bands (128-bit) default to 6; the 64-bit path keeps 3 —
    // 3 per 64 fingerprint bits, so default recall doesn't silently
    // halve when the wide default is in effect
    val wideDefault = Dedup.simhashPairs(docs).collect().toSet
    val wideExplicit = Dedup.simhashPairs(docs, maxHamming = 6).collect().toSet
    assert(wideDefault == wideExplicit)
    val narrowDefault =
      Dedup.simhashPairs(docs, wideBands = false).collect().toSet
    val narrowExplicit =
      Dedup.simhashPairs(docs, maxHamming = 3, wideBands = false)
        .collect().toSet
    assert(narrowDefault == narrowExplicit)
  }

  test("wide bands use the full 32-bit key space (not 65k buckets)") {
    val hashes = docs.limit(200)
      .select(explode(Sketches.simhash128Bands(
        Sketches.simhash128($"text"))).as("b"))
      .select($"b.band_hash").as[Long].collect()
    assert(hashes.forall(h => h >= 0 && h <= 0xffffffffL))
    assert(hashes.exists(_ > 0xffffL),
      "800 32-bit band hashes should not all fit in 16 bits")
  }

  test("ngramJaccardPairs verifies candidates with exact jaccard") {
    val got = Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.8)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(got == exactPairs, s"sym diff: ${(got -- exactPairs) ++ (exactPairs -- got)}")
  }

  test("embedding pairs find highly-cosine-similar vectors") {
    val vecs = Tables.embeddings(spark, sf0001)
    val got = Dedup.embeddingPairs(vecs, threshold = 0.95, planes = 6)
    // schema contract + no self/dup pairs
    val rows = got.select($"id_a", $"id_b", $"sim").collect()
    assert(rows.forall(r => r.getLong(0) < r.getLong(1)))
    assert(rows.forall(_.getDouble(2) >= 0.95))
  }

  test("semantic pairs: cluster-scoped cosine, exact precision, high recall") {
    val vecs = Tables.embeddings(spark, sf0001)
    // brute-force ground truth (sf0.001 is small enough to cross on
    // the driver)
    val all = vecs.select($"vec_id", $"embedding")
      .as[(Long, Seq[Float])].collect()
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
      if (na == 0 || nb == 0) -2 else dot / (na * nb)
    }
    val want = (for {
      i <- all.indices.iterator; j <- (i + 1) until all.length
      if cos(all(i)._2, all(j)._2) >= 0.95
    } yield (math.min(all(i)._1, all(j)._1), math.max(all(i)._1, all(j)._1)))
      .toSet
    val got = Dedup.semanticPairs(vecs, threshold = 0.95, nlist = 8, nprobe = 2)
      .select($"id_a", $"id_b", $"sim").collect()
    assert(got.forall(r => r.getLong(0) < r.getLong(1)))
    assert(got.forall(_.getDouble(2) >= 0.95)) // precision exact by verify
    val gotPairs = got.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotPairs.subsetOf(want))
    // nprobe=2 over a label-clustered corpus: near-dups share a list
    if (want.nonEmpty)
      assert(gotPairs.size >= want.size * 7 / 10,
        s"recall ${gotPairs.size}/${want.size}")
  }

  test("semantic pairs with Lloyd-refined centroids stay exact-precision") {
    val vecs = Tables.embeddings(spark, sf0001)
    val got = Dedup.semanticPairs(vecs, threshold = 0.95, nlist = 8,
      nprobe = 2, kmeansIters = 2).collect()
    assert(got.forall(r => r.getLong(0) < r.getLong(1)))
    assert(got.forall(_.getDouble(2) >= 0.95))
  }

  test("IMI product quantizer: bounded list space, exact precision") {
    val vecs = Tables.embeddings(spark, sf0001)
    val k = 4
    val (c1, c2) = Ivf.imiCentroids(vecs, k, iters = 1)
    assert(c1.length == k && c2.length == k)
    assert(c1.forall(_.length == 32) && c2.forall(_.length == 32),
      "each half-codebook spans half the 64 dims")
    val lists = vecs
      .select(explode(Ivf.imiLists($"embedding", c1, c2, 2)).as("l"))
      .as[Int].collect()
    assert(lists.forall(l => l >= 0 && l < k * k))
    assert(lists.distinct.length > k,
      "crossed probes should populate the product space, not one row of it")
    val got = Dedup.semanticPairsImiWithCentroids(vecs, 0.95, c1, c2)
      .collect()
    assert(got.forall(r => r.getLong(0) < r.getLong(1)))
    assert(got.forall(_.getDouble(2) >= 0.95)) // precision exact by verify
  }

  test("IMI pairs recall a planted near-dup population") {
    // sf0.001 embeddings are isotropic (no >=0.95 pairs to find), so
    // plant our own: 120 gaussian bases + a jittered copy of each.
    val r = new scala.util.Random(42)
    def gauss(n: Int) = Array.fill(n)(r.nextGaussian().toFloat)
    val bases = Array.fill(120)(gauss(64))
    val rows = bases.zipWithIndex.flatMap { case (b, i) =>
      val copy = b.zip(gauss(64)).map { case (x, j) => x + 0.05f * j }
      Seq((i.toLong, b.toSeq), ((i + 1000).toLong, copy.toSeq))
    }
    val vecs = rows.toSeq.toDF("vec_id", "embedding")
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      dot / (math.sqrt(a.map(x => x.toDouble * x).sum) *
             math.sqrt(b.map(x => x.toDouble * x).sum))
    }
    val want = (for {
      i <- rows.indices.iterator; j <- (i + 1) until rows.length
      if cos(rows(i)._2, rows(j)._2) >= 0.95
    } yield (math.min(rows(i)._1, rows(j)._1),
             math.max(rows(i)._1, rows(j)._1))).toSet
    assert(want.size >= 120, "every planted copy pairs with its base")
    val got = Dedup
      .semanticPairsImi(vecs, threshold = 0.95, k = 3, p = 2,
        kmeansIters = 2)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(got.subsetOf(want)) // verify keeps precision exact
    assert(got.size >= want.size * 7 / 10,
      s"recall ${got.size}/${want.size}")
  }

  test("IMI on degenerate inputs: empty corpus, null vectors") {
    val empty = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    assert(Dedup.semanticPairsImi(empty, k = 4).count() == 0)
    val withNulls = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, null.asInstanceOf[Seq[Float]]))
      .toDF("vec_id", "embedding")
    assert(Dedup.semanticPairsImi(withNulls, threshold = 2.0, k = 2)
      .count() == 0)
  }

  test("hot-bucket cap bounds a degenerate 5k-identical-doc corpus") {
    // 5000 copies of one text: every band bucket has 5000 members, so an
    // unguarded banded self-join would emit 16 bands x 5000^2/2 = 200M
    // candidate rows. The cap drops the hot buckets entirely — the join
    // stays empty and the query finishes in seconds, not hours.
    val clones = spark.range(5000)
      .select($"id".as("doc_id"), lit("the same boilerplate text repeated " +
        "over and over across the whole corpus").as("text"))
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    assert(Dedup.minhashPairs(clones).count() == 0L)
    assert(Dedup.simhashPairs(clones).count() == 0L)
    assert(System.nanoTime() < deadline,
      "guarded pair generation should complete well inside 60s")
  }

  test("hot-bucket cap leaves clusters below the cap intact") {
    // 50 identical docs (< maxBucket=200) must still produce all pairs.
    val small = spark.range(50)
      .select($"id".as("doc_id"),
        lit("a modest cluster of identical documents").as("text"))
    assert(Dedup.minhashPairs(small).count() == 50L * 49 / 2)
  }

  test("hot-bucket cap is observable: in-run metrics on the live path, " +
      "exact audit on a planted hot bucket") {
    // 30 identical docs + 1 distinct: under maxBucket=8 every one of
    // the plan's band buckets holds 30 members and is dropped whole;
    // the cap's cost must be VISIBLE, not inferred from a silent
    // empty result.
    val plan = LshPlan.plan(0.7)
    val hot = spark.range(0, 30)
      .select($"id".as("doc_id"),
        lit("identical boilerplate body shared by the hot cluster " +
          "of documents").as("text"))
      .unionByName(Seq((100L, "a genuinely different document about " +
        "entirely other things and words")).toDF("doc_id", "text"))

    // exact audit: one row per over-cap bucket, bucket_n = 30, and
    // exactly plan.bands of them (identical docs share every band)
    val audit = Dedup.capAudit(hot, threshold = 0.7, maxBucket = 8)
      .collect()
    assert(audit.length == plan.bands, s"audit=${audit.length}")
    assert(audit.forall(_.getAs[Long]("bucket_n") == 30L))
    // below-cap run: the audit reports nothing
    assert(Dedup.capAudit(hot, threshold = 0.7, maxBucket = 200)
      .collect().isEmpty)

    // in-run observe metrics on a live (non-empty) pair run: the
    // calm path reports zero drops with exact row counts. (The
    // all-dropped case is the documented AQE empty-relation blind
    // spot — capDropMetrics' scaladoc routes it to capAudit.)
    val calm = Dedup.minhashPairs(hot, threshold = 0.7, maxBucket = 200)
    calm.collect()
    val m = Dedup.capDropMetrics(calm)
    assert(m.size == 1 && m.keys.head.startsWith(Dedup.CapMetricPrefix))
    val (d2, m2, s2) = m.values.head
    assert(d2 == 0L && m2 == 30L && s2 == 31L * plan.bands)
  }

  test("contaminationPairs finds benchmark docs leaked into the corpus") {
    // benchmark = 5 docs; corpus = normal docs + exact copies of 3
    // benchmark docs under new ids → exactly those 3 must be flagged
    val bench = docs.filter($"doc_id" < 5)
      .select($"doc_id", $"text")
    val leaked = bench.filter($"doc_id" < 3)
      .select(($"doc_id" + 50000).as("doc_id"), $"text")
    val corpus = docs.filter($"doc_id" >= 100 && $"doc_id" < 200)
      .select($"doc_id", $"text")
      .unionByName(leaked)
    val hits = Dedup.contaminationPairs(corpus, bench, threshold = 0.9)
      .select($"corpus_id", $"bench_id").as[(Long, Long)].collect().toSet
    val exactLeaks = Set((50000L, 0L), (50001L, 1L), (50002L, 2L))
    assert(exactLeaks.subsetOf(hits), s"missed leaks: ${exactLeaks -- hits}")
    // nothing outside the leaked ids should pair at 0.9 unless it is a
    // true near-dup of a benchmark doc — verify via exact jaccard
    val extra = hits.filterNot(h => exactLeaks.contains(h))
    assert(extra.forall { case (cid, bid) =>
      exactPairs.contains((math.min(cid, bid), math.max(cid, bid))) || cid >= 50000
    }, s"false contamination hits: $extra")
  }

  test("bloomDecontaminate equals the plain text anti-join exactly") {
    val bench = docs.filter($"doc_id" % 10 === 0).select($"text")
    val got = Dedup.bloomDecontaminate(docs, bench,
      expectedItems = 1000L, fpp = 0.01)
      .select($"doc_id").as[Long].collect().toSet
    val want = docs.join(bench.distinct(), Seq("text"), "left_anti")
      .select($"doc_id").as[Long].collect().toSet
    assert(got == want)
    assert(got.nonEmpty && got.size < docs.count())
  }

  test("decontaminate drops exactly the leaked docs") {
    val bench = docs.filter($"doc_id" < 5).select($"doc_id", $"text")
    val leaked = bench.filter($"doc_id" < 3)
      .select(($"doc_id" + 50000).as("doc_id"), $"text")
    val corpus = docs.filter($"doc_id" >= 100 && $"doc_id" < 200)
      .select($"doc_id", $"text").unionByName(leaked)
    val clean = Dedup.decontaminate(corpus, bench, threshold = 0.9)
      .select($"doc_id").as[Long].collect().toSet
    assert(clean.intersect(Set(50000L, 50001L, 50002L)).isEmpty)
    // non-leaked docs survive unless they genuinely near-dup a bench doc
    val dropped = corpus.select($"doc_id").as[Long].collect().toSet -- clean
    assert(dropped.forall(id => id >= 50000 ||
      exactPairs.exists(p => p._2 == id && p._1 < 5)))
  }

  test("hot-bucket cap does not change results on the normal corpus") {
    val capped = Dedup.minhashPairs(docs, threshold = 0.7)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val uncapped = Dedup.minhashPairs(docs, threshold = 0.7,
        maxBucket = Int.MaxValue)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(capped == uncapped)
  }

  test("incrementalDedup: delta cleaned against persisted corpus sketches") {
    val corpus = docs.filter($"doc_id" < 100).select($"doc_id", $"text")
    // delta: 50 fresh docs, one exact copy of a corpus doc, and an
    // exact within-delta duplicate of a fresh doc
    val fresh = docs.filter($"doc_id" >= 100 && $"doc_id" < 150)
      .select($"doc_id", $"text")
    val corpusCopy = corpus.filter($"doc_id" === 7)
      .select(($"doc_id" + 70000).as("doc_id"), $"text")
    val deltaCopy = fresh.filter($"doc_id" === 120)
      .select(($"doc_id" + 80000).as("doc_id"), $"text")
    val delta = fresh.unionByName(corpusCopy).unionByName(deltaCopy)
    // split-consistency contract: the corpus is sketched under the
    // same plan incrementalDedup derives for its default threshold
    val p = LshPlan.plan(0.7)
    val cSigs = Dedup.minhashSigs(corpus, numHashes = p.nHashes)
    val cBands = Dedup.lshBanded(cSigs, p.bands, p.rowsPerBand)
    // collect once — the survivor set is reused below, and each action
    // on the raw result would otherwise recompute the full join chain
    val out = Dedup.incrementalDedup(delta, cBands, cSigs)
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
    val ids = out.map(_._1).toSet
    assert(!ids.contains(70007L), "corpus duplicate must be dropped")
    assert(!ids.contains(80120L), "within-delta duplicate must be dropped")
    assert(ids.nonEmpty && ids.subsetOf(
      delta.select($"doc_id").as[Long].collect().toSet))
    // exact-level cleanliness: no surviving text equals a corpus text
    // or another surviving text
    val corpusTexts = corpus.select($"text").as[String].collect().toSet
    assert(out.forall(d => !corpusTexts.contains(d._2)))
    assert(out.map(_._2).distinct.size == out.size)
    // idempotence: running the survivors through again removes nothing
    val outDf = out.toDF("doc_id", "text")
    val again = Dedup.incrementalDedup(outDf, cBands, cSigs)
    assert(again.count() == out.size.toLong)
  }

  test("ngramNoveltyScores: graded overlap — copies score 0, fresh " +
      "text 1, partial overlap between; short docs score via the " +
      "whole-text gram") {
    val ref = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      // exact copy: every 8-gram exists in the reference
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      // fresh text: nothing overlaps
      (2L, "one two three four five six seven eight nine ten"),
      // the reference's 10 words + 2 novel: 5 8-grams, 3 from ref
      (3L, "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
        "novelx novely"),
      // 7 words: the kernel emits ONE whole-text short gram
      (4L, "too short for any eight gram here"))
      .toDF("doc_id", "text")
    val got = Dedup.ngramNoveltyScores(corpus, ref, n = 8)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L))
    assert(got(1L) == ((3L, 0.0))) // 3 distinct 8-grams, all in ref
    assert(got(2L) == ((3L, 1.0)))
    assert(got(3L)._1 == 5L && math.abs(got(3L)._2 - 2.0 / 5) < 1e-12)
    assert(got(4L) == ((1L, 1.0))) // one short whole-text gram, novel
  }

  test("ngramDecontaminate drops on any shared 8-gram, keeps shorter overlap") {
    val eight = (1 to 8).map("shared" + _).mkString(" ")
    val seven = (1 to 7).map("shared" + _).mkString(" ")
    val corpus = Seq(
      (1L, s"intro words then $eight and a tail"),   // full 8-gram leak
      (2L, s"intro words then $seven and a tail"),   // only 7 shared
      (3L, "a wholly different document about nothing at all here today")
    ).toDF("doc_id", "text")
    val bench = Seq(s"prefix $eight suffix").toDF("text")
    val kept = Dedup.ngramDecontaminate(corpus, bench)
      .select($"doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 3L))
    // case-insensitive: grams tokenize lowercased
    val benchUpper = Seq(s"PREFIX ${eight.toUpperCase} SUFFIX").toDF("text")
    assert(Dedup.ngramDecontaminate(corpus, benchUpper)
      .select($"doc_id").as[Long].collect().toSet == Set(2L, 3L))
  }

  test("editSimilarityPairs: order-sensitive verify — a small in-place " +
      "edit survives, a half-swapped twin is rejected, identity is 1.0") {
    val xs = (0 until 20).map(i => s"alpha$i").mkString(" ")
    val ys = (0 until 20).map(i => s"beta$i").mkString(" ")
    val docs = Seq(
      (1L, s"$xs $ys"),                                   // base
      (2L, s"$ys $xs"),                                   // halves swapped
      (3L, s"$xs ${ys.replace("beta19", "gamma")}"),      // tiny edit
      (4L, s"$xs $ys")                                    // exact copy
    ).toDF("doc_id", "text")
    val pairs = Dedup.editSimilarityPairs(docs, threshold = 0.8)
      .select($"id_a", $"id_b", $"edit_sim")
      .as[(Long, Long, Double)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    // shingle-Jaccard proposes (1,2), (1,3), (1,4), (2,4), (3,4) alike;
    // the edit verify keeps only in-place-edit and identical pairs
    assert(pairs.contains((1L, 3L)), s"pairs=$pairs")
    assert(pairs((1L, 4L)) == 1.0)
    assert(!pairs.contains((1L, 2L)) && !pairs.contains((2L, 4L)),
      s"an order-scrambled twin must fail the edit verify: $pairs")
    // exact normalized value against a reference DP over the heads
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(b.length + 1)(identity)
      for (i <- 1 to a.length) {
        var prev = dp(0); dp(0) = i
        for (j <- 1 to b.length) {
          val cur = dp(j)
          dp(j) = math.min(math.min(dp(j) + 1, dp(j - 1) + 1),
            prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
          prev = cur
        }
      }
      dp(b.length)
    }
    val t1 = s"$xs $ys"
    val t3 = s"$xs ${ys.replace("beta19", "gamma")}"
    val exp = 1.0 - lev(t1, t3).toDouble / math.max(t1.length, t3.length)
    assert(math.abs(pairs((1L, 3L)) - exp) < 1e-12,
      s"got ${pairs((1L, 3L))}, want $exp")
  }

  test("editSimilarityPairs: maxChars truncates the comparison window " +
      "and the banded cap never drops a keepable pair") {
    val xs = (0 until 20).map(i => s"alpha$i").mkString(" ")
    val docs = Seq(
      (1L, s"$xs tail-one"),
      (2L, s"$xs tail-two-entirely-different")
    ).toDF("doc_id", "text")
    // within the first 100 chars the two are identical
    val head = Dedup.editSimilarityPairs(docs, threshold = 0.9,
        proposalThreshold = 0.3, maxChars = 100)
      .select($"edit_sim").as[Double].collect().toSeq
    assert(head == Seq(1.0), s"head=$head")
    // over the full heads they differ but stay above a loose threshold
    val full = Dedup.editSimilarityPairs(docs, threshold = 0.5,
        proposalThreshold = 0.3)
      .select($"edit_sim").as[Double].collect().toSeq
    assert(full.nonEmpty && full.head < 1.0 && full.head >= 0.5)
  }

  test("editSimilarityPairs: explicit candidates make the verify exact " +
      "over pairs the shingle proposal would never surface") {
    // dispersed edits: one char substituted in EVERY word — edit_sim
    // stays high while every 5-gram shingle changes (Jaccard ≈ 0)
    val a = (0 until 30).map(i => s"word${i}x").mkString(" ")
    val b = (0 until 30).map(i => s"word${i}y").mkString(" ")
    val docs = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    // the default LSH proposal misses the pair entirely
    assert(Dedup.editSimilarityPairs(docs, threshold = 0.8).count() == 0)
    // an explicit candidate list verifies it exactly
    val cands = Seq((1L, 2L)).toDF("id_a", "id_b")
    val got = Dedup.editSimilarityPairs(docs, threshold = 0.8,
        candidates = cands)
      .select($"id_a", $"id_b", $"edit_sim")
      .as[(Long, Long, Double)].collect().toSeq
    // 30 substitutions in a ~250-char head → sim ≈ 0.88
    assert(got.map(t => (t._1, t._2)) == Seq((1L, 2L)), s"got=$got")
    assert(got.head._3 > 0.8 && got.head._3 < 1.0)
  }

  test("jaccardJoinExact: EXACTLY the brute-force pair set at every " +
      "threshold and every n — recall 1.0 by construction, no LSH " +
      "proposal cliff; repartition-stable") {
    val docs = Tables.documents(spark, sf0001).select($"doc_id", $"text")
    def brute(th: Double, n: Int) = {
      val sets = docs.select($"doc_id".as("id"),
        graft.llmops.TextFuncs.wordNgrams($"text", n).as("s"))
      sets.as("a").join(sets.as("b"),
          $"a.id" < $"b.id")
        .select($"a.id".as("id_a"), $"b.id".as("id_b"),
          (size(array_intersect($"a.s", $"b.s")) /
            size(array_union($"a.s", $"b.s")).cast("double")).as("j"))
        .filter($"j" >= th)
        .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    }
    for ((th, n) <- Seq((0.3, 3), (0.5, 3), (0.8, 1), (1.0, 1))) {
      val got = Dedup.jaccardJoinExact(docs, th, n)
        .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
      assert(got == brute(th, n), s"threshold $th n=$n")
    }
    val again = Dedup.jaccardJoinExact(docs.repartition(7), 0.3, 3)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(again == brute(0.3, 3))
    // the recall case LSH proposals can lose: DISPERSED small edits —
    // the exact join must return the pair at its true similarity
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val edited = (1 to 40).map(i =>
      if (i % 10 == 0) s"x$i" else s"w$i").mkString(" ")
    val planted = Seq((900001L, base), (900002L, edited))
      .toDF("doc_id", "text")
    val pair = Dedup.jaccardJoinExact(planted, 0.5, n = 3)
      .select($"id_a", $"id_b", round($"jaccard", 4).as("j"))
      .as[(Long, Long, Double)].collect().toSeq
    // 4 edits × ≤3 corrupted grams (the tail edit corrupts 1):
    // |∩| = 28 of 38, |∪| = 48 → 0.5833
    assert(pair == Seq((900001L, 900002L, 0.5833)), s"got=$pair")
  }

  test("containmentJoinExact: EXACTLY the brute-force ordered-pair " +
      "set; finds the quote pair Jaccard can't; repartition-stable") {
    val docs = Tables.documents(spark, sf0001).select($"doc_id", $"text")
    def brute(th: Double, n: Int) = {
      val sets = docs.select($"doc_id".as("id"),
          graft.llmops.TextFuncs.wordNgrams($"text", n).as("s"))
        .filter(size($"s") > 0)
      sets.as("a").join(sets.as("b"), $"a.id" =!= $"b.id")
        .select($"a.id".as("id_a"), $"b.id".as("id_b"),
          (size(array_intersect($"a.s", $"b.s")) /
            size($"a.s").cast("double")).as("c"))
        .filter($"c" >= th)
        .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    }
    for ((th, n) <- Seq((0.5, 3), (0.8, 1), (1.0, 3))) {
      val got = Dedup.containmentJoinExact(docs, th, n)
        .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
      assert(got == brute(th, n), s"threshold $th n=$n")
    }
    val again = Dedup.containmentJoinExact(docs.repartition(7), 0.5, 3)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(again == brute(0.5, 3))

    // THE containment case: a 10-word quote inside a 200-word
    // container. Jaccard ≈ 8/198 — invisible to the symmetric join
    // at any usable threshold; containment = 1.0, one direction only
    val container = (1 to 200).map(i => s"w$i").mkString(" ")
    val quote = (41 to 50).map(i => s"w$i").mkString(" ")
    val planted = Seq((900001L, container), (900002L, quote))
      .toDF("doc_id", "text")
    val got = Dedup.containmentJoinExact(planted, 0.9, n = 3)
      .select($"id_a", $"id_b", round($"containment", 4).as("c"))
      .as[(Long, Long, Double)].collect().toSeq
    assert(got == Seq((900002L, 900001L, 1.0)), s"got=$got")
    assert(Dedup.jaccardJoinExact(planted, 0.5, n = 3).count() == 0L)
  }

  test("jaccardJoinExact / containmentJoinExact: one call and collect " +
      "runs each prefix and candidate stage once (bounded Spark job " +
      "count per job group)") {
    // the suite's CACHED documents: above a cached input AQE reuses no
    // exchange (each cached scan becomes its own table-cache stage), so
    // an unpinned subtree read k times runs k times — the shape of a
    // curation job that caches its exact-dedup survivors
    val input = docs.select($"doc_id", $"text")
    docs.count() // build the cache outside the counted groups
    val jac = jobsIn("dedupspec-jaccard") {
      Dedup.jaccardJoinExact(input).collect() }
    val con = jobsIn("dedupspec-containment") {
      Dedup.containmentJoinExact(input).collect() }
    // measured: 13 jobs each with the prefix and candidate frames
    // pinned; 43 (jaccard) and 45 (containment) when every reference
    // re-ran them. The bound leaves a few jobs of slack for AQE's
    // broadcast-or-shuffle choices
    assert(jac > 0 && jac <= 16, s"jaccardJoinExact ran $jac jobs")
    assert(con > 0 && con <= 16, s"containmentJoinExact ran $con jobs")
  }

  test("crossSourceDupMatrix: closed-form pair counts from counts, " +
      "no pair materialization semantics; repartition-stable") {
    // hash x: A×2, B×1 → (A,A)=1, (A,B)=2; z: B×2 → (B,B)=1; y unique
    val docs = Seq(
      ("A", "x"), ("A", "x"), ("A", "y"),
      ("B", "x"), ("B", "z"), ("B", "z")
    ).toDF("source", "text")
    val got = Dedup.crossSourceDupMatrix(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == Map(
      ("A", "A") -> 1L, ("A", "B") -> 2L, ("B", "B") -> 1L))
    val again = Dedup.crossSourceDupMatrix(docs.repartition(5))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(again == got)
    // a 1000-copy hash costs one multiplication: the matrix value is
    // exact without a pair join ever running
    val big = Seq.fill(1000)(("A", "same")).toDF("source", "text")
      .unionByName(Seq.fill(10)(("B", "same")).toDF("source", "text"))
    val m = Dedup.crossSourceDupMatrix(big).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(m == Map(("A", "A") -> 499500L, ("A", "B") -> 10000L,
      ("B", "B") -> 45L))
  }

  test("decontaminationReport: evidence rows name the leaked item, " +
      "count DISTINCT shared grams, and agree with the drop set") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta"),    // full copy of bench 10
      (2L, "x y alpha beta gamma z"),    // partial: 2 shared 3-grams
      (3L, "completely different words here")
    ).toDF("doc_id", "text")
    val bench = Seq(
      (10L, "alpha beta gamma delta"),
      (11L, "nothing matches this one")
    ).toDF("bench_id", "text")
    val got = Dedup.decontaminationReport(corpus, bench, n = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getString(3)))).toMap
    // doc 1 shares both of bench 10's 3-grams; doc 2 shares them too
    // ("alpha beta gamma" + "beta gamma delta"? no — doc 2 lacks
    // delta: only "alpha beta gamma")
    assert(got((1L, 10L)) == ((2L, "alpha beta gamma")))
    assert(got((2L, 10L)) == ((1L, "alpha beta gamma")))
    assert(!got.contains((3L, 10L)) && !got.keys.exists(_._2 == 11L))
    // the report's doc set IS the complement of the decontaminated
    // survivors — same kernel, evidence vs action
    val kept = Dedup.ngramDecontaminate(corpus, bench, n = 3)
      .select($"doc_id").as[Long].collect().toSet
    assert(kept == Set(3L))
    assert(got.keys.map(_._1).toSet == Set(1L, 2L))
  }

  test("crossSourceOverlapMatrix: exact pairwise Jaccard of distinct " +
      "texts; multiplicity ignored; zero-overlap pairs absent") {
    // A = {x, y, z} (y twice — multiplicity must not count),
    // B = {x, y, w}, C = {q}
    val docs = Seq(
      ("A", "x"), ("A", "y"), ("A", "y"), ("A", "z"),
      ("B", "x"), ("B", "y"), ("B", "w"),
      ("C", "q")
    ).toDF("source", "text")
    val got = Dedup.crossSourceOverlapMatrix(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))))
      .toMap
    // |A∩B| = 2, |A∪B| = 4 → 0.5; C overlaps nothing → no row
    assert(got.keySet == Set(("A", "B")))
    assert(got(("A", "B")) == ((3L, 3L, 2L, 0.5)))
    val again = Dedup.crossSourceOverlapMatrix(docs.repartition(5))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        r.getLong(4)).toMap
    assert(again == Map(("A", "B") -> 2L))
  }

  test("lshRecallAudit: full-recall LSH scores 1.0; a crippled " +
      "proposal stage is caught and expected_recall is the S-curve") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = (0 until 12).flatMap { i =>
      val words = (0 until 30).map(k => s"w${(i * 31 + k) % 200}t$k")
      val variant = words.updated(5, "CHANGED").mkString(" ")
      Seq((i.toLong * 2, words.mkString(" ")), (i.toLong * 2 + 1, variant))
    }.toDF("doc_id", "text")
    val lsh = Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.5)
    val full = Dedup.lshRecallAudit(docs, lsh, threshold = 0.5, n = 3)
      .head()
    assert(full.getAs[Long]("n_exact") >= 12L)
    assert(full.getAs[Double]("recall") == 1.0, s"full=$full")
    assert(full.getAs[Double]("precision") == 1.0)
    assert(full.getAs[Double]("expected_recall") > 0.5)
    // crippled: an empty LSH pair set — recall 0, and the audit says so
    val none = lsh.filter(lit(false))
    val broke = Dedup.lshRecallAudit(docs, none, threshold = 0.5, n = 3)
      .head()
    assert(broke.getAs[Double]("recall") == 0.0)
    assert(broke.getAs[Long]("n_lsh") == 0L)
    assert(broke.getAs[Double]("precision") == 1.0) // nothing wrong found
  }

  test("semanticDecontaminate: benchmark members and their near-copies " +
      "drop; distant corpus vectors survive with evidence receipts") {
    import spark.implicits._
    def unit(seed: Int, dim: Int = 8): Array[Float] = {
      val raw = Array.tabulate(dim)(i =>
        (((seed * 131 + i * 37) % 29) - 14) / 14.0f)
      val n = math.sqrt(raw.map(x => x * x).sum).toFloat
      raw.map(_ / math.max(n, 1e-6f))
    }
    val corpus = ((0 until 30).map(i => (i.toLong, unit(i))) ++
      // 100/101: near-copies of benchmark vectors 0 and 1
      Seq((100L, unit(0).map(_ * 0.999f)), (101L, unit(1).map(_ * 0.999f))))
      .toDF("vec_id", "embedding")
    val bench = Seq((0L, unit(0)), (1L, unit(1)))
      .toDF("vec_id", "embedding")
    val (kept, evidence) = Dedup.semanticDecontaminate(corpus, bench,
      threshold = 0.99, nlist = 4, nprobe = 2, kmeansIters = 2)
    val keptIds = kept.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(!keptIds.contains(0L) && !keptIds.contains(1L),
      "benchmark members in the corpus must drop")
    assert(!keptIds.contains(100L) && !keptIds.contains(101L),
      "scaled near-copies (cosine 1.0) must drop")
    assert(keptIds.size >= 20, s"distant vectors survive: ${keptIds.size}")
    val ev = evidence.collect()
    assert(ev.nonEmpty && ev.forall(_.getDouble(2) >= 0.99))
    val evCorpus = ev.map(_.getLong(0)).toSet
    assert(evCorpus.contains(100L) && evCorpus.contains(0L))
  }
}
