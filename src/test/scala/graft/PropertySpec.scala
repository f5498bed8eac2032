package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.expr.{LinkFuncs, UrlKernels}
import graft.llmops.SketchKernels
import graft.services.YearQuarterKernel

/** Generative properties (SURVEY §5.2-4) — ScalaCheck generators with a
  * fixed seed, asserted over bulk samples inside Spark where the
  * operator is a Column, driver-side where it is a kernel.
  */
class PropertySpec extends SparkTestBase {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  test("resolve_url matches java.net.URI on generated clean inputs") {
    val seg = Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString.take(8))
    val base = for {
      host <- seg; p1 <- seg; p2 <- seg
    } yield s"https://$host.example.com/$p1/$p2.html"
    val href = Gen.oneOf(
      seg.map(s => s"$s.pdf"),
      seg.map(s => s"/$s/x.pdf"),
      seg.map(s => s"../$s.pdf"),
      seg.map(s => s"//cdn.example.org/$s"),
      seg.map(s => s"https://other.com/$s"),
      seg.map(s => s"?q=$s"),
      seg.map(s => s"#$s"))
    val cases = samples(Gen.zip(href, base), 300)
    for ((h, b) <- cases) {
      assert(UrlKernels.resolve(h, b) == new java.net.URI(b).resolve(h).toString,
        s"href=$h base=$b")
    }
  }

  test("sanitizeFilename output never contains forbidden chars; idempotent") {
    val g = Gen.listOf(Gen.frequency(
      5 -> Gen.alphaNumChar,
      2 -> Gen.oneOf('<', '>', ':', '"', '/', '\\', '|', '?', '*'),
      1 -> Gen.oneOf(' ', '.', '-', '_'))).map(_.mkString)
    val names = samples(g, 400)
    val out = names.toDF("name")
      .select($"name", LinkFuncs.sanitizeFilename($"name").as("s"),
        LinkFuncs.sanitizeFilename(LinkFuncs.sanitizeFilename($"name")).as("s2"))
      .collect()
    assert(out.forall(r => !r.getString(1).exists("<>:\"/\\|?*".contains(_))))
    assert(out.forall(r => r.getString(1) == r.getString(2)), "not idempotent")
  }

  test("year/quarter extraction: bounds hold and kernels agree with columns") {
    val word = Gen.oneOf("earnings", "report", "results", "call", "presentation")
    val yr = Gen.choose(1985, 2035)
    val q = Gen.choose(1, 4)
    val text = Gen.oneOf(
      Gen.zip(word, q, yr).map { case (w, qq, yy) => s"$w Q$qq $yy" },
      Gen.zip(word, q, yr).map { case (w, qq, yy) => s"$yy Q$qq $w" },
      Gen.zip(word, q, yr).map { case (w, qq, yy) => s"${qq}Q $yy $w" },
      Gen.zip(word, yr).map { case (w, yy) => s"$w $yy" },
      word.map(w => s"just $w"))
    val texts = samples(text, 400)
    val maxYear = 2026
    val colResults = texts.toDF("t")
      .select(LinkFuncs.extractYearQuarter($"t", maxYear).as("yq"))
      .select($"yq.year", $"yq.quarter")
      .collect()
      .map(r => (Option(r.get(0)).map(_.asInstanceOf[Int]),
                 Option(r.get(1)).map(_.asInstanceOf[Int])))
    texts.zip(colResults).foreach { case (t, (cy, cq)) =>
      val (ky, kq) = YearQuarterKernel.yearQuarter(t, maxYear)
      assert((ky, kq) == ((cy, cq)), s"kernel/column disagree on '$t'")
      assert(cy.forall(y => y >= 1990 && y <= maxYear), s"year out of bounds: $t")
      assert(cq.forall(q => q >= 1 && q <= 4))
    }
  }

  test("minhash similarity estimate tracks exact shingle jaccard") {
    val wordG = Gen.oneOf("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta", "iota", "kappa")
    val doc = Gen.listOfN(30, wordG).map(_.mkString(" "))
    def shingles(t: String) = {
      val s = t.toLowerCase.replaceAll("\\s+", " ")
      (0 until math.max(s.length - 4, 1)).map(i => s.substring(i, math.min(i + 5, s.length))).toSet
    }
    val docs = samples(doc, 40)
    for (Seq(a, b) <- docs.grouped(2) if a != b) {
      val exact = {
        val (sa, sb) = (shingles(a), shingles(b))
        (sa & sb).size.toDouble / (sa ++ sb).size
      }
      val est = SketchKernels.signatureSimilarity(
        SketchKernels.minhash(a, 5, 256), SketchKernels.minhash(b, 5, 256))
      assert(math.abs(est - exact) < 0.22, s"est=$est exact=$exact")
    }
  }

  test("dedup is idempotent and never grows") {
    val docs = Tables.documents(spark, sf0001).select($"doc_id", $"text")
    val once = graft.llmops.Dedup.exact(docs)
    val twice = graft.llmops.Dedup.exact(once)
    assert(once.count() <= docs.count())
    assert(twice.count() == once.count())
  }

  test("redactPii is idempotent and leaves no matchable PII behind") {
    val T = graft.llmops.TextFuncs
    // mixed-case locals/hosts: redaction runs on RAW text, so
    // Bob@Example.COM must be caught too (the patterns carry (?i))
    val user = Gen.nonEmptyListOf(Gen.alphaChar).map(_.mkString.take(8))
    val g = for {
      u <- user; h <- user
      p <- Gen.chooseNum(0, 9999)
      a <- Gen.chooseNum(0, 255); b <- Gen.chooseNum(0, 255)
      pre <- Gen.listOfN(4, user).map(_.mkString(" "))
    } yield f"$pre $u@$h.org tel 555-$p%04d ip 10.$a.$b.1 end"
    val texts = samples(g, 300)
    val rows = texts.toDF("t")
      .select($"t",
        T.redactPii($"t").as("r"),
        T.redactPii(T.redactPii($"t")).as("rr"),
        T.emailCount(T.redactPii($"t")).as("e2"),
        T.phoneCount(T.redactPii($"t")).as("p2"),
        T.ipCount(T.redactPii($"t")).as("i2"))
      .collect()
    rows.foreach { row =>
      assert(row.getAs[String]("r") == row.getAs[String]("rr"))
      assert(row.getAs[Int]("e2") == 0 && row.getAs[Int]("p2") == 0
        && row.getAs[Int]("i2") == 0, row.getAs[String]("r"))
      assert(row.getAs[String]("r").contains("<EMAIL>")
        && row.getAs[String]("r").contains("<PHONE>")
        && row.getAs[String]("r").contains("<IP>"))
    }
  }

  test("hash samples are nested: raising the rate only ever adds rows") {
    val S = graft.llmops.Splits
    val docs = Tables.documents(spark, sf0001).select($"doc_id", $"text")
    // md5-prefix thresholds are nested ranges, so a 20% sample is a
    // strict subset of the 50% sample of the same corpus — the
    // property that keeps longitudinal samples comparable as rates
    // are tuned
    val kept = docs.select($"doc_id",
      S.sampleHash($"text", S.stratumThreshold(lit("x"), Map.empty, 0.2)).as("k20"),
      S.sampleHash($"text", S.stratumThreshold(lit("x"), Map.empty, 0.5)).as("k50"))
      .collect()
    assert(kept.forall(r => !r.getAs[Boolean]("k20") || r.getAs[Boolean]("k50")))
    val n20 = kept.count(_.getAs[Boolean]("k20"))
    val n50 = kept.count(_.getAs[Boolean]("k50"))
    assert(n20 < n50 && n50 < kept.length)
  }

  test("packing partitions every doc into exactly one bin; bins fill in order") {
    val wordG = Gen.oneOf("a", "bb", "ccc", "dddd")
    val docG = Gen.chooseNum(1, 40).flatMap(n =>
      Gen.listOfN(n, wordG).map(_.mkString(" ")))
    val texts = samples(docG, 200)
    val df = texts.zipWithIndex
      .map { case (t, i) => (i.toLong, if (i % 2 == 0) "x" else "y", t) }
      .toDF("doc_id", "source", "text")
    val packed = graft.llmops.Packing.packBins(df, targetTokens = 64, streams = 4)
    assert(packed.count() == 200) // 1:1 — no doc lost or duplicated
    // within each (source, stream), bin ids are non-decreasing in doc_id
    // and never skip: bin boundaries come from a running sum
    val rows = packed.select($"source", $"stream", $"doc_id", $"bin_id", $"n_tokens")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .groupBy(t => (t._1, t._2))
    rows.values.foreach { grp =>
      val sorted = grp.sortBy(_._3)
      var cum = 0L
      var prevBin = -1L
      sorted.foreach { case (_, _, _, bin, toks) =>
        assert(bin == cum / 64, s"bin=$bin cum=$cum")
        assert(bin >= prevBin)
        prevBin = bin
        cum += toks
      }
    }
  }

  test("CollectTopK equals sort-take under fuzzed partitions, nulls, NaN") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.types.{DoubleType, LongType}
    type E = (Option[Long], Option[Double])
    val entryG: Gen[E] = for {
      id <- Gen.option(Gen.chooseNum(-5L, 5L)) // small range forces ties
      s <- Gen.option(Gen.oneOf(
        Gen.chooseNum(-2.0, 2.0).map(x => math.rint(x * 4) / 4), // tie-prone
        Gen.oneOf(Double.NaN, Double.PositiveInfinity,
          Double.NegativeInfinity, -0.0, 0.0)))
    } yield (id, s)
    // Spark's (score desc NULLS LAST, id asc NULLS FIRST) total order:
    // NaN largest among scores (so FIRST under desc), -0.0 == 0.0 —
    // java.lang.Double.compare gives both once -0.0 is normalized
    // via s + 0.0
    implicit val ord: Ordering[E] =
      (a, b) => {
        val (aSN, bSN) = (a._2.isEmpty, b._2.isEmpty)
        if (aSN != bSN) { if (aSN) 1 else -1 }
        else {
          val c = if (aSN) 0 else java.lang.Double.compare(
            b._2.get + 0.0, a._2.get + 0.0) // desc, -0.0 normalized
          if (c != 0) c
          else {
            val (aIN, bIN) = (a._1.isEmpty, b._1.isEmpty)
            if (aIN != bIN) { if (aIN) -1 else 1 }
            else if (aIN) 0
            else java.lang.Long.compare(a._1.get, b._1.get)
          }
        }
      }
    // the payload: a function of the whole entry, null for null ids
    def payload(e: E): Option[Long] =
      e._1.map(_ * 1000003L ^ e._2.map(java.lang.Double.doubleToRawLongBits)
        .getOrElse(7L))
    val id = BoundReference(0, LongType, nullable = true)
    val score = BoundReference(1, DoubleType, nullable = true)
    for ((entries, i) <- samples(Gen.listOf(entryG), 200).zipWithIndex;
         withPayload <- Seq(false, true)) {
      val k = 1 + i % 7
      val agg = graft.llmops.CollectTopK(id, score, k,
        if (withPayload) Some(BoundReference(2, LongType, nullable = true))
        else None)
      // split into random partitions, update each, then merge
      val parts = entries.grouped(math.max(1, 1 + i % 4)).toSeq
      val bufs = parts.map { p =>
        p.foldLeft(agg.createAggregationBuffer()) { (b, e) =>
          agg.update(b, InternalRow(e._1.orNull, e._2.orNull,
            payload(e).orNull))
        }
      }
      val merged = bufs.foldLeft(agg.createAggregationBuffer())(agg.merge)
      // round-trip through serialization like a real exchange would
      val got = agg.eval(agg.deserialize(agg.serialize(merged)))
        .asInstanceOf[org.apache.spark.sql.catalyst.util.GenericArrayData]
        .array.toSeq.map { r =>
          val row = r.asInstanceOf[InternalRow]
          (if (row.isNullAt(0)) None else Some(row.getLong(0)),
           if (row.isNullAt(1)) None else Some(row.getDouble(1)),
           if (!withPayload || row.isNullAt(2)) None else Some(row.getLong(2)))
        }
      // original score values survive (incl. -0.0's sign), only the
      // ORDER treats -0.0 == 0.0 — exactly like the window plan; the
      // payload rides its entry, and entries tied on (score, id) keep
      // their input order, as in the stable sort
      val want = entries.sorted.take(k).map(e =>
        (e._1, e._2, if (withPayload) payload(e) else None))
      // NaN-safe compare: stringify
      assert(got.mkString(",") == want.mkString(","),
        s"k=$k payload=$withPayload entries=$entries")
    }
  }

  test("word-ngram kernel equals the HOF formulation on fuzzed unicode") {
    val T = graft.llmops.TextFuncs
    // whitespace-heavy alphabet incl. unicode letters, tabs, newlines,
    // NBSP (not regex-\s!), and case variation — the edges where a
    // hand-rolled tokenizer diverges from split(lower(trim(_)))
    val charG = Gen.frequency(
      6 -> Gen.alphaNumChar,
      2 -> Gen.oneOf(' ', '\t', '\n', '\r'),
      1 -> Gen.oneOf('É', 'ß', '你', 'Ω', ' '),
      1 -> Gen.oneOf('.', ',', '\'', '-'))
    val textG = Gen.listOf(charG).map(_.mkString)
    val texts = samples(textG, 300)
    val df = texts.zipWithIndex.map(_.swap).toDF("i", "t")
    for (n <- Seq(2, 5)) {
      val rows = df
        .select($"i", T.wordNgrams($"t", n).as("fast"),
          T.wordNgramsHof($"t", n).as("hof"))
        .collect()
      rows.foreach { r =>
        assert(r.getSeq[String](1) == r.getSeq[String](2),
          s"n=$n i=${r.getInt(0)} " +
            s"text=${texts(r.getInt(0)).take(40).flatMap(c =>
              if (c < ' ' || c == ' ') f"\\u${c.toInt}%04x" else c.toString)}")
      }
    }
  }

  test("media decoders never throw on fuzzed bytes; WAV mutations stay total") {
    import graft.llmops.Audio.WavCodec
    import graft.llmops.Multimodal.ImageCodec
    // pure fuzz: arbitrary byte arrays (incl. RIFF/GIF/PNG magics spliced in)
    val junk = Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue))
      .map(_.toArray)
    val magic = Gen.oneOf("RIFF", "GIF89a", "PNG", "RIFFxxxxWAVE")
    val fuzzed = Gen.oneOf(junk,
      Gen.zip(magic, junk).map { case (m, b) => m.getBytes("ISO-8859-1") ++ b })
    samples(fuzzed, 400).foreach { bytes =>
      WavCodec.decodeStats(bytes)      // Option — must not throw
      WavCodec.energyHash64(bytes)
      ImageCodec.decodeStats(bytes)
      ImageCodec.dHash64(bytes)
      ImageCodec.decodeFrameStats(bytes)
    }
    // structured fuzz: take a VALID wav and corrupt one byte anywhere —
    // decode must stay total and, when it succeeds, self-consistent
    val wav = WavCodec.encodePcm16Wav(8000, 1,
      Array.tabulate(50)(k => (k * 37 - 600).toShort))
    samples(Gen.zip(Gen.choose(0, wav.length - 1),
      Gen.choose(Byte.MinValue, Byte.MaxValue)), 300).foreach {
      case (pos, b) =>
        val m = wav.clone(); m(pos) = b
        WavCodec.decodeStats(m).foreach { st =>
          assert(st.nFrames >= 0 && st.channels >= 1 && st.sampleRate > 0)
          assert(st.zeroCrossings <= math.max(0, st.nFrames - 1))
        }
    }
  }

  test("pdf codec: fuzzed text round-trips; fuzzed bytes never throw") {
    import graft.llmops.Pdf.PdfCodec
    // text with the full escape surface: parens, backslashes, quotes,
    // angle brackets, percent — anything the literal-string writer
    // must escape or the parser must pass through verbatim
    val line = Gen.listOf(Gen.frequency(
      6 -> Gen.alphaNumChar,
      2 -> Gen.oneOf('(', ')', '\\', '<', '>', '[', ']', '%', '\'', '"'),
      2 -> Gen.oneOf(' ', '.', ',', '-', '/'))).map(_.mkString)
    val doc = Gen.nonEmptyListOf(line).map(_.take(6))
    samples(doc, 200).foreach { lines =>
      val got = PdfCodec.extractText(PdfCodec.encodePdf(lines))
      assert(got.contains(lines.mkString("\n")),
        s"lines=${lines.map(l => s"[$l]")} got=$got")
    }
    // total on fuzz: junk bytes, spliced PDF magic, and single-byte
    // corruptions of a valid document must never throw
    val junk = Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue))
      .map(_.toArray)
    val fuzzed = Gen.oneOf(junk,
      junk.map(b => "%PDF-1.4\n".getBytes("ISO-8859-1") ++ b))
    samples(fuzzed, 300).foreach(bytes => PdfCodec.extractText(bytes))
    val pdf = PdfCodec.encodePdf(Seq("a stable document", "two lines"))
    samples(Gen.zip(Gen.choose(0, pdf.length - 1),
      Gen.choose(Byte.MinValue, Byte.MaxValue)), 300).foreach {
      case (pos, b) =>
        val m = pdf.clone(); m(pos) = b
        PdfCodec.extractText(m) // Option — must not throw
    }
  }

  test("packSequences invariants hold on fuzzed corpora and seq lengths") {
    import graft.llmops.Packing
    val corpusGen = for {
      n <- Gen.choose(1, 60)
      ids <- Gen.pick(n, 0L until 500L)
      toks <- Gen.listOfN(n, Gen.choose(0L, 40L))
    } yield ids.zip(toks).toSeq
    val cases = samples(Gen.zip(corpusGen, Gen.choose(1, 17),
      Gen.choose(1, 9)), 12)
    for ((corpus, l, buckets) <- cases) {
      val df = corpus.toDF("doc_id", "n_toks")
      val frags = Packing.packSequences(df, seqLen = l, buckets = buckets)
        .as[(Long, Long, Long, Long, Long)].collect().toSeq
      val total = corpus.collect { case (_, t) if t >= 1 => t }.sum
      // full coverage: fragment lengths sum to the token total
      assert(frags.map(_._5).sum == total)
      // per-doc coverage is contiguous from offset 0
      frags.groupBy(_._2).foreach { case (id, fs) =>
        val sorted = fs.sortBy(_._3)
        assert(sorted.head._3 == 0)
        assert(sorted.sliding(2).forall {
          case Seq(a, b) => a._3 + a._5 == b._3
          case _ => true
        }, s"doc $id fragments not contiguous")
      }
      // per-seq tiling: offsets cover [0, fill) exactly; fill <= L and
      // every sequence below the last is exactly full
      val bySeq = frags.groupBy(_._1)
      val lastSeq = if (bySeq.isEmpty) -1L else bySeq.keys.max
      bySeq.foreach { case (sid, fs) =>
        val fill = fs.map(_._5).sum
        assert(fill <= l)
        if (sid < lastSeq) assert(fill == l, s"seq $sid underfull")
        val sorted = fs.sortBy(_._4)
        assert(sorted.head._4 == 0)
        assert(sorted.sliding(2).forall {
          case Seq(a, b) => a._4 + a._5 == b._4
          case _ => true
        }, s"seq $sid not tiled")
      }
    }
  }
}
