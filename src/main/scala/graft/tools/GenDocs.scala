package graft.tools

import org.apache.spark.sql.SparkSession

/** Generate a scaled-up synthetic `documents` table with the same
  * statistical shape as the driver's testdata (TESTDATA.md): word-salad
  * text over a small vocabulary, 5 langs (en-heavy), 20 sources,
  * lengths ~45-580 chars, a sprinkle of exact duplicates and near
  * duplicates (a copy with a few words swapped — what MinHash/CC must
  * find). Used only by the local scale probe (SCALING.md): the driver
  * ships sf≤0.1, and substantiating "per-round fixed cost amortizes"
  * for the iterative operators needs one decade more data.
  *
  * Deterministic: every row derives from splitmix64(doc_id), no RNG
  * state — rerunning or repartitioning yields identical bytes.
  *
  *   sbt "runMain graft.tools.Run gen-docs [rows] [outDir]"
  */
private[tools] object GenDocs {
  private val vocab: Array[String] = Array(
    "batch", "part", "spark", "line", "column", "order", "small", "sort",
    "fast", "value", "scan", "merge", "join", "shuffle", "stage", "task",
    "row", "group", "key", "hash", "range", "filter", "map", "reduce",
    "cache", "disk", "memory", "read", "write", "plan", "query", "table",
    "index", "page", "block", "codec", "stream", "state", "window", "event")
  private val langs = Array("en", "en", "de", "es", "fr", "zh")
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private def wordsFor(id: Long): Array[String] = {
    val n = 8 + (math.abs(mix64(id * 31 + 7)) % 90).toInt // 8-97 words ≈ 45-580 chars
    Array.tabulate(n)(i => vocab((math.abs(mix64(id * 131 + i)) % vocab.length).toInt))
  }

  def write(rows: Long, out: String)(spark: SparkSession): Unit = {
    import spark.implicits._

    val docs = spark.range(rows).map { id =>
      val h = mix64(id)
      // ~1.5% near-dups: copy an earlier doc's words, swap a few;
      // ~0.3% exact dups of an earlier doc
      val kind = math.abs(h) % 1000
      val words =
        if (id > 100 && kind < 3) wordsFor(id - 1 - (math.abs(h) % 100))
        else if (id > 100 && kind < 18) {
          val base = wordsFor(id - 1 - (math.abs(h) % 100))
          base.zipWithIndex.map { case (w, i) =>
            if (i % 17 == (id % 17).toInt)
              vocab((math.abs(mix64(id + i)) % vocab.length).toInt)
            else w
          }
        } else wordsFor(id)
      val text = words.mkString(" ")
      val lang = langs((math.abs(mix64(id + 999)) % langs.length).toInt)
      val source = "src" + (math.abs(mix64(id + 555)) % 20)
      (id, text, lang, source, text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")

    docs.coalesce(8).write.mode("overwrite").parquet(s"$out/documents.parquet")
    println(s"wrote $rows rows to $out/documents.parquet")

    // embeddings with the driver testdata's shape, measured from
    // /root/testdata/sf0.1/embeddings.parquet rather than assumed:
    // 64-dim UNIT vectors, isotropic (cosine ~ N(0, 1/sqrt(64)); the
    // label column carries no cosine signal), so pairs >= 0.4 are the
    // ~3.2-sigma random tail — 920 brute-force pairs at n=2000 in the
    // driver corpus vs ~1000 here. On top of that, a planted ~1.5%
    // near-dup population (small jitter on an earlier vector,
    // cosine ≈ 0.98) gives the dedup operators a population the driver
    // corpus lacks. Per-dim = sum of 4 splitmix uniforms (≈ gaussian,
    // so the cosine tail is not distorted by per-dim kurtosis); jitter
    // keys use the negative range so they never collide with raw keys.
    val emb = spark.range(rows).map { id =>
      val dup = id > 100 && math.abs(mix64(id * 13 + 1)) % 1000 < 15
      val baseId: Long = if (dup) id - 1 - (math.abs(mix64(id)) % 100) else id
      val lbl = (math.abs(mix64(baseId * 7 + 3)) % 10).toInt
      val raw = Array.tabulate(64) { d =>
        var s = 0.0
        var k = 0
        while (k < 4) {
          s += (mix64(baseId * 256L + d * 4 + k) % 1000) / 1000.0
          k += 1
        }
        if (dup) s + (mix64(-(id * 64L + d) - 1) % 1000) / 2500.0 else s
      }
      val norm = math.sqrt(raw.map(x => x * x).sum)
      val v = raw.map(x => (x / norm).toFloat)
      (id, v, lbl)
    }.toDF("vec_id", "embedding", "label")
    emb.coalesce(8).write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    println(s"wrote $rows rows to $out/embeddings.parquet")

    // events with the driver testdata's shape (TESTDATA.md /
    // /root/testdata/sf0.1/events.parquet, measured): (event_id, ts,
    // user_id, event_type, value, props), 5 event types, users ≈
    // rows/66.7 (sf0.1: 100k events / 1500 users), timestamps
    // ascending with jitter across a 30-day window from 2024-01-01 —
    // the mix64 arithmetic again, so reruns are byte-identical. This
    // table exists so the events-analytics tier (sessionize, cohorts,
    // funnel, SCD-2, anomalies) has the same 10×-decade scale probe
    // every other operator family gets.
    val eventRows = rows * 20 // driver ratio: 100k events per 5k docs
    val types = Array("click", "error", "purchase", "signup", "view")
    val nUsers = math.max(10L, eventRows * 15L / 1000L)
    val windowMicros = 30L * 24 * 3600 * 1000000 // 30 days
    val baseMicros = java.time.Instant.parse("2024-01-01T00:00:00Z")
      .toEpochMilli * 1000L
    val gap = windowMicros / math.max(1L, eventRows)
    val events = spark.range(eventRows).map { id =>
      val micros = baseMicros + id * gap +
        math.abs(mix64(id * 41 + 9)) % math.max(1L, gap)
      val t = java.sql.Timestamp.from(
        java.time.Instant.ofEpochSecond(micros / 1000000L,
          (micros % 1000000L) * 1000L))
      val user = math.abs(mix64(id * 17 + 5)) % nUsers
      val typ = types((math.abs(mix64(id + 77)) % types.length).toInt)
      val value = (math.abs(mix64(id * 3 + 11)) % 20000) / 100.0
      val props = "{\"k\": " + (math.abs(mix64(id * 7 + 13)) % 100) + "}"
      (id, t, user, typ, value, props)
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    events.coalesce(8).write.mode("overwrite")
      .parquet(s"$out/events.parquet")
    println(s"wrote $eventRows rows to $out/events.parquet")
  }
}
