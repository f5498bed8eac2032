package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkEntry.{materialize, materializing, scratch, t}

/** Queries q51–q100, in number order: each body with its DuckDB
  * oracle and lifecycle flag (see [[Query]]). */
object Q51to100 {

  val all: Seq[Query] = Seq(
    // TF-IDF top terms: explode → tf groupBy → corpus df → idf join —
    // the classic text-analysis shuffle pipeline (words aggregate
    // map-side; the vocabulary-sized df table joins back by word).
    Query("q51_tfidf", (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val words = docs
        .select($"doc_id", explode(split(lower(trim($"text")), "\\s+")).as("word"))
        .filter(length($"word") > 0)
      val tf = words.groupBy($"doc_id", $"word").agg(count(lit(1)).as("tf"))
      val dfreq = words.groupBy($"word").agg(countDistinct($"doc_id").as("df"))
      val nDocs = docs.agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy($"doc_id").orderBy($"tfidf".desc, $"word")
      tf.filter($"doc_id" < 10)
        .join(dfreq, "word")
        .crossJoin(broadcast(nDocs))
        .withColumn("tfidf", $"tf" * log($"n_docs".cast("double") / $"df"))
        .withColumn("rk", row_number().over(w))
        .filter($"rk" <= 3)
        .select($"doc_id", $"word", $"tfidf", $"rk")
        .orderBy($"doc_id", $"rk")
    },
      """WITH w AS (
           SELECT doc_id,
                  unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
           FROM documents),
         w2 AS (SELECT doc_id, word FROM w WHERE length(word) > 0),
         tf AS (SELECT doc_id, word, count(*) AS tf FROM w2 GROUP BY 1, 2),
         df AS (SELECT word, count(DISTINCT doc_id) AS df FROM w2 GROUP BY 1),
         n AS (SELECT count(*) AS n_docs FROM documents)
         SELECT doc_id, word, tfidf, rk FROM (
           SELECT tf.doc_id, tf.word,
                  tf.tf * ln(n.n_docs::double / df.df) AS tfidf,
                  row_number() OVER (PARTITION BY tf.doc_id
                    ORDER BY tf.tf * ln(n.n_docs::double / df.df) DESC, tf.word)
                    AS rk
           FROM tf JOIN df USING (word), n
           WHERE tf.doc_id < 10)
         WHERE rk <= 3 ORDER BY doc_id, rk"""),

    // Decontamination with exact verification: LSH banding PROPOSES
    // (identical texts always agree on every band, so recall is 1.0 at
    // threshold 1.0), an exact text-equality join DISPOSES (a 128-hash
    // sketch can collide for near-identical texts — observed at
    // sf0.1). The query is therefore provably equal to the
    // text-equality oracle at any scale while still exercising the
    // full sketch→band→bucket-join→verify pipeline; the exact compare
    // only ever runs on LSH candidates, never all pairs.
    Query("q52_contamination", (s, d) => {
      import s.implicits._
      val corpus = t(s, d, "documents").select($"doc_id", $"text")
      val bench = corpus.filter($"doc_id" % 100 === 0)
      graft.llmops.Dedup.contaminationPairs(corpus, bench, threshold = 1.0)
        .join(corpus.select($"doc_id".as("corpus_id"), $"text".as("ta")), "corpus_id")
        .join(broadcast(bench.select($"doc_id".as("bench_id"), $"text".as("tb"))),
          "bench_id")
        .filter($"ta" === $"tb")
        .select($"corpus_id", $"bench_id", lit(1.0).as("sim"))
        .orderBy($"corpus_id", $"bench_id")
    },
      """SELECT c.doc_id AS corpus_id, b.doc_id AS bench_id, 1.0 AS sim
         FROM documents c JOIN documents b ON c.text = b.text
         WHERE b.doc_id % 100 = 0
         ORDER BY corpus_id, bench_id"""),

    // Skew-salted fact join: the salt spreads each hot key over 16
    // tasks; the oracle is the PLAIN join — salting must be
    // semantically invisible.
    Query("q53_salted_join", (s, d) => {
      import s.implicits._
      val joined = graft.ops.Skew.saltedJoin(
        t(s, d, "orders").select($"o_custkey".as("c_custkey"), $"o_totalprice"),
        t(s, d, "customer").select($"c_custkey", $"c_mktsegment"),
        key = "c_custkey")
      joined.groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("n_orders"), sum($"o_totalprice").as("revenue"))
        .orderBy($"c_mktsegment")
    },
      """SELECT c_mktsegment, count(*) AS n_orders, sum(o_totalprice) AS revenue
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment"""),

    // Windowed top-k via the bounded-heap aggregate (the batch analog
    // of EventStreams.windowTopK): per-hour top events by value, with
    // the rank-window as the DuckDB oracle — checks TopK's ordering
    // against row_number on a second, independent shape.
    Query("q54_window_topk", (s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .groupBy(date_trunc("hour", $"ts").as("hour"))
        .agg(graft.llmops.TopK.topK($"event_id", $"value", 3).as("topk"))
        .select($"hour", posexplode($"topk").as(Seq("pos", "t")))
        .select($"hour", $"t._1".as("event_id"), $"t._2".as("value"),
          ($"pos" + 1).cast("int").as("rk"))
        .orderBy($"hour", $"rk")
    },
      """SELECT hour, event_id, value, rk FROM (
           SELECT date_trunc('hour', ts) AS hour, event_id, value,
                  row_number() OVER (PARTITION BY date_trunc('hour', ts)
                    ORDER BY value DESC, event_id) AS rk
           FROM events)
         WHERE rk <= 3 ORDER BY hour, rk"""),

    // llmops PII scrubbing: typed redaction of emails / phone numbers /
    // IPv4 addresses with RE2-safe patterns shared verbatim with the
    // oracle. The corpus has no PII, so deterministic synthetic PII is
    // woven in from doc fields (q29 precedent) before redacting.
    Query("q55_pii_redact", (s, d) => {
      import s.implicits._
      val T = graft.llmops.TextFuncs
      val withPii = t(s, d, "documents")
        .filter($"doc_id" < 50)
        .select($"doc_id", concat(
          lit("user"), $"doc_id".cast("string"), lit("@example.com says: "),
          $"text",
          lit(" call 555-"),
          lpad(pmod($"doc_id" * 7919, lit(10000)).cast("string"), 4, "0"),
          lit(" or visit 10."), pmod($"doc_id", lit(256)).cast("string"),
          lit(".0.1")).as("text"))
      withPii.select(
        $"doc_id",
        T.emailCount($"text").as("n_emails"),
        T.phoneCount($"text").as("n_phones"),
        T.ipCount($"text").as("n_ips"),
        length($"text").as("len_before"),
        length(T.redactPii($"text")).as("len_after"),
        substring(T.redactPii($"text"), 1, 30).as("head"))
        .orderBy($"doc_id")
    },
      """WITH withpii AS (
           SELECT doc_id,
                  'user' || doc_id::VARCHAR || '@example.com says: ' || text ||
                  ' call 555-' || lpad(((doc_id * 7919) % 10000)::VARCHAR, 4, '0') ||
                  ' or visit 10.' || (doc_id % 256)::VARCHAR || '.0.1' AS text
           FROM documents WHERE doc_id < 50),
         red AS (
           SELECT doc_id, text,
                  regexp_replace(regexp_replace(regexp_replace(text,
                    '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
                    '\b\d{3}-\d{4}\b', '<PHONE>', 'g'),
                    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS r
           FROM withpii)
         SELECT doc_id,
                len(regexp_extract_all(text, '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}'))::INTEGER AS n_emails,
                len(regexp_extract_all(text, '\b\d{3}-\d{4}\b'))::INTEGER AS n_phones,
                len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))::INTEGER AS n_ips,
                length(text)::INTEGER AS len_before,
                length(r)::INTEGER AS len_after,
                substring(r, 1, 30) AS head
         FROM red ORDER BY doc_id"""),

    // llmops repetition quality filters (Gopher-style): duplicate-word
    // and duplicate-2-gram fractions, aggregated as integer flag counts
    // per source (integer outputs — immune to float-sum ordering).
    Query("q56_repetition", (s, d) => {
      import s.implicits._
      val T = graft.llmops.TextFuncs
      t(s, d, "documents")
        .select($"source",
          T.duplicateWordFraction($"text").as("dw"),
          T.duplicateNgramFraction($"text", 2).as("d2"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when($"dw" > 0.55, 1L).otherwise(0L)).as("n_dup_word_flagged"),
          sum(when($"d2" > 0.05, 1L).otherwise(0L)).as("n_dup_2gram_flagged"))
        .orderBy($"source")
    },
      """WITH base AS (
           SELECT source, string_split_regex(lower(trim(text)), '\s+') AS l
           FROM documents),
         m AS (
           SELECT source, l,
                  list_transform(generate_series(1, greatest(len(l) - 1, 1)),
                    i -> CASE WHEN i < len(l) THEN l[i] || ' ' || l[i+1]
                              ELSE l[i] END) AS g
           FROM base),
         fr AS (
           SELECT source,
                  CASE WHEN len(l) = 0 THEN 0.0
                       ELSE 1.0 - (len(list_distinct(l))::DOUBLE / len(l)) END AS dw,
                  CASE WHEN len(g) = 0 THEN 0.0
                       ELSE 1.0 - (len(list_distinct(g))::DOUBLE / len(g)) END AS d2
           FROM m)
         SELECT source, count(*) AS n_docs,
                sum(CASE WHEN dw > 0.55 THEN 1 ELSE 0 END)::BIGINT AS n_dup_word_flagged,
                sum(CASE WHEN d2 > 0.05 THEN 1 ELSE 0 END)::BIGINT AS n_dup_2gram_flagged
         FROM fr GROUP BY source ORDER BY source"""),

    // llmops sequence packing: concat-and-chunk bin assignment via
    // stream-parallel window cumsum (see Packing for the 100 TB shape),
    // reduced to bin-level stats.
    Query("q57_pack_bins", (s, d) => {
      import s.implicits._
      val packed = graft.llmops.Packing.packBins(
        t(s, d, "documents"), targetTokens = 512, streams = 8)
      graft.llmops.Packing.binStats(packed)
        .orderBy($"source", $"stream", $"bin_id")
    },
      """WITH packed AS (
           SELECT source, doc_id % 8 AS stream, doc_id,
                  (CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE len(string_split_regex(lower(trim(text)), '\s+'))
                   END)::BIGINT AS n_tokens
           FROM documents),
         cum AS (
           SELECT source, stream, n_tokens,
                  sum(n_tokens) OVER (PARTITION BY source, stream ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
           FROM packed),
         b AS (
           SELECT source, stream, n_tokens,
                  floor((cum_tokens - n_tokens) / 512.0)::BIGINT AS bin_id
           FROM cum)
         SELECT source, stream, bin_id, count(*) AS n_docs,
                sum(n_tokens)::BIGINT AS bin_tokens
         FROM b GROUP BY 1, 2, 3 ORDER BY source, stream, bin_id"""),

    // Supplier-region revenue (TPC-H Q5 shape): the fact table streams
    // through a chain of broadcast dimension joins (supplier → nation →
    // region) — zero shuffle until the final low-cardinality aggregate.
    // Revenue is summed in exact integer cent·basis-point space (the
    // prices are 2-decimal) so the total is independent of accumulation
    // order — a double sum over 600k rows lands wherever the shuffle
    // ordered it, which the hash oracle would flag.
    Query("q58_supplier_revenue", (s, d) => {
      import s.implicits._
      val cents = round($"l_extendedprice" * 100).cast("long")
      val discBp = lit(100L) - round($"l_discount" * 100).cast("long")
      t(s, d, "lineitem")
        .join(broadcast(t(s, d, "supplier")), $"l_suppkey" === $"s_suppkey")
        .join(broadcast(t(s, d, "nation")), $"s_nationkey" === $"n_nationkey")
        .join(broadcast(t(s, d, "region")), $"n_regionkey" === $"r_regionkey")
        .groupBy($"r_name")
        .agg(count(lit(1)).as("n_items"),
          sum(cents * discBp).as("rev_units"),
          countDistinct($"s_suppkey").as("n_suppliers"))
        .select($"r_name", $"n_items",
          ($"rev_units" / 10000.0).as("revenue"), $"n_suppliers")
        .orderBy($"r_name")
    },
      """SELECT r_name, count(*) AS n_items,
                sum(round(l_extendedprice * 100)::BIGINT *
                    (100 - round(l_discount * 100)::BIGINT))::BIGINT
                  / 10000.0 AS revenue,
                count(DISTINCT s_suppkey) AS n_suppliers
         FROM lineitem
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name ORDER BY r_name"""),

    // llmops incremental dedup: clean a synthetic delta (fresh docs +
    // copies of corpus docs + within-delta copies) against the
    // persisted corpus sketch tables — corpus text is never touched.
    // Verify dumps both sides' sigs/bands; the oracle replays the
    // two-phase anti-join from them.
    Query("q59_incremental_dedup", (s, d) => {
      import s.implicits._
      val D = graft.llmops.Dedup
      val base = t(s, d, "documents")
      val corpus = base.filter($"doc_id" % 5 =!= 0)
      val fresh = base.filter($"doc_id" % 5 === 0)
      val corpusDups = corpus.filter($"doc_id" % 7 === 1)
        .withColumn("doc_id", $"doc_id" + 1000000L)
      val deltaDups = fresh.filter($"doc_id" % 9 === 0)
        .withColumn("doc_id", $"doc_id" + 3000000L)
      val delta = fresh.unionByName(corpusDups).unionByName(deltaDups)
      // in production these two come from persisted tables (with the
      // plan saved alongside — Models.saveLshPlan); checkpoint here so
      // the corpus is sketched once, not once per consumer. The corpus
      // is sketched under the SAME plan incrementalDedup derives for
      // its default threshold — the split-consistency contract.
      val p = graft.llmops.LshPlan.plan(0.7)
      val cSigs = D.minhashSigs(corpus, numHashes = p.nHashes)
        .localCheckpoint(false)
      val cBands = D.lshBanded(cSigs, p.bands, p.rowsPerBand)
      if (materializing) {
        materialize(cSigs, "q59_csigs")
        materialize(cBands, "q59_cbands")
        val dSigs = D.minhashSigs(delta, numHashes = p.nHashes)
        materialize(dSigs, "q59_dsigs")
        materialize(D.lshBanded(dSigs, p.bands, p.rowsPerBand), "q59_dbands")
      }
      D.incrementalDedup(delta, cBands, cSigs)
        .groupBy($"source").agg(count(lit(1)).as("n_docs"))
        .orderBy($"source")
    },
      s"""WITH delta AS (
           SELECT doc_id, source FROM documents WHERE doc_id % 5 = 0
           UNION ALL
           SELECT doc_id + 1000000, source FROM documents
           WHERE doc_id % 5 <> 0 AND doc_id % 7 = 1
           UNION ALL
           SELECT doc_id + 3000000, source FROM documents
           WHERE doc_id % 5 = 0 AND doc_id % 9 = 0),
         csigs AS (SELECT * FROM read_parquet('$scratch/q59_csigs/*.parquet')),
         dsigs AS (SELECT * FROM read_parquet('$scratch/q59_dsigs/*.parquet')),
         dbands AS (SELECT * FROM read_parquet('$scratch/q59_dbands/*.parquet')),
         cband AS (
           SELECT id, band, band_hash FROM (
             SELECT id, band, band_hash,
                    count(*) OVER (PARTITION BY band, band_hash) AS n
             FROM read_parquet('$scratch/q59_cbands/*.parquet'))
           WHERE n <= 200),
         cand AS (
           SELECT DISTINCT c.id AS corpus_id, d.id AS delta_id
           FROM cband c JOIN dbands d USING (band, band_hash)),
         dup1 AS (
           SELECT DISTINCT delta_id FROM cand
           JOIN csigs cs ON cs.id = cand.corpus_id
           JOIN dsigs ds ON ds.id = cand.delta_id
           WHERE len(list_filter(list_zip(cs.sig, ds.sig), p -> p[1] = p[2]))::DOUBLE
                   / len(cs.sig) >= 0.7),
         clean AS (
           SELECT id FROM dsigs
           WHERE id NOT IN (SELECT delta_id FROM dup1)),
         dband2 AS (
           SELECT id, band, band_hash FROM (
             SELECT id, band, band_hash,
                    count(*) OVER (PARTITION BY band, band_hash) AS n
             FROM dbands WHERE id IN (SELECT id FROM clean))
           WHERE n <= 200),
         cand2 AS (
           SELECT DISTINCT a.id AS id_a, b.id AS id_b
           FROM dband2 a JOIN dband2 b USING (band, band_hash)
           WHERE a.id < b.id),
         dup2 AS (
           SELECT DISTINCT id_b FROM cand2
           JOIN dsigs sa ON sa.id = cand2.id_a
           JOIN dsigs sb ON sb.id = cand2.id_b
           WHERE len(list_filter(list_zip(sa.sig, sb.sig), p -> p[1] = p[2]))::DOUBLE
                   / len(sa.sig) >= 0.7),
         surv AS (
           SELECT id FROM clean WHERE id NOT IN (SELECT id_b FROM dup2))
         SELECT source, count(*) AS n_docs
         FROM delta JOIN surv ON delta.doc_id = surv.id
         GROUP BY source ORDER BY source"""),

    // llmops exact n-gram Jaccard dedup family: MinHash banding
    // PROPOSES candidates (threshold 0.3 — recall knob), the exact
    // word-3-gram set Jaccard DISPOSES (threshold 0.4). The exact set
    // compare only ever runs on bucket-mates. Verify dumps the
    // candidate pairs and the exploded gram table; the oracle
    // recomputes intersections/unions relationally from them.
    Query("q60_ngram_jaccard", (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val D = graft.llmops.Dedup
      if (materializing) {
        materialize(D.minhashPairs(docs, threshold = 0.3)
          .select($"id_a", $"id_b"), "q60_cands")
        materialize(docs.select($"doc_id".as("id"),
          explode(graft.llmops.TextFuncs.wordNgrams($"text", 3)).as("gram")),
          "q60_grams")
      }
      D.ngramJaccardPairs(docs, n = 3, threshold = 0.4)
        .select($"id_a", $"id_b", round($"jaccard", 2).as("jac_bucket"))
        .orderBy($"id_a", $"id_b")
    },
      s"""WITH cand AS (
           SELECT id_a, id_b
           FROM read_parquet('$scratch/q60_cands/*.parquet')),
         grams AS (
           SELECT id, gram
           FROM read_parquet('$scratch/q60_grams/*.parquet')),
         sizes AS (SELECT id, count(*) AS n FROM grams GROUP BY id),
         inter AS (
           SELECT c.id_a, c.id_b, count(*) AS i
           FROM cand c
           JOIN grams ga ON ga.id = c.id_a
           JOIN grams gb ON gb.id = c.id_b AND gb.gram = ga.gram
           GROUP BY c.id_a, c.id_b),
         jac AS (
           SELECT c.id_a, c.id_b,
                  coalesce(i.i, 0)::DOUBLE
                    / (sa.n + sb.n - coalesce(i.i, 0)) AS j
           FROM cand c
           JOIN sizes sa ON sa.id = c.id_a
           JOIN sizes sb ON sb.id = c.id_b
           LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b)
         SELECT id_a, id_b, round(j, 2) AS jac_bucket
         FROM jac WHERE j >= 0.4 ORDER BY id_a, id_b"""),

    // llmops stratified corpus sampling: per-source deterministic
    // rates (downsample-web / keep-books corpus mixing). Keep is a
    // pure function of (source, text) — an md5-prefix range check at
    // 1/65536 granularity — so the sample is stable under reruns,
    // repartitioning, and appends. No shuffle until the count.
    Query("q61_stratified_sample", (s, d) => {
      import s.implicits._
      val S = graft.llmops.Splits
      val thr = S.stratumThreshold($"source",
        Map("src0" -> 0.75, "src1" -> 0.5, "src2" -> 0.25),
        defaultFrac = 0.1)
      t(s, d, "documents")
        .withColumn("keep", S.sampleHash($"text", thr))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when($"keep", 1L).otherwise(0L)).as("n_sampled"))
        .orderBy($"source")
    },
      """SELECT source, count(*) AS n_docs,
                sum(CASE WHEN substring(md5(text), 1, 4) <
                      CASE source WHEN 'src0' THEN 'c000'
                                  WHEN 'src1' THEN '8000'
                                  WHEN 'src2' THEN '4000'
                                  ELSE '199a' END
                    THEN 1 ELSE 0 END)::BIGINT AS n_sampled
         FROM documents GROUP BY source ORDER BY source"""),

    // Bloom-pruned semi-join (explicit runtime-filter shape): the
    // urgent-order key set compresses to bloom bits tested at the
    // lineitem scan, so non-matching rows die before the join shuffle;
    // the exact semi-join behind it disposes of false positives, so
    // the result equals the plain semi-join the oracle runs. Revenue
    // in exact cents (order-independent sum).
    Query("q62_bloom_prune", (s, d) => {
      import s.implicits._
      val urgent = t(s, d, "orders")
        .filter($"o_orderpriority" === "1-URGENT" && $"o_custkey" < 100)
      graft.ops.Bloom.prunedSemiJoin(
          t(s, d, "lineitem"), $"l_orderkey", urgent, $"o_orderkey",
          expectedItems = 10000L, fpp = 0.01)
        .groupBy($"l_returnflag")
        .agg(count(lit(1)).as("n_items"),
          sum(round($"l_extendedprice" * 100).cast("long")).as("sum_cents"))
        .orderBy($"l_returnflag")
    },
      """SELECT l_returnflag, count(*) AS n_items,
                sum(round(l_extendedprice * 100)::BIGINT)::BIGINT AS sum_cents
         FROM lineitem
         WHERE l_orderkey IN (
           SELECT o_orderkey FROM orders
           WHERE o_orderpriority = '1-URGENT' AND o_custkey < 100)
         GROUP BY l_returnflag ORDER BY l_returnflag"""),

    // HLL approximate distinct per source. The estimate itself has no
    // cross-engine oracle (HLL implementations differ), so the
    // contract column IS the oracle: the query asserts the estimate
    // lands within 5% of exact (rsd 0.01 → expected error ~1%), the
    // SQL side emits the literal the assertion must equal — same
    // pattern as q53, where the oracle pins "salting is invisible".
    // At 100 TB this replaces the exact count-distinct shuffle (every
    // distinct text key) with fixed-size mergeable registers.
    Query("q63_approx_distinct", (s, d) => {
      import s.implicits._
      t(s, d, "documents")
        .groupBy($"source")
        .agg(countDistinct($"text").as("n_exact"),
          approx_count_distinct($"text", rsd = 0.01).as("n_approx"))
        .select($"source", $"n_exact",
          (abs($"n_approx" - $"n_exact") <= $"n_exact" * 0.05).as("approx_ok"))
        .orderBy($"source")
    },
      """SELECT source, count(DISTINCT text)::BIGINT AS n_exact,
                TRUE AS approx_ok
         FROM documents GROUP BY source ORDER BY source"""),

    // Deterministic per-group sample: k docs per source chosen by
    // content-hash order — the uniform-but-reproducible spot-check
    // sample (same docs on any cluster, any run). The rank window
    // lowers to WindowGroupLimit, so each task keeps ≤k rows per
    // group before the shuffle.
    Query("q64_group_sample", (s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"source").orderBy(md5($"text"), $"doc_id")
      t(s, d, "documents")
        .withColumn("rk", row_number().over(w))
        .filter($"rk" <= 3)
        .select($"source", $"rk", $"doc_id")
        .orderBy($"source", $"rk")
    },
      """SELECT source, rk, doc_id FROM (
           SELECT source, doc_id,
                  row_number() OVER (PARTITION BY source
                                     ORDER BY md5(text), doc_id) AS rk
           FROM documents)
         WHERE rk <= 3 ORDER BY source, rk"""),

    // Bloom-accelerated exact decontamination: the scale path when the
    // benchmark outgrows the broadcast threshold. Bloom splits the
    // corpus at the scan (misses are definitely clean, zero shuffle);
    // only suspects anti-join the benchmark, on a 192-bit digest pair
    // so text never shuffles. Result ≡ the plain NOT IN the oracle
    // runs.
    Query("q65_bloom_decontam", (s, d) => {
      import s.implicits._
      val corpus = t(s, d, "documents")
      val bench = corpus.filter($"doc_id" % 50 === 0).select($"text")
      graft.llmops.Dedup.bloomDecontaminate(corpus, bench,
          expectedItems = 10000L, fpp = 0.01)
        .groupBy($"source").agg(count(lit(1)).as("n_docs"))
        .orderBy($"source")
    },
      """SELECT source, count(*) AS n_docs
         FROM documents
         WHERE text NOT IN (SELECT text FROM documents WHERE doc_id % 50 = 0)
         GROUP BY source ORDER BY source"""),

    // Deterministic corpus shuffle (training order): sort by a seeded
    // content hash — reproducible "random" order with no RNG, a
    // distributed range-partition sort at full scale. The head-20
    // probe here lowers to TakeOrderedAndProject (per-partition top-k,
    // no global sort materialized).
    Query("q66_corpus_shuffle", (s, d) => {
      import s.implicits._
      t(s, d, "documents")
        .select($"doc_id",
          substring(graft.llmops.Splits.shuffleKey($"text", "seed42"), 1, 8)
            .as("h"))
        .orderBy($"h", $"doc_id")
        .limit(20)
    },
      """SELECT doc_id, substring(md5(text || 'seed42'), 1, 8) AS h
         FROM documents ORDER BY h, doc_id LIMIT 20"""),

    // Quantile binning without a global sort (curriculum bucketing):
    // exact quartile thresholds from ONE aggregation, broadcast back,
    // bin assignment as a narrow map — the scale-correct alternative
    // to ntile's single-partition global window. Char sum per bin in
    // BIGINT (oracle casts DuckDB's HUGEINT).
    Query("q67_quantile_bins", (s, d) => {
      import s.implicits._
      graft.llmops.Binning.quantileBins(
          t(s, d, "documents"), $"n_chars", Seq(0.25, 0.5, 0.75))
        .groupBy($"bin")
        .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"))
        .orderBy($"bin")
    },
      """WITH qs AS (
           SELECT quantile_cont(n_chars, 0.25) AS q1,
                  quantile_cont(n_chars, 0.5) AS q2,
                  quantile_cont(n_chars, 0.75) AS q3
           FROM documents)
         SELECT CASE WHEN n_chars <= q1 THEN 0
                     WHEN n_chars <= q2 THEN 1
                     WHEN n_chars <= q3 THEN 2 ELSE 3 END AS bin,
                count(*) AS n_docs, sum(n_chars)::BIGINT AS sum_chars
         FROM documents, qs
         GROUP BY 1 ORDER BY bin"""),

    // Mergeable HLL sketch tables (Datasketches): per-(source, half)
    // sketches union into per-source estimates — the persisted-sketch
    // pattern for incremental distinct counts (append a sketch row per
    // ingest batch; never rescan the corpus). Like q63 the estimate
    // has no cross-engine oracle, so the contract column pins it:
    // union-of-partial-sketches lands within 5% of the exact global
    // distinct (sketches this small sit in sparse mode — near-exact).
    Query("q68_hll_union", (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val partials = docs
        .withColumn("half", pmod($"doc_id", lit(2)))
        .groupBy($"source", $"half")
        .agg(hll_sketch_agg($"text", lit(12)).as("sk"))
      val unioned = partials.groupBy($"source")
        .agg(hll_sketch_estimate(hll_union_agg($"sk", lit(false)))
          .as("n_approx"))
      docs.groupBy($"source")
        .agg(countDistinct($"text").as("n_exact"))
        .join(unioned, "source")
        .select($"source", $"n_exact",
          (abs($"n_approx" - $"n_exact") <= $"n_exact" * 0.05).as("union_ok"))
        .orderBy($"source")
    },
      """SELECT source, count(DISTINCT text)::BIGINT AS n_exact,
                TRUE AS union_ok
         FROM documents GROUP BY source ORDER BY source"""),

    // ops.ConnectedComponents over the MinHash near-dup pair graph:
    // near-dup clusters with exact transitive-closure semantics
    // (large-star/small-star contraction — O(log n) rounds, shuffles
    // carry only (long,long) edges). Verify dumps the edge list; the
    // DuckDB oracle recomputes components independently with a
    // recursive CTE and compares the full cluster membership.
    Query("q69_dup_clusters", (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val edges = graft.llmops.Dedup.minhashPairs(docs, threshold = 0.7)
        .select($"id_a", $"id_b")
      materialize(edges, "q69_edges")
      graft.ops.ConnectedComponents.components(edges)
        .groupBy($"component")
        .agg(count(lit(1)).as("n_docs"),
          array_join(transform(array_sort(collect_list($"id")),
            _.cast("string")), ",").as("members"))
        .orderBy($"component")
    },
      s"""WITH RECURSIVE sym AS (
           SELECT id_a AS u, id_b AS v
           FROM read_parquet('$scratch/q69_edges/*.parquet')
           UNION
           SELECT id_b, id_a
           FROM read_parquet('$scratch/q69_edges/*.parquet')),
         nodes AS (SELECT DISTINCT u AS id FROM sym),
         walk(id, comp) AS (
           SELECT id, id FROM nodes
           UNION
           SELECT sym.v, walk.comp FROM walk JOIN sym ON sym.u = walk.id),
         labels AS (SELECT id, min(comp) AS component FROM walk GROUP BY id)
         SELECT component, count(*) AS n_docs,
                array_to_string(list_sort(array_agg(id)), ',') AS members
         FROM labels GROUP BY component ORDER BY component"""),

    // Cluster-aware dedup end-to-end: one representative (min id) per
    // connected component survives — the transitive-closure-correct
    // counterpart of q27's single-round endpoint rule.
    Query("q70_cluster_dedup", (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val edges = graft.llmops.Dedup.minhashPairs(docs, threshold = 0.7)
        .select($"id_a", $"id_b")
      materialize(edges, "q70_edges")
      graft.ops.ConnectedComponents.dedupByComponent(docs, edges)
        .groupBy($"source").agg(count(lit(1)).as("n_docs"))
        .orderBy($"source")
    },
      s"""WITH RECURSIVE sym AS (
           SELECT id_a AS u, id_b AS v
           FROM read_parquet('$scratch/q70_edges/*.parquet')
           UNION
           SELECT id_b, id_a
           FROM read_parquet('$scratch/q70_edges/*.parquet')),
         nodes AS (SELECT DISTINCT u AS id FROM sym),
         walk(id, comp) AS (
           SELECT id, id FROM nodes
           UNION
           SELECT sym.v, walk.comp FROM walk JOIN sym ON sym.u = walk.id),
         labels AS (SELECT id, min(comp) AS component FROM walk GROUP BY id),
         dropped AS (SELECT id FROM labels WHERE id <> component)
         SELECT source, count(*) AS n_docs
         FROM documents
         WHERE doc_id NOT IN (SELECT id FROM dropped)
         GROUP BY source ORDER BY source"""),

    // llmops sliding-window chunking: fixed token windows with overlap
    // (window 32, stride 16) — pure narrow pipeline, no shuffle; the
    // whole transform mirrors in SQL (string_split_regex +
    // generate_series + list_slice), so the oracle replays it exactly.
    Query("q71_chunk_windows", (s, d) => {
      import s.implicits._
      graft.llmops.Chunking.slidingChunks(
        t(s, d, "documents").filter($"doc_id" < 40)
          .select($"doc_id", $"text"),
        windowTokens = 32, strideTokens = 16)
        .select($"doc_id", $"chunk_idx", $"chunk_text", $"n_tokens")
        .orderBy($"doc_id", $"chunk_idx")
    },
      """WITH tok AS (
           SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
           FROM documents
           WHERE doc_id < 40 AND length(trim(text)) > 0),
         starts AS (
           SELECT doc_id, toks, len(toks) AS n,
                  unnest(generate_series(0, len(toks) - 1, 16)) AS st
           FROM tok)
         SELECT doc_id, (st // 16)::INTEGER AS chunk_idx,
                array_to_string(list_slice(toks, st + 1, st + 32), ' ')
                  AS chunk_text,
                least(32, n - st)::INTEGER AS n_tokens
         FROM starts
         WHERE st = 0 OR st + 32 - 16 < n
         ORDER BY doc_id, chunk_idx"""),

    // Full-cube grouping sets: every (status, priority) margin in one
    // pass — Catalyst expands the cube map-side, so it's one shuffle,
    // not 4 scans (completes the q31 rollup's grouping-sets surface).
    Query("q72_cube", (s, d) => {
      import s.implicits._
      t(s, d, "orders")
        .cube($"o_orderstatus", $"o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          sum(round($"o_totalprice" * 100).cast("long")).as("sum_cents"))
        .orderBy($"o_orderstatus".asc_nulls_first,
          $"o_orderpriority".asc_nulls_first)
    },
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
                sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS sum_cents
         FROM orders
         GROUP BY CUBE(o_orderstatus, o_orderpriority)
         ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST"""),

    // llmops.Corpus.clean: the composed batch cleaning path (quality
    // gate → PII redact → exact dedup → exact decontaminate) with the
    // sketch stages off, so the oracle replays the WHOLE pipeline in
    // SQL — the near-dup stages are oracle-checked separately
    // (q24/q27/q69/q70). Benchmark = every 50th doc of the same
    // corpus, so decontamination provably removes its exact matches.
    Query("q73_clean_corpus", (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val bench = docs.filter($"doc_id" % 50 === 0).select($"text")
      graft.llmops.Corpus.clean(docs, benchmark = Some(bench),
        minQuality = 0.5)
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum(length($"text")).as("sum_chars"))
        .orderBy($"source")
    },
      """WITH scored AS (
           SELECT doc_id, source, text,
             string_split_regex(lower(trim(text)), '\s+') AS toks,
             length(text) AS n,
             length(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g')) AS np
           FROM documents),
         gated AS (
           SELECT doc_id, source, text FROM scored
           WHERE (CASE WHEN n BETWEEN 50 AND 20000 THEN 0.25 ELSE 0.0 END) +
                 (CASE WHEN len(toks) > 0 AND
                    len(list_filter(toks, t -> t IN
                      ('the','and','of','to','a','in','is','that')))::double
                      / len(toks) >= 0.01 THEN 0.25 ELSE 0.0 END) +
                 (CASE WHEN len(toks) > 0 AND
                    list_sum(list_transform(toks, w -> length(w)))::double
                      / len(toks) BETWEEN 2.0 AND 12.0
                    THEN 0.25 ELSE 0.0 END) +
                 (CASE WHEN n > 0 AND np::double / n <= 0.1
                    THEN 0.25 ELSE 0.0 END) >= 0.5),
         red AS (
           SELECT doc_id, source,
             regexp_replace(regexp_replace(regexp_replace(text,
               '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
               '\b\d{3}-\d{4}\b', '<PHONE>', 'g'),
               '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g')
               AS rtext
           FROM gated),
         ded AS (
           SELECT doc_id, source, rtext,
             row_number() OVER (PARTITION BY rtext ORDER BY doc_id) AS rn
           FROM red),
         bench AS (
           SELECT DISTINCT
             regexp_replace(regexp_replace(regexp_replace(text,
               '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
               '\b\d{3}-\d{4}\b', '<PHONE>', 'g'),
               '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g')
               AS btext
           FROM documents WHERE doc_id % 50 = 0)
         SELECT source, count(*) AS n_docs,
                sum(length(rtext))::BIGINT AS sum_chars
         FROM ded
         WHERE rn = 1 AND rtext NOT IN (SELECT btext FROM bench)
         GROUP BY source ORDER BY source"""),

    // ops.Profiling: one-pass per-column audit (nulls, distinct,
    // min/max). Distinct is HLL++ (the one-pass-at-scale part), so the
    // oracle pins it as a contract against the exact count (q63
    // precedent) while nulls/min/max hash-compare exactly.
    Query("q74_profile", (s, d) => {
      import s.implicits._
      val cols = Seq("o_orderstatus", "o_orderpriority", "o_custkey")
      val prof = graft.ops.Profiling.profile(t(s, d, "orders"), cols)
      val exact = t(s, d, "orders").agg(
        countDistinct($"o_orderstatus").as("o_orderstatus"),
        countDistinct($"o_orderpriority").as("o_orderpriority"),
        countDistinct($"o_custkey").as("o_custkey"))
        .select(stack(lit(3),
          lit("o_orderstatus"), $"o_orderstatus",
          lit("o_orderpriority"), $"o_orderpriority",
          lit("o_custkey"), $"o_custkey")
          .as(Seq("column", "n_distinct")))
      prof.join(exact, "column")
        .select($"column".as("col_name"), $"n_rows", $"n_null",
          $"n_distinct",
          (abs($"n_distinct_approx" - $"n_distinct") <=
            $"n_distinct" * 0.05).as("approx_ok"),
          $"min_value", $"max_value")
        .orderBy($"col_name")
    },
      """SELECT 'o_custkey' AS col_name, count(*) AS n_rows,
                sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)::BIGINT
                  AS n_null,
                count(DISTINCT o_custkey) AS n_distinct, TRUE AS approx_ok,
                coalesce(min(o_custkey)::VARCHAR, '') AS min_value,
                coalesce(max(o_custkey)::VARCHAR, '') AS max_value
         FROM orders
         UNION ALL
         SELECT 'o_orderpriority', count(*),
                sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END)::BIGINT,
                count(DISTINCT o_orderpriority), TRUE,
                coalesce(min(o_orderpriority), ''),
                coalesce(max(o_orderpriority), '')
         FROM orders
         UNION ALL
         SELECT 'o_orderstatus', count(*),
                sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)::BIGINT,
                count(DISTINCT o_orderstatus), TRUE,
                coalesce(min(o_orderstatus), ''),
                coalesce(max(o_orderstatus), '')
         FROM orders
         ORDER BY col_name"""),

    // compression_ratio custom Expression (deflate size / raw size):
    // the kernel has no DuckDB analog, so the oracle pins the
    // CONTRACT — ratios bounded, and a synthetically repetitive
    // variant of each doc always compresses strictly below the
    // natural text (q63/q68 contract-query precedent).
    Query("q75_compression", (s, d) => {
      import s.implicits._
      val C = graft.llmops.Compression
      // length floor 50, not 20: deflate's ~5-byte framing dominates
      // very short texts and can push a legitimate ratio past the 1.1
      // bound — the bound is a property of compressible PROSE, so the
      // contract only asserts it where framing is amortized away.
      t(s, d, "documents")
        .filter(length($"text") >= 50)
        .withColumn("r_nat", C.compressionRatio($"text"))
        .withColumn("r_rep",
          C.compressionRatio(repeat(substring($"text", 1, 20), 50)))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          min($"r_nat" > 0.0 && $"r_nat" <= 1.1).as("ratio_bounded"),
          min($"r_rep" < $"r_nat").as("rep_compresses_more"))
        .orderBy($"source")
    },
      """SELECT source, count(*) AS n_docs,
                TRUE AS ratio_bounded, TRUE AS rep_compresses_more
         FROM documents WHERE length(text) >= 50
         GROUP BY source ORDER BY source"""),

    // llmops n-gram-overlap decontamination (GPT-3-report method):
    // drop corpus docs sharing any word-8-gram with the benchmark
    // slice. Fully SQL-mirrorable (the q71 generate_series/list_slice
    // gram technique), so the oracle replays gram generation, the
    // overlap semi-join, and the anti-join end-to-end.
    Query("q76_ngram_decontam", (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val bench = docs.filter($"doc_id" % 37 === 0).select($"text")
      graft.llmops.Dedup.ngramDecontaminate(docs, bench, n = 8)
        .groupBy($"source").agg(count(lit(1)).as("n_docs"))
        .orderBy($"source")
    },
      """WITH ctoks AS (
           SELECT doc_id, source,
                  string_split_regex(lower(trim(text)), '\s+') AS toks
           FROM documents),
         cgrams AS (
           SELECT doc_id,
                  array_to_string(list_slice(toks, st + 1, st + 8), ' ') AS g
           FROM (SELECT doc_id, toks,
                        unnest(generate_series(0,
                          greatest(len(toks) - 8, 0), 1)) AS st
                 FROM ctoks)),
         bgrams AS (
           SELECT DISTINCT
                  array_to_string(list_slice(toks, st + 1, st + 8), ' ') AS g
           FROM (SELECT toks,
                        unnest(generate_series(0,
                          greatest(len(toks) - 8, 0), 1)) AS st
                 FROM (SELECT string_split_regex(lower(trim(text)), '\s+')
                         AS toks
                       FROM documents WHERE doc_id % 37 = 0))),
         contaminated AS (
           SELECT DISTINCT c.doc_id
           FROM cgrams c JOIN bgrams b ON c.g = b.g)
         SELECT source, count(*) AS n_docs
         FROM documents
         WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
         GROUP BY source ORDER BY source"""),

    // llmops token-budget sampling: keep docs per source, in
    // deterministic content-hash order, until the stream's token quota
    // fills (mixture building with TOKEN quotas). The whole transform
    // — stream assignment, hash order, window cumsum, quota cut —
    // mirrors in ANSI SQL exactly.
    Query("q77_token_budget", (s, d) => {
      import s.implicits._
      graft.llmops.Splits.tokenBudgetSample(
        t(s, d, "documents"), budgetPerGroup = 4000L, streams = 4)
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("sum_tokens"))
        .orderBy($"source")
    },
      """WITH keyed AS (
           SELECT source, doc_id, doc_id % 4 AS stream,
                  md5(text) AS ord,
                  (CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE len(string_split_regex(lower(trim(text)), '\s+'))
                   END)::BIGINT AS n_tokens
           FROM documents),
         cum AS (
           SELECT source, n_tokens,
                  sum(n_tokens) OVER (PARTITION BY source, stream
                                      ORDER BY ord, doc_id
                                      ROWS UNBOUNDED PRECEDING) AS c
           FROM keyed)
         SELECT source, count(*) AS n_docs, sum(n_tokens)::BIGINT AS sum_tokens
         FROM cum WHERE c <= 1000
         GROUP BY source ORDER BY source"""),

    // Forward as-of join (nearest FUTURE right row): same one-shuffle
    // union+carry composition as q41 with the window over descending
    // time. Oracle = DuckDB native ASOF on negated epochs (−lt ≥ −rt
    // ⟺ rt ≥ lt).
    Query("q78_asof_forward", (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
      val signups = ev.filter($"event_type" === "signup")
        .select($"user_id", $"ts".as("sts"), $"event_id".as("next_signup"))
      val others = ev.filter($"event_type" =!= "signup")
        .select($"user_id", $"ts", $"event_id")
      graft.ops.AsOf.joinAsOf(others, signups, Seq("user_id"), "ts", "sts",
        Seq("next_signup"), forward = true)
        .select($"event_id", $"next_signup")
        .orderBy($"event_id")
    },
      """WITH s AS (SELECT user_id, -epoch_us(ts) AS nts,
                           event_id AS next_signup
                    FROM events WHERE event_type = 'signup'),
              o AS (SELECT user_id, -epoch_us(ts) AS nts, event_id
                    FROM events WHERE event_type <> 'signup')
         SELECT o.event_id, s.next_signup
         FROM o ASOF LEFT JOIN s
           ON o.user_id = s.user_id AND o.nts >= s.nts
         ORDER BY o.event_id"""),

    // ops.SnapshotDiff: corpus release diff (added/removed/changed/
    // unchanged) between two derived snapshot versions. The engine
    // compares 24-byte digests; the oracle compares the payloads
    // directly — equivalent modulo hash collisions.
    Query("q79_snapshot_diff", (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val before = docs.filter($"doc_id" % 10 =!= 0)
      val after = docs.filter($"doc_id" % 7 =!= 0)
        .withColumn("text",
          when($"doc_id" % 5 === 0, concat($"text", lit(" v2")))
            .otherwise($"text"))
      graft.ops.SnapshotDiff.summary(before, after,
        valueCols = Seq("lang", "text"))
        .orderBy($"status")
    },
      """WITH b AS (
           SELECT doc_id, lang || ' ' || text AS payload
           FROM documents WHERE doc_id % 10 <> 0),
         a AS (
           SELECT doc_id,
                  lang || ' ' || (CASE WHEN doc_id % 5 = 0
                                       THEN text || ' v2' ELSE text END)
                    AS payload
           FROM documents WHERE doc_id % 7 <> 0)
         SELECT status, count(*) AS n FROM (
           SELECT CASE WHEN b.doc_id IS NULL THEN 'added'
                       WHEN a.doc_id IS NULL THEN 'removed'
                       WHEN b.payload = a.payload THEN 'unchanged'
                       ELSE 'changed' END AS status
           FROM b FULL OUTER JOIN a ON b.doc_id = a.doc_id)
         GROUP BY status ORDER BY status"""),

    // ops.PageRank over a deterministic synthetic link graph (each doc
    // links to 3 modular hub nodes). Three damped power iterations,
    // mirrored by three unrolled CTE stages in the oracle; ranks
    // rounded to 3dp on both sides to absorb float-association drift.
    Query("q80_pagerank", (s, d) => {
      import s.implicits._
      val edges = t(s, d, "documents")
        .select($"doc_id".as("src"),
          explode(array((0 until 3).map(k =>
            pmod($"doc_id" * 7919 + lit(k), lit(500))): _*)).as("dst"))
      graft.ops.PageRank.ranks(edges, iterations = 3)
        .filter($"node" < 40)
        .select($"node", round($"rank", 3).as("rank_3dp"))
        .orderBy($"node")
    },
      """WITH e AS (
           SELECT DISTINCT doc_id AS src, (doc_id * 7919 + k) % 500 AS dst
           FROM documents, (VALUES (0), (1), (2)) AS ks(k)),
         nodes AS (
           SELECT src AS node FROM e UNION SELECT dst FROM e),
         deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
         r0 AS (SELECT node, 1.0::DOUBLE AS rank FROM nodes),
         c1 AS (SELECT e.dst AS node, sum(r0.rank / deg.deg) AS m
                FROM e JOIN deg USING (src) JOIN r0 ON r0.node = e.src
                GROUP BY e.dst),
         r1 AS (SELECT n.node, 0.15 + 0.85 * coalesce(c1.m, 0) AS rank
                FROM nodes n LEFT JOIN c1 ON c1.node = n.node),
         c2 AS (SELECT e.dst AS node, sum(r1.rank / deg.deg) AS m
                FROM e JOIN deg USING (src) JOIN r1 ON r1.node = e.src
                GROUP BY e.dst),
         r2 AS (SELECT n.node, 0.15 + 0.85 * coalesce(c2.m, 0) AS rank
                FROM nodes n LEFT JOIN c2 ON c2.node = n.node),
         c3 AS (SELECT e.dst AS node, sum(r2.rank / deg.deg) AS m
                FROM e JOIN deg USING (src) JOIN r2 ON r2.node = e.src
                GROUP BY e.dst),
         r3 AS (SELECT n.node, 0.15 + 0.85 * coalesce(c3.m, 0) AS rank
                FROM nodes n LEFT JOIN c3 ON c3.node = n.node)
         SELECT node, round(rank, 3) AS rank_3dp
         FROM r3 WHERE node < 40 ORDER BY node"""),

    // Native set operations (SURVEY §2.6 noted the reference needs
    // none beyond anti-join; declared here to round out the algebra):
    // customers active in BOTH halves of 1995 vs only the first half.
    Query("q81_set_ops", (s, d) => {
      import s.implicits._
      val o = t(s, d, "orders")
      val h1 = o.filter($"o_orderdate".between("1995-01-01", "1995-06-30"))
        .select($"o_custkey")
      val h2 = o.filter($"o_orderdate".between("1995-07-01", "1995-12-31"))
        .select($"o_custkey")
      h1.intersect(h2).agg(count(lit(1)).as("n_both"))
        .crossJoin(h1.except(h2).agg(count(lit(1)).as("n_only_h1")))
    },
      """WITH h1 AS (
           SELECT o_custkey FROM orders
           WHERE o_orderdate BETWEEN '1995-01-01' AND '1995-06-30'),
         h2 AS (
           SELECT o_custkey FROM orders
           WHERE o_orderdate BETWEEN '1995-07-01' AND '1995-12-31')
         SELECT
           (SELECT count(*) FROM (SELECT * FROM h1 INTERSECT SELECT * FROM h2))
             AS n_both,
           (SELECT count(*) FROM (SELECT * FROM h1 EXCEPT SELECT * FROM h2))
             AS n_only_h1"""),

    // The spark.sql entry path end-to-end: CTE + correlated EXISTS +
    // window rank in ONE ANSI statement over temp views — the oracle
    // runs the identical SQL.
    Query("q82_sql_surface", (s, d) => {
      t(s, d, "orders").createOrReplaceTempView("orders_v")
      t(s, d, "customer").createOrReplaceTempView("customer_v")
      s.sql("""
        WITH freq AS (
          SELECT o_custkey, count(*) AS n_orders
          FROM orders_v GROUP BY o_custkey)
        SELECT c_mktsegment, count(*) AS n_cust,
               max(n_orders) AS max_orders
        FROM customer_v c JOIN freq f ON f.o_custkey = c.c_custkey
        WHERE EXISTS (
          SELECT 1 FROM freq b
          WHERE b.o_custkey = c.c_custkey AND b.n_orders >= 10)
        GROUP BY c_mktsegment ORDER BY c_mktsegment""")
    },
      """WITH freq AS (
           SELECT o_custkey, count(*) AS n_orders
           FROM orders GROUP BY o_custkey)
         SELECT c_mktsegment, count(*) AS n_cust,
                max(n_orders) AS max_orders
         FROM customer c JOIN freq f ON f.o_custkey = c.c_custkey
         WHERE EXISTS (
           SELECT 1 FROM freq b
           WHERE b.o_custkey = c.c_custkey AND b.n_orders >= 10)
         GROUP BY c_mktsegment ORDER BY c_mktsegment"""),

    // llmops ANN, IVF with the Lloyd-refined quantizer (kmeansIters>0
    // — the production-shape path; q43 covers the hash-sampled seed).
    // The centroids are trained ONCE and shared between the verify
    // dump and the query via ivfTopKWithCentroids, so the oracle's
    // replay (probe join → cosine → rank over the dumped inverted
    // lists) is exact regardless of float drift in re-training.
    Query("q83_ivf_kmeans", (s, d) => {
      import s.implicits._
      val I = graft.llmops.Ivf
      val emb = t(s, d, "embeddings")
      val q = emb.filter($"vec_id" < 5)
        .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
      val cents = I.kmeansCentroids(emb, nlist = 16, iters = 2)
      if (materializing) {
        materialize(emb.select($"vec_id",
          element_at(I.nearest_centroids($"embedding", cents, 1), 1)
            .as("list_id")), "q83_assigned")
        materialize(q.select($"query_id",
          explode(I.nearest_centroids($"query_vec", cents, 4)).as("list_id")),
          "q83_probes")
      }
      I.ivfTopKWithCentroids(emb, q, k = 5, cents, nprobe = 4)
        .select($"query_id", $"vec_id", round($"sim", 4).as("sim"), $"rk")
        .orderBy($"query_id", $"rk")
    },
      s"""WITH scored AS (
           SELECT p.query_id, a.vec_id,
                  list_cosine_similarity(ce.embedding::DOUBLE[], qe.embedding::DOUBLE[]) AS sim
           FROM read_parquet('$scratch/q83_assigned/*.parquet') a
           JOIN read_parquet('$scratch/q83_probes/*.parquet') p USING (list_id)
           JOIN embeddings ce ON ce.vec_id = a.vec_id
           JOIN embeddings qe ON qe.vec_id = p.query_id
           WHERE a.vec_id <> p.query_id),
         ranked AS (
           SELECT query_id, vec_id, sim,
                  row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rk
           FROM scored)
         SELECT query_id, vec_id, round(sim, 4) AS sim, rk::INTEGER AS rk
         FROM ranked WHERE rk <= 5 ORDER BY query_id, rk"""),

    // llmops vocabulary induction: one BPE merge-selection round —
    // frequency-weighted adjacent char-pair counts over the word
    // dictionary (aggregate-before-explode; Vocab.scala).
    Query("q84_bpe_pairs", (s, d) => {
      import s.implicits._
      graft.llmops.Vocab.bpePairCounts(t(s, d, "documents"), $"text")
        .orderBy($"cnt".desc, $"pair")
        .limit(30)
    },
      """WITH words AS (
           SELECT w, count(*) AS wc FROM (
             SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
             FROM documents)
           WHERE length(w) >= 2 GROUP BY w),
         pos AS (
           SELECT w, wc, unnest(range(1, length(w)::BIGINT)) AS g FROM words)
         SELECT substring(w, g::INT, 2) AS pair, sum(wc)::BIGINT AS cnt
         FROM pos GROUP BY 1 ORDER BY cnt DESC, pair LIMIT 30"""),

    // llmops semantic near-dup pairs: IVF-cluster-scoped cosine (the
    // LSH-free bucketing — quantizer adapts to cluster structure where
    // q26's random hyperplanes are data-blind). Centroids trained once
    // and shared with the assignment dump, like q83; the oracle
    // replays cap → within-list pairs → cosine from the dumped lists.
    Query("q85_semantic_dedup", (s, d) => {
      import s.implicits._
      val I = graft.llmops.Ivf
      val emb = t(s, d, "embeddings")
      val cents = I.kmeansCentroids(emb, nlist = 64, iters = 2)
      if (materializing) {
        materialize(emb.select($"vec_id",
          explode(I.nearest_centroids($"embedding", cents, 2)).as("list_id")),
          "q85_assigned")
      }
      graft.llmops.Dedup.semanticPairsWithCentroids(
          emb, threshold = 0.4, cents, nprobe = 2)
        .select($"id_a", $"id_b", round($"sim", 2).as("sim_bucket"))
        .orderBy($"id_a", $"id_b")
    },
      s"""WITH assigned AS (
           SELECT vec_id, list_id FROM (
             SELECT vec_id, list_id,
                    count(*) OVER (PARTITION BY list_id) AS list_n
             FROM read_parquet('$scratch/q85_assigned/*.parquet'))
           WHERE list_n <= 200),
         cand AS (
           SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
           FROM assigned a JOIN assigned b USING (list_id)
           WHERE a.vec_id < b.vec_id),
         sims AS (
           SELECT id_a, id_b,
                  list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]) AS sim
           FROM cand JOIN embeddings ea ON ea.vec_id = cand.id_a
                     JOIN embeddings eb ON eb.vec_id = cand.id_b)
         SELECT id_a, id_b, round(sim, 2) AS sim_bucket
         FROM sims WHERE sim >= 0.4 ORDER BY id_a, id_b"""),

    // llmops IMI semantic pairs: the corpus-scale variant of q85 — a
    // two-level product quantizer (k² lists from 2·k half-codebooks)
    // whose assignment cost grows as √nlist instead of nlist. Same
    // oracle contract as q85: the dumped (vec_id, list_id) assignment
    // is replayed cap → within-list pairs → cosine in SQL.
    Query("q86_imi_dedup", (s, d) => {
      import s.implicits._
      val I = graft.llmops.Ivf
      val emb = t(s, d, "embeddings")
      val (c1, c2) = I.imiCentroids(emb, k = 8, iters = 2)
      if (materializing) {
        materialize(emb.select($"vec_id",
          explode(I.imiLists($"embedding", c1, c2, 2)).as("list_id")),
          "q86_assigned")
      }
      graft.llmops.Dedup.semanticPairsImiWithCentroids(
          emb, threshold = 0.4, c1, c2, p = 2)
        .select($"id_a", $"id_b", round($"sim", 2).as("sim_bucket"))
        .orderBy($"id_a", $"id_b")
    },
      s"""WITH assigned AS (
           SELECT vec_id, list_id FROM (
             SELECT vec_id, list_id,
                    count(*) OVER (PARTITION BY list_id) AS list_n
             FROM read_parquet('$scratch/q86_assigned/*.parquet'))
           WHERE list_n <= 200),
         cand AS (
           SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
           FROM assigned a JOIN assigned b USING (list_id)
           WHERE a.vec_id < b.vec_id),
         sims AS (
           SELECT id_a, id_b,
                  list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]) AS sim
           FROM cand JOIN embeddings ea ON ea.vec_id = cand.id_a
                     JOIN embeddings eb ON eb.vec_id = cand.id_b)
         SELECT id_a, id_b, round(sim, 2) AS sim_bucket
         FROM sims WHERE sim >= 0.4 ORDER BY id_a, id_b"""),

    // llmops product-quantization ANN: the corpus compresses to m=8
    // codeword ids per vector (8 bytes vs 256 of raw floats — the
    // at-scale memory story) and queries rank by the ADC inner
    // product against codeword reconstructions. Oracle contract:
    // the dumped per-vector codes + the codebook table let DuckDB
    // rebuild every reconstruction and replay the exact scoring —
    // the L2 k-means encode kernel itself has no SQL analog, but
    // everything downstream of the codes is relational.
    Query("q87_pq_adc_topk", (s, d) => {
      import s.implicits._
      val I = graft.llmops.Ivf
      val emb = t(s, d, "embeddings")
      val books = I.pqCodebooks(emb, m = 8, k = 16, iters = 2)
      if (materializing) {
        materialize(emb.where($"embedding".isNotNull)
          .select($"vec_id",
            posexplode(I.pqEncode($"embedding", books)).as(Seq("sub", "code"))),
          "q87_codes")
        val flat = for {
          sub <- books.indices; code <- books(sub).indices
          sdim <- books(sub)(code).indices
        } yield (sub, code, sdim, books(sub)(code)(sdim).toDouble)
        materialize(flat.toDF("sub", "code", "sdim", "w"), "q87_codebooks")
      }
      val q = emb.filter($"vec_id" < 5)
        .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
      I.pqTopKWithBooks(emb, q, k = 5, books)
        .orderBy($"query_id", $"rk")
    },
      // the PQ encode kernel (L2 k-means codeword assignment) has no SQL
      // analog; the dumped codes + codebook rows let the oracle rebuild
      // every codeword reconstruction and replay the ADC scoring exactly
      s"""WITH codes AS (
           SELECT vec_id, sub, code
           FROM read_parquet('$scratch/q87_codes/*.parquet')),
         cb AS (
           SELECT sub, code, sdim, w
           FROM read_parquet('$scratch/q87_codebooks/*.parquet')),
         q AS (
           SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 5),
         recon AS (
           SELECT c.vec_id, cb.sub * 8 + cb.sdim AS dim, cb.w
           FROM codes c JOIN cb ON cb.sub = c.sub AND cb.code = c.code),
         scored AS (
           SELECT q.query_id, r.vec_id,
                  round(sum(r.w * q.embedding[r.dim + 1]::DOUBLE), 6) AS sim
           FROM recon r CROSS JOIN q
           WHERE r.vec_id <> q.query_id
           GROUP BY q.query_id, r.vec_id)
         SELECT query_id, vec_id, sim, rk FROM (
           SELECT query_id, vec_id, sim,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY sim DESC, vec_id) AS rk
           FROM scored WHERE sim IS NOT NULL)
         WHERE rk <= 5 ORDER BY query_id, rk"""),

    // llmops IVFADC: the standard composition of both pruning axes —
    // coarse lists bound WHICH candidates a query meets (q43's probe
    // join), PQ codes bound what each candidate COSTS (q87's ADC
    // scan). The oracle replays candidate generation (probes ⋈
    // assigned lists) and scoring (codeword reconstruction dot) from
    // four dumped deterministic tables.
    Query("q88_ivfadc_topk", (s, d) => {
      import s.implicits._
      val I = graft.llmops.Ivf
      val emb = t(s, d, "embeddings")
      val cents = I.kmeansCentroids(emb, nlist = 16, iters = 2)
      val books = I.pqCodebooks(emb, m = 8, k = 16, iters = 2)
      val q = emb.filter($"vec_id" < 5)
        .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
      if (materializing) {
        materialize(emb.where($"embedding".isNotNull).select($"vec_id",
          element_at(I.nearest_centroids($"embedding", cents, 1), 1)
            .as("list_id")), "q88_assigned")
        materialize(q.select($"query_id",
          explode(I.nearest_centroids($"query_vec", cents, 4))
            .as("list_id")), "q88_probes")
        materialize(emb.where($"embedding".isNotNull).select($"vec_id",
          posexplode(I.pqEncode($"embedding", books)).as(Seq("sub", "code"))),
          "q88_codes")
        val flat = for {
          sub <- books.indices; code <- books(sub).indices
          sdim <- books(sub)(code).indices
        } yield (sub, code, sdim, books(sub)(code)(sdim).toDouble)
        materialize(flat.toDF("sub", "code", "sdim", "w"), "q88_codebooks")
      }
      I.ivfAdcTopKWithModels(emb, q, k = 5, cents, books, nprobe = 4)
        .orderBy($"query_id", $"rk")
    },
      s"""WITH assigned AS (
           SELECT vec_id, list_id
           FROM read_parquet('$scratch/q88_assigned/*.parquet')),
         probes AS (
           SELECT query_id, list_id
           FROM read_parquet('$scratch/q88_probes/*.parquet')),
         codes AS (
           SELECT vec_id, sub, code
           FROM read_parquet('$scratch/q88_codes/*.parquet')),
         cb AS (
           SELECT sub, code, sdim, w
           FROM read_parquet('$scratch/q88_codebooks/*.parquet')),
         q AS (
           SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 5),
         cand AS (
           SELECT DISTINCT p.query_id, a.vec_id
           FROM probes p JOIN assigned a USING (list_id)
           WHERE a.vec_id <> p.query_id),
         recon AS (
           SELECT c.vec_id, cb.sub * 8 + cb.sdim AS dim, cb.w
           FROM codes c JOIN cb ON cb.sub = c.sub AND cb.code = c.code),
         scored AS (
           SELECT cand.query_id, cand.vec_id,
                  round(sum(r.w * q.embedding[r.dim + 1]::DOUBLE), 6) AS sim
           FROM cand JOIN recon r ON r.vec_id = cand.vec_id
                     JOIN q ON q.query_id = cand.query_id
           GROUP BY cand.query_id, cand.vec_id)
         SELECT query_id, vec_id, sim, rk FROM (
           SELECT query_id, vec_id, sim,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY sim DESC, vec_id) AS rk
           FROM scored WHERE sim IS NOT NULL)
         WHERE rk <= 5 ORDER BY query_id, rk"""),

    // Quality CONTRACT for the approximate operators: q87/q88 pin exact
    // replay of the approximate result, so a quantizer bug that stays
    // self-consistent (bad training, degraded pruning) slips through —
    // this row pins IVFADC quality against the independently computed
    // exact baseline, the q63/q74 estimate-within-contract pattern.
    // Metric: the effectiveness ratio (true-dot sum of the approx
    // picks / true-dot sum of the exact top-5 under the same inner-
    // product metric) — ≤ 1 by construction, robust to the near-tied
    // margins that make set-recall flap, and it craters on a real
    // regression. n_hits/recall ride along as diagnostics. The oracle
    // recomputes BOTH sides: exact top-5 from raw embeddings
    // (list_inner_product), approx top-5 from the dumped
    // assignment/probe/code/codebook tables.
    Query("q89_ann_recall", (s, d) => {
      import s.implicits._
      val I = graft.llmops.Ivf
      val emb = t(s, d, "embeddings")
      val cents = I.kmeansCentroids(emb, nlist = 16, iters = 2)
      // the hi-fi config (dsub=4, 64 codewords): the m8k16 default is
      // honest about this corpus's near-tied dot margins but too noisy
      // to contract on — measured min ratio 0.84 here vs 0.44 there
      val books = I.pqCodebooks(emb, m = 16, k = 64, iters = 2)
      val q = emb.filter($"vec_id" < 5)
        .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
      if (materializing) {
        materialize(emb.where($"embedding".isNotNull).select($"vec_id",
          element_at(I.nearest_centroids($"embedding", cents, 1), 1)
            .as("list_id")), "q89_assigned")
        materialize(q.select($"query_id",
          explode(I.nearest_centroids($"query_vec", cents, 8))
            .as("list_id")), "q89_probes")
        materialize(emb.where($"embedding".isNotNull).select($"vec_id",
          posexplode(I.pqEncode($"embedding", books)).as(Seq("sub", "code"))),
          "q89_codes")
        val flat = for {
          sub <- books.indices; code <- books(sub).indices
          sdim <- books(sub)(code).indices
        } yield (sub, code, sdim, books(sub)(code)(sdim).toDouble)
        materialize(flat.toDF("sub", "code", "sdim", "w"), "q89_codebooks")
      }
      val approx = I.ivfAdcTopKWithModels(emb, q, k = 5, cents, books,
        nprobe = 8)
      // exact baseline under the SAME metric the ADC family ranks by
      // (inner product), self-pairs excluded like the approx path;
      // q49's bounded-heap shape with the dot kernel
      val exactScored = emb.join(broadcast(q))
        .filter($"vec_id" =!= $"query_id")
        .withColumn("sim",
          graft.llmops.VectorFuncs.dotp($"embedding", $"query_vec"))
      val exact = exactScored
        .groupBy($"query_id")
        .agg(graft.llmops.TopK.topK($"vec_id", $"sim", 5).as("topk"))
        .select($"query_id", explode($"topk").as("t"))
        .select($"query_id", $"t._1".as("vec_id"), $"t._2".as("sim"))
      val trueDots = exactScored.select($"query_id", $"vec_id", $"sim")
      val sApprox = approx.select($"query_id", $"vec_id")
        .join(trueDots, Seq("query_id", "vec_id"))
        .groupBy($"query_id").agg(sum($"sim").as("sa"))
      val sExact = exact.groupBy($"query_id").agg(sum($"sim").as("se"))
      val hits = exact.select($"query_id", $"vec_id")
        .join(approx.select($"query_id", $"vec_id"),
          Seq("query_id", "vec_id"))
        .groupBy($"query_id").agg(count(lit(1)).as("h"))
      sExact
        .join(hits, Seq("query_id"), "left")
        .join(sApprox, Seq("query_id"), "left")
        .select($"query_id",
          coalesce($"h", lit(0L)).as("n_hits"),
          (coalesce($"h", lit(0L)) / 5.0).as("recall"),
          round(coalesce($"sa", lit(0.0)) / $"se", 4).as("score_ratio"),
          (round(coalesce($"sa", lit(0.0)) / $"se", 4) >= 0.5)
            .as("recall_ok"))
        .orderBy($"query_id")
    },
      s"""WITH assigned AS (
           SELECT vec_id, list_id
           FROM read_parquet('$scratch/q89_assigned/*.parquet')),
         probes AS (
           SELECT query_id, list_id
           FROM read_parquet('$scratch/q89_probes/*.parquet')),
         codes AS (
           SELECT vec_id, sub, code
           FROM read_parquet('$scratch/q89_codes/*.parquet')),
         cb AS (
           SELECT sub, code, sdim, w
           FROM read_parquet('$scratch/q89_codebooks/*.parquet')),
         q AS (
           SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 5),
         cand AS (
           SELECT DISTINCT p.query_id, a.vec_id
           FROM probes p JOIN assigned a USING (list_id)
           WHERE a.vec_id <> p.query_id),
         recon AS (
           SELECT c.vec_id, cb.sub * 4 + cb.sdim AS dim, cb.w
           FROM codes c JOIN cb ON cb.sub = c.sub AND cb.code = c.code),
         scored AS (
           SELECT cand.query_id, cand.vec_id,
                  round(sum(r.w * q.embedding[r.dim + 1]::DOUBLE), 6) AS sim
           FROM cand JOIN recon r ON r.vec_id = cand.vec_id
                     JOIN q ON q.query_id = cand.query_id
           GROUP BY cand.query_id, cand.vec_id),
         approx AS (
           SELECT query_id, vec_id FROM (
             SELECT query_id, vec_id,
                    row_number() OVER (PARTITION BY query_id
                      ORDER BY sim DESC, vec_id) AS rk
             FROM scored WHERE sim IS NOT NULL)
           WHERE rk <= 5),
         exact AS (
           SELECT query_id, vec_id, sim FROM (
             SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
                    list_inner_product(c.embedding::DOUBLE[], q.embedding::DOUBLE[]) AS sim,
                    row_number() OVER (PARTITION BY q.vec_id
                      ORDER BY list_inner_product(c.embedding::DOUBLE[], q.embedding::DOUBLE[]) DESC,
                               c.vec_id) AS rk
             FROM embeddings c, embeddings q
             WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id)
           WHERE rk <= 5),
         se AS (
           SELECT query_id, sum(sim) AS se FROM exact GROUP BY query_id),
         sa AS (
           SELECT a.query_id,
                  sum(list_inner_product(c.embedding::DOUBLE[], q.embedding::DOUBLE[])) AS sa
           FROM approx a JOIN embeddings c ON c.vec_id = a.vec_id
                         JOIN q ON q.query_id = a.query_id
           GROUP BY a.query_id),
         h AS (
           SELECT e.query_id, count(a.vec_id) AS n_hits
           FROM exact e LEFT JOIN approx a
             ON a.query_id = e.query_id AND a.vec_id = e.vec_id
           GROUP BY e.query_id)
         SELECT se.query_id, h.n_hits, h.n_hits / 5.0 AS recall,
                round(coalesce(sa.sa, 0) / se.se, 4) AS score_ratio,
                round(coalesce(sa.sa, 0) / se.se, 4) >= 0.5 AS recall_ok
         FROM se JOIN h ON h.query_id = se.query_id
                 LEFT JOIN sa ON sa.query_id = se.query_id
         ORDER BY se.query_id"""),

    // llmops IMI+ADC: the corpus-scale composition — √nlist coarse
    // assignment (q86's multi-index) over the m-int ADC scan (q87).
    // Oracle replays candidate generation from product-list ids and
    // scoring from codeword reconstructions, exactly the q88 pattern.
    Query("q90_imi_adc_topk", (s, d) => {
      import s.implicits._
      val I = graft.llmops.Ivf
      val emb = t(s, d, "embeddings")
      val (c1, c2) = I.imiCentroids(emb, k = 4, iters = 2)
      val books = I.pqCodebooks(emb, m = 8, k = 16, iters = 2)
      val q = emb.filter($"vec_id" < 5)
        .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
      if (materializing) {
        materialize(emb.where($"embedding".isNotNull).select($"vec_id",
          element_at(I.imiLists($"embedding", c1, c2, 1), 1)
            .as("list_id")), "q90_assigned")
        materialize(q.select($"query_id",
          explode(I.imiLists($"query_vec", c1, c2, 2)).as("list_id")),
          "q90_probes")
        materialize(emb.where($"embedding".isNotNull).select($"vec_id",
          posexplode(I.pqEncode($"embedding", books)).as(Seq("sub", "code"))),
          "q90_codes")
        val flat = for {
          sub <- books.indices; code <- books(sub).indices
          sdim <- books(sub)(code).indices
        } yield (sub, code, sdim, books(sub)(code)(sdim).toDouble)
        materialize(flat.toDF("sub", "code", "sdim", "w"), "q90_codebooks")
      }
      I.imiAdcTopKWithModels(emb, q, k = 5, c1, c2, books, p = 2)
        .orderBy($"query_id", $"rk")
    },
      s"""WITH assigned AS (
           SELECT vec_id, list_id
           FROM read_parquet('$scratch/q90_assigned/*.parquet')),
         probes AS (
           SELECT query_id, list_id
           FROM read_parquet('$scratch/q90_probes/*.parquet')),
         codes AS (
           SELECT vec_id, sub, code
           FROM read_parquet('$scratch/q90_codes/*.parquet')),
         cb AS (
           SELECT sub, code, sdim, w
           FROM read_parquet('$scratch/q90_codebooks/*.parquet')),
         q AS (
           SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 5),
         cand AS (
           SELECT DISTINCT p.query_id, a.vec_id
           FROM probes p JOIN assigned a USING (list_id)
           WHERE a.vec_id <> p.query_id),
         recon AS (
           SELECT c.vec_id, cb.sub * 8 + cb.sdim AS dim, cb.w
           FROM codes c JOIN cb ON cb.sub = c.sub AND cb.code = c.code),
         scored AS (
           SELECT cand.query_id, cand.vec_id,
                  round(sum(r.w * q.embedding[r.dim + 1]::DOUBLE), 6) AS sim
           FROM cand JOIN recon r ON r.vec_id = cand.vec_id
                     JOIN q ON q.query_id = cand.query_id
           GROUP BY cand.query_id, cand.vec_id)
         SELECT query_id, vec_id, sim, rk FROM (
           SELECT query_id, vec_id, sim,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY sim DESC, vec_id) AS rk
           FROM scored WHERE sim IS NOT NULL)
         WHERE rk <= 5 ORDER BY query_id, rk"""),

    // llmops residual IVFADC (IVFADC proper, Jégou §V.A): codes
    // quantize (vec − coarse centroid); score = centroid_dot +
    // residual reconstruction dot. The oracle adds one CTE to the q88
    // replay: the per-(query, list) centroid term, rebuilt from the
    // dumped centroid table.
    Query("q91_residual_adc", (s, d) => {
      import s.implicits._
      val I = graft.llmops.Ivf
      val emb = t(s, d, "embeddings")
      val cents = I.kmeansCentroids(emb, nlist = 16, iters = 2)
      val books = I.pqCodebooksResidual(emb, cents, m = 8, k = 16, iters = 2)
      val q = emb.filter($"vec_id" < 5)
        .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
      if (materializing) {
        val assigned = emb.where($"embedding".isNotNull).select($"vec_id",
          element_at(I.nearest_centroids($"embedding", cents, 1), 1)
            .as("list_id"), $"embedding")
        materialize(assigned.select($"vec_id", $"list_id"), "q91_assigned")
        materialize(q.select($"query_id",
          explode(I.nearest_centroids($"query_vec", cents, 4))
            .as("list_id")), "q91_probes")
        materialize(assigned.select($"vec_id",
          posexplode(I.pqEncode(
            I.centroid_residual($"embedding", $"list_id", cents), books))
            .as(Seq("sub", "code"))), "q91_codes")
        val flatB = for {
          sub <- books.indices; code <- books(sub).indices
          sdim <- books(sub)(code).indices
        } yield (sub, code, sdim, books(sub)(code)(sdim).toDouble)
        materialize(flatB.toDF("sub", "code", "sdim", "w"), "q91_codebooks")
        val flatC = for {
          (c, list) <- cents.zipWithIndex.toSeq
          (w, sdim) <- c.zipWithIndex.toSeq
        } yield (list, sdim, w.toDouble)
        materialize(flatC.toDF("list_id", "sdim", "w"), "q91_centroids")
      }
      I.ivfAdcResidualTopKWithModels(emb, q, k = 5, cents, books, nprobe = 4)
        .orderBy($"query_id", $"rk")
    },
      s"""WITH assigned AS (
           SELECT vec_id, list_id
           FROM read_parquet('$scratch/q91_assigned/*.parquet')),
         probes AS (
           SELECT query_id, list_id
           FROM read_parquet('$scratch/q91_probes/*.parquet')),
         codes AS (
           SELECT vec_id, sub, code
           FROM read_parquet('$scratch/q91_codes/*.parquet')),
         cb AS (
           SELECT sub, code, sdim, w
           FROM read_parquet('$scratch/q91_codebooks/*.parquet')),
         cents AS (
           SELECT list_id, sdim, w
           FROM read_parquet('$scratch/q91_centroids/*.parquet')),
         q AS (
           SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 5),
         cand AS (
           SELECT DISTINCT p.query_id, a.vec_id, a.list_id
           FROM probes p JOIN assigned a USING (list_id)
           WHERE a.vec_id <> p.query_id),
         cdot AS (
           SELECT cand.query_id, cand.vec_id,
                  sum(ct.w * q.embedding[ct.sdim + 1]::DOUBLE) AS cd
           FROM cand JOIN cents ct ON ct.list_id = cand.list_id
                     JOIN q ON q.query_id = cand.query_id
           GROUP BY cand.query_id, cand.vec_id),
         recon AS (
           SELECT c.vec_id, cb.sub * 8 + cb.sdim AS dim, cb.w
           FROM codes c JOIN cb ON cb.sub = c.sub AND cb.code = c.code),
         rsum AS (
           SELECT cand.query_id, cand.vec_id,
                  sum(r.w * q.embedding[r.dim + 1]::DOUBLE) AS rs
           FROM cand JOIN recon r ON r.vec_id = cand.vec_id
                     JOIN q ON q.query_id = cand.query_id
           GROUP BY cand.query_id, cand.vec_id),
         scored AS (
           SELECT c.query_id, c.vec_id, round(c.cd + r.rs, 6) AS sim
           FROM cdot c JOIN rsum r
             ON r.query_id = c.query_id AND r.vec_id = c.vec_id)
         SELECT query_id, vec_id, sim, rk FROM (
           SELECT query_id, vec_id, sim,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY sim DESC, vec_id) AS rk
           FROM scored WHERE sim IS NOT NULL)
         WHERE rk <= 5 ORDER BY query_id, rk"""),

    // llmops SQ8 scalar quantization: the first compression tier of
    // the quantizer progression (raw floats → SQ8 → PQ) — 4× smaller
    // scans, near-exact ranking (each dim keeps 8 bits of its own
    // range). Codes and per-dim bounds are dumped; the oracle
    // dequantizes (mn + sc·code) and replays the scoring exactly.
    Query("q92_sq8_topk", (s, d) => {
      import s.implicits._
      val I = graft.llmops.Ivf
      val emb = t(s, d, "embeddings")
      val (mins, scales) = I.sq8Bounds(emb)
      val q = emb.filter($"vec_id" < 5)
        .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
      if (materializing) {
        materialize(emb.where($"embedding".isNotNull).select($"vec_id",
          posexplode(I.sq8_encode($"embedding", mins, scales))
            .as(Seq("dim", "code"))), "q92_codes")
        materialize(mins.indices
          .map(i => (i, mins(i), scales(i)))
          .toDF("dim", "mn", "sc"), "q92_bounds")
      }
      I.sq8TopKWithBounds(emb, q, k = 5, mins, scales)
        .orderBy($"query_id", $"rk")
    },
      s"""WITH codes AS (
           SELECT vec_id, dim, code
           FROM read_parquet('$scratch/q92_codes/*.parquet')),
         b AS (
           SELECT dim, mn, sc
           FROM read_parquet('$scratch/q92_bounds/*.parquet')),
         q AS (
           SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 5),
         deq AS (
           SELECT c.vec_id, c.dim, b.mn + b.sc * c.code AS w
           FROM codes c JOIN b ON b.dim = c.dim),
         scored AS (
           SELECT q.query_id, d.vec_id,
                  round(sum(q.embedding[d.dim + 1]::DOUBLE * d.w), 6) AS sim
           FROM deq d CROSS JOIN q
           WHERE d.vec_id <> q.query_id
           GROUP BY q.query_id, d.vec_id)
         SELECT query_id, vec_id, sim, rk FROM (
           SELECT query_id, vec_id, sim,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY sim DESC, vec_id) AS rk
           FROM scored WHERE sim IS NOT NULL)
         WHERE rk <= 5 ORDER BY query_id, rk"""),

    // llmops persisted ANN index: write the corpus PARTITIONED BY
    // coarse list (codes + models), then answer the query batch by
    // reading ONLY probed partitions — partition pruning makes the
    // nprobe budget an I/O bound. The timed path deliberately includes
    // the index write (the operator's honest cost); the oracle reads
    // the written index FILES themselves (hive-partitioned parquet +
    // the persisted codebook table) and replays candidate generation
    // and ADC scoring from them.
    Query("q93_ann_index", (s, d) => {
      import s.implicits._
      val I = graft.llmops.Ivf
      val A = graft.llmops.AnnIndex
      val emb = t(s, d, "embeddings")
      // the coarse quantizer and the PQ codebooks train independently
      // from the same corpus — overlap their per-iteration jobs
      // (guide §2.6, the AnnIndex.write pattern); both trainings are
      // deterministic collects, so the models are unchanged
      val Seq(centsA, booksA) = graft.llmops.Par.run(Seq[() => AnyRef](
        () => I.kmeansCentroids(emb, nlist = 16, iters = 2),
        () => I.pqCodebooks(emb, m = 8, k = 16, iters = 2)))
      val cents = centsA.asInstanceOf[Array[Array[Float]]]
      val books = booksA.asInstanceOf[Array[Array[Array[Float]]]]
      val idx = s"$scratch/q93_index"
      A.writeWithModels(emb, idx, cents, books)
      val q = emb.filter($"vec_id" < 5)
        .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
      if (materializing) {
        materialize(q.select($"query_id",
          explode(I.nearest_centroids($"query_vec", cents, 4))
            .as("list_id")), "q93_probes")
      }
      A.topK(s, idx, q, k = 5, nprobe = 4)
        .orderBy($"query_id", $"rk")
    },
      s"""WITH idx AS (
           SELECT vec_id, codes, list_id::INT AS list_id
           FROM read_parquet('$scratch/q93_index/list_id=*/*.parquet', hive_partitioning=true)),
         cb AS (
           SELECT sub, code, sdim, w::DOUBLE AS w
           FROM read_parquet('$scratch/q93_index/_models/codebooks/*.parquet')),
         probes AS (
           SELECT query_id, list_id
           FROM read_parquet('$scratch/q93_probes/*.parquet')),
         q AS (
           SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 5),
         codes AS (
           SELECT vec_id, s.i - 1 AS sub, codes[s.i] AS code
           FROM idx, generate_series(1, 8) s(i)),
         cand AS (
           SELECT DISTINCT p.query_id, a.vec_id
           FROM probes p JOIN idx a USING (list_id)
           WHERE a.vec_id <> p.query_id),
         recon AS (
           SELECT c.vec_id, cb.sub * 8 + cb.sdim AS dim, cb.w
           FROM codes c JOIN cb ON cb.sub = c.sub AND cb.code = c.code),
         scored AS (
           SELECT cand.query_id, cand.vec_id,
                  round(sum(r.w * q.embedding[r.dim + 1]::DOUBLE), 6) AS sim
           FROM cand JOIN recon r ON r.vec_id = cand.vec_id
                     JOIN q ON q.query_id = cand.query_id
           GROUP BY cand.query_id, cand.vec_id)
         SELECT query_id, vec_id, sim, rk FROM (
           SELECT query_id, vec_id, sim,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY sim DESC, vec_id) AS rk
           FROM scored WHERE sim IS NOT NULL)
         WHERE rk <= 5 ORDER BY query_id, rk"""),

    // llmops OPQ (Ge et al. CVPR 2013): an orthogonal rotation learned
    // by Procrustes alternation re-axes the corpus before PQ, so the
    // independent per-subspace codebooks stop paying for
    // cross-subspace correlation; rotation preserves inner products,
    // so the rotated-space ADC scan estimates the same raw-space
    // similarity. Oracle contract: the dumped rotation matrix lets
    // DuckDB rotate the raw query vectors itself (double sums
    // truncated to REAL, mirroring the mat_vec kernel), then replay
    // the standard codes ⋈ codebooks reconstruction scoring — the
    // learned model is fully auditable from three relational dumps.
    Query("q94_opq_topk", (s, d) => {
      import s.implicits._
      val O = graft.llmops.Opq
      val emb = t(s, d, "embeddings")
      val (rot, books) = O.trainOpq(emb, m = 8, k = 16,
        pqIters = 2, opqIters = 2)
      if (materializing) {
        materialize(emb.where($"embedding".isNotNull)
          .select($"vec_id", posexplode(
            graft.llmops.Ivf.pqEncode(O.mat_vec($"embedding", rot), books))
            .as(Seq("sub", "code"))), "q94_codes")
        val flatB = for {
          sub <- books.indices; code <- books(sub).indices
          sdim <- books(sub)(code).indices
        } yield (sub, code, sdim, books(sub)(code)(sdim).toDouble)
        materialize(flatB.toDF("sub", "code", "sdim", "w"), "q94_codebooks")
        val flatR = for { i <- rot.indices; j <- rot(i).indices }
          yield (i, j, rot(i)(j).toDouble)
        materialize(flatR.toDF("i", "j", "w"), "q94_rot")
      }
      val q = emb.filter($"vec_id" < 5)
        .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
      O.opqTopKWithModels(emb, q, k = 5, rot, books)
        .orderBy($"query_id", $"rk")
    },
      // OPQ: the dumped d×d rotation lets the oracle rotate the raw
      // query vectors itself — double-accumulated sums truncated to
      // REAL reproduce the mat_vec kernel's float32 elements — then the
      // scoring replay is exactly q87's codes ⋈ codebooks shape in the
      // rotated space. Encode (L2 codeword assignment) stays kernel-only,
      // as in every PQ-family oracle.
      s"""WITH codes AS (
           SELECT vec_id, sub, code
           FROM read_parquet('$scratch/q94_codes/*.parquet')),
         cb AS (
           SELECT sub, code, sdim, w
           FROM read_parquet('$scratch/q94_codebooks/*.parquet')),
         rot AS (
           SELECT i, j, w
           FROM read_parquet('$scratch/q94_rot/*.parquet')),
         q AS (
           SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 5),
         rotq AS (
           SELECT q.query_id, r.i AS dim,
                  CAST(sum(r.w * q.embedding[r.j + 1]::DOUBLE) AS REAL) AS v
           FROM rot r CROSS JOIN q GROUP BY q.query_id, r.i),
         recon AS (
           SELECT c.vec_id, cb.sub * 8 + cb.sdim AS dim, cb.w
           FROM codes c JOIN cb ON cb.sub = c.sub AND cb.code = c.code),
         scored AS (
           SELECT rq.query_id, r.vec_id,
                  round(sum(r.w * rq.v::DOUBLE), 6) AS sim
           FROM recon r JOIN rotq rq ON rq.dim = r.dim
           WHERE r.vec_id <> rq.query_id
           GROUP BY rq.query_id, r.vec_id)
         SELECT query_id, vec_id, sim, rk FROM (
           SELECT query_id, vec_id, sim,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY sim DESC, vec_id) AS rk
           FROM scored WHERE sim IS NOT NULL)
         WHERE rk <= 5 ORDER BY query_id, rk"""),

    // llmops duplicated-span coverage (Lee et al. 2021): duplication
    // lives at SPAN granularity — boilerplate and quoted passages
    // inside documents that are not near-duplicates as wholes. Each
    // doc explodes to (pos, gram-hash) slim rows (text never
    // shuffles); one count-distinct aggregation finds cross-document
    // repeated 8-grams; covered positions union per doc. Fully
    // relational, so the oracle replays every step from the raw table.
    Query("q95_dup_spans", (s, d) => {
      import s.implicits._
      graft.llmops.Dedup.duplicateSpanStats(
          t(s, d, "documents"), n = 8, minDocs = 2)
        .select($"doc_id", $"n_tokens", $"dup_grams", $"dup_tokens",
          round($"dup_frac", 4).as("dup_frac"))
        .orderBy($"doc_id")
    },
      // duplicated spans: fully relational — tokenize, hash every word
      // 8-gram with its start position, keep grams in >= 2 distinct
      // docs, union covered positions per doc
      """WITH base AS (
           SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS l
           FROM documents),
         sized AS (
           SELECT doc_id, l, len(l) AS nt FROM base WHERE len(l) >= 8),
         posn AS (
           SELECT doc_id, nt, l,
                  unnest(generate_series(1, nt - 7)) AS i
           FROM sized),
         occ AS (
           SELECT doc_id, nt, i - 1 AS pos,
                  substring(md5(array_to_string(l[i:i+7], ' ')), 1, 16) AS gh
           FROM posn),
         dup AS (
           SELECT gh FROM occ GROUP BY gh
           HAVING count(DISTINCT doc_id) >= 2),
         dupocc AS (
           SELECT o.doc_id, o.nt, o.pos FROM occ o JOIN dup USING (gh)),
         cov AS (
           SELECT doc_id, nt, pos,
                  unnest(generate_series(pos, pos + 7)) AS p
           FROM dupocc)
         SELECT doc_id, any_value(nt)::INTEGER AS n_tokens,
                count(DISTINCT pos)::BIGINT AS dup_grams,
                count(DISTINCT p)::BIGINT AS dup_tokens,
                round(count(DISTINCT p)::DOUBLE / any_value(nt), 4) AS dup_frac
         FROM cov GROUP BY doc_id ORDER BY doc_id"""),

    // Semantic near-dup clustering: the embedding-space composition of
    // q85 (IVF-scoped cosine pairs) and q69 (large-star/small-star
    // connected components) — textual MinHash clusters catch verbatim
    // near-dups, this catches paraphrase families. Same relational
    // contract as q69: the edge list is dumped and DuckDB re-derives
    // the components independently (recursive CTE vs the O(log n)
    // star rounds — two different algorithms, one fixpoint).
    Query("q96_semantic_clusters", (s, d) => {
      import s.implicits._
      val emb = t(s, d, "embeddings")
      // nlist 64 = the measured nlist∝n rule at this SF (see q85):
      // fewer lists overflow the maxList cap and pairs vanish
      val cents = graft.llmops.Ivf.kmeansCentroids(emb, nlist = 64, iters = 2)
      val edges = graft.llmops.Dedup.semanticPairsWithCentroids(
          emb, threshold = 0.4, cents, nprobe = 2)
        .select($"id_a", $"id_b")
      materialize(edges, "q96_edges")
      graft.ops.ConnectedComponents.components(edges)
        .groupBy($"component")
        .agg(count(lit(1)).as("n_vecs"),
          array_join(transform(array_sort(collect_list($"id")),
            _.cast("string")), ",").as("members"))
        .orderBy($"component")
    },
      s"""WITH RECURSIVE sym AS (
           SELECT id_a AS u, id_b AS v
           FROM read_parquet('$scratch/q96_edges/*.parquet')
           UNION
           SELECT id_b, id_a
           FROM read_parquet('$scratch/q96_edges/*.parquet')),
         nodes AS (SELECT DISTINCT u AS id FROM sym),
         walk(id, comp) AS (
           SELECT id, id FROM nodes
           UNION
           SELECT sym.v, walk.comp FROM walk JOIN sym ON sym.u = walk.id),
         labels AS (SELECT id, min(comp) AS component FROM walk GROUP BY id)
         SELECT component, count(*) AS n_vecs,
                array_to_string(list_sort(array_agg(id)), ',') AS members
         FROM labels GROUP BY component ORDER BY component"""),

    // llmops model-based quality scoring: logistic regression over
    // hashed bag-of-words features, trained distributed (two slim
    // shuffles per epoch, <=65536 gradient doubles to the driver) to
    // distill the fixed quality heuristic into a learned scorer — the
    // GPT-3/CCNet classifier stage. Scoring is pure dataflow
    // (explode -> broadcast weight join -> sum -> sigmoid), so the
    // dumped weight table lets DuckDB replay every probability; the
    // training loop itself (like Lloyd) has no SQL analog.
    Query("q97_quality_model", (s, d) => {
      import s.implicits._
      val Q = graft.llmops.QualityModel
      val docs = t(s, d, "documents")
      val labeled = docs.withColumn("label",
        (graft.llmops.TextFuncs.qualityScore($"text") >= 1.0).cast("int"))
      val (w, b) = Q.train(labeled)
      if (materializing)
        materialize(Q.weightsTable(docs, w, b), "q97_weights")
      Q.score(docs, w, b)
        .select($"doc_id", round($"prob", 4).as("prob"),
          ($"prob" >= 0.5).cast("int").as("pred"))
        .orderBy($"doc_id")
    },
      // quality model: scoring replays exactly from the dumped weight
      // table — distinct token md5-prefix features, left join weights,
      // sigmoid(bias + sum). The 'bias' key can't collide (not hex).
      raw"""WITH w AS (
           SELECT fh, w
           FROM read_parquet('$scratch/q97_weights/*.parquet')),
         b AS (SELECT w AS bias FROM w WHERE fh = 'bias'),
         toks AS (
           SELECT doc_id,
                  unnest(list_distinct(
                    string_split_regex(lower(trim(text)), '\s+'))) AS t
           FROM documents),
         fh AS (
           SELECT DISTINCT doc_id, substring(md5(t), 1, 4) AS fh FROM toks),
         s AS (
           SELECT f.doc_id, sum(coalesce(w.w, 0)) AS s
           FROM fh f LEFT JOIN w ON w.fh = f.fh
           GROUP BY f.doc_id),
         p AS (
           SELECT d.doc_id,
                  1.0 / (1.0 + exp(-(coalesce(s.s, 0) +
                    (SELECT bias FROM b)))) AS prob
           FROM documents d LEFT JOIN s ON s.doc_id = d.doc_id)
         SELECT doc_id, round(prob, 4) AS prob,
                (prob >= 0.5)::INTEGER AS pred
         FROM p ORDER BY doc_id"""),

    // llmops quality-weighted importance sampling (the GPT-3 corpus
    // mixing move): keep probability rises with the quality score
    // (score^2 here), the uniform draw is the doc's md5-prefix hash —
    // deterministic under reruns/appends, a pure per-row predicate
    // that pushes to the scan. Fully relational (the heuristic score
    // has a SQL replica, q21), so the oracle recomputes every fate.
    Query("q98_quality_sample", (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      docs
        .withColumn("qs", graft.llmops.TextFuncs.qualityScore($"text"))
        .withColumn("keep",
          graft.llmops.Splits.importanceKeep($"qs", $"text", 2.0))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when($"keep", 1L).otherwise(0L)).as("n_kept"),
          round(avg($"qs"), 4).as("avg_quality"))
        .orderBy($"source")
    },
      // quality-weighted sampling: q21's heuristic replica supplies the
      // score; the uniform draw is ('0x' || md5-prefix)::INT / 65536,
      // matching Spark's conv(..., 16, 10). score^2 and u are exact
      // binary fractions, so the keep predicate has no float ambiguity.
      """WITH q AS (
           SELECT source, text,
             string_split_regex(lower(trim(text)), '\s+') AS toks,
             length(text) AS n,
             length(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g')) AS np
           FROM documents),
         r AS (
           SELECT source, text,
             (CASE WHEN n BETWEEN 50 AND 20000 THEN 0.25 ELSE 0.0 END) +
             (CASE WHEN (CASE WHEN len(toks) = 0 THEN 0.0
                  ELSE len(list_filter(toks, t -> t IN
                    ('the','and','of','to','a','in','is','that')))::double / len(toks)
              END) >= 0.01 THEN 0.25 ELSE 0.0 END) +
             (CASE WHEN (CASE WHEN len(toks) = 0 THEN 0.0
                  ELSE list_sum(list_transform(toks, w -> length(w)))::double / len(toks)
              END) BETWEEN 2.0 AND 12.0 THEN 0.25 ELSE 0.0 END) +
             (CASE WHEN (CASE WHEN n = 0 THEN 0.0 ELSE np::double / n END) <= 0.1
              THEN 0.25 ELSE 0.0 END) AS qs
           FROM q),
         k AS (
           SELECT source, qs,
                  (('0x' || substring(md5(text), 1, 4))::INTEGER / 65536.0)
                    < pow(qs, 2) AS keep
           FROM r)
         SELECT source, count(*) AS n_docs,
                sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_kept,
                round(avg(qs), 4) AS avg_quality
         FROM k GROUP BY source ORDER BY source"""),

    // llmops LM-perplexity scoring (CCNet): an add-k bigram LM is a
    // pair of count tables — training is one aggregation each, the
    // model is relational data, and scoring is explode -> two joins ->
    // -log. Self-perplexity here (repetition scores LOW, gibberish
    // HIGH); the uni/bi params are the seam for a curated reference
    // LM. Oracle replays every score from the dumped count tables.
    Query("q99_lm_perplexity", (s, d) => {
      import s.implicits._
      val L = graft.llmops.LangModel
      val docs = t(s, d, "documents")
      val uni = L.unigramCounts(docs, $"text")
      val bi = L.bigramCounts(docs, $"text")
      if (materializing) {
        materialize(uni, "q99_unigrams")
        materialize(bi, "q99_bigrams")
      }
      L.nllScores(docs, uni, bi, k = 0.5)
        .select($"doc_id", $"n_bigrams", round($"avg_nll", 4).as("avg_nll"))
        .orderBy($"doc_id")
    },
      // bigram-LM perplexity: replayed entirely from the dumped count
      // tables; V = unigram row count, smoothing k = 0.5
      raw"""WITH uni AS (
           SELECT w, c
           FROM read_parquet('$scratch/q99_unigrams/*.parquet')),
         bi AS (
           SELECT w1, w2, c
           FROM read_parquet('$scratch/q99_bigrams/*.parquet')),
         v AS (SELECT count(*)::DOUBLE AS v FROM uni),
         toks AS (
           SELECT doc_id,
                  string_split_regex(lower(trim(text)), '\s+') AS l
           FROM documents),
         pairs AS (
           SELECT doc_id, l[i] AS w1, l[i + 1] AS w2
           FROM (SELECT doc_id, l,
                        unnest(generate_series(1, len(l) - 1)) AS i
                 FROM toks WHERE len(l) >= 2)),
         nll AS (
           SELECT p.doc_id,
                  -ln((coalesce(bi.c, 0) + 0.5) /
                      (coalesce(uni.c, 0) + 0.5 * (SELECT v FROM v))) AS nll
           FROM pairs p
           LEFT JOIN bi ON bi.w1 = p.w1 AND bi.w2 = p.w2
           LEFT JOIN uni ON uni.w = p.w1)
         SELECT doc_id, count(*)::BIGINT AS n_bigrams,
                round(avg(nll), 4) AS avg_nll
         FROM nll GROUP BY doc_id ORDER BY doc_id"""),

    // llmops DSIR importance resampling (Xie et al. 2023): pick raw
    // docs whose hashed-n-gram distribution matches a target corpus
    // (here: the English slice as the curated-seed proxy). The model
    // is the per-bucket log-ratio table — dumped, so the oracle
    // replays every feature count, importance weight, and the
    // Gumbel-top-k selection itself from it.
    Query("q100_dsir_select", (s, d) => {
      import s.implicits._
      val D = graft.llmops.Dsir
      val docs = t(s, d, "documents")
      // ONE pinned featureCounts pass feeds fit-target (en semi-join
      // slice), fit-raw and scoring — the corpus tokenizes once, not
      // three times; bit-exact per the FromCounts contracts
      val perDoc = D.featureCounts(docs).localCheckpoint(false)
      val enIds = docs.filter($"lang" === "en").select($"doc_id".as("id"))
      val ratios = D.logRatiosFromCounts(
        perDoc.join(enIds, Seq("id"), "left_semi"), perDoc)
      if (materializing) materialize(ratios, "q100_ratios")
      val scored = D.importanceScoresFromCounts(perDoc, ratios)
        .join(docs.select($"doc_id", $"lang"), Seq("doc_id"))
      D.gumbelTopK(
          scored.join(docs.select($"doc_id", $"text"), Seq("doc_id")),
          k = 100, keyCol = $"text")
        .select($"doc_id", $"lang", round($"logw", 4).as("logw"),
          $"sel_key")
        .orderBy($"doc_id")
    },
      // DSIR: feature counts, importance weights, and the Gumbel-top-k
      // selection all replayed from the dumped per-bucket log-ratio
      // table; the Gumbel uniform is the same md5-prefix draw as q98.
      raw"""WITH r AS (
           SELECT fh, lr
           FROM read_parquet('$scratch/q100_ratios/*.parquet')),
         dflt AS (SELECT lr FROM r WHERE fh = 'dflt'),
         toks AS (
           SELECT doc_id,
                  string_split_regex(lower(trim(text)), '\s+') AS l
           FROM documents),
         u1 AS (SELECT doc_id, unnest(l) AS t FROM toks),
         uni AS (SELECT doc_id, substring(md5(t), 1, 4) AS fh FROM u1),
         b1 AS (
           SELECT doc_id, l[i] || ' ' || l[i + 1] AS g
           FROM (SELECT doc_id, l,
                        unnest(generate_series(1, len(l) - 1)) AS i
                 FROM toks WHERE len(l) >= 2)),
         bi AS (SELECT doc_id, substring(md5(g), 1, 4) AS fh FROM b1),
         fc AS (
           SELECT doc_id, fh, count(*)::BIGINT AS cnt
           FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
           GROUP BY 1, 2),
         sc AS (
           SELECT f.doc_id,
                  sum(f.cnt * coalesce(rt.lr, (SELECT lr FROM dflt))) AS logw
           FROM fc f
           LEFT JOIN (SELECT * FROM r WHERE fh <> 'dflt') rt
             ON rt.fh = f.fh
           GROUP BY 1),
         g AS (
           SELECT s.doc_id, d.lang, s.logw,
                  round(s.logw + (-ln(-ln(
                    (('0x' || substring(md5(d.text), 1, 4))::INTEGER + 0.5)
                      / 65536.0))), 4) AS sel_key
           FROM sc s JOIN documents d ON d.doc_id = s.doc_id),
         top AS (SELECT * FROM g ORDER BY sel_key DESC, doc_id LIMIT 100)
         SELECT doc_id, lang, round(logw, 4) AS logw, sel_key
         FROM top ORDER BY doc_id""",
      lifecycle = true) // DSIR ratio-table retrain per pass
  )
}
