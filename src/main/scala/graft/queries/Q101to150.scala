package graft
package queries

import org.apache.spark.sql.functions._

import graft.SparkEntry.{materialize, materializing, scratch, t}

/** Queries q101–q150, in number order: each body with its DuckDB
  * oracle and lifecycle flag (see [[Query]]). */
object Q101to150 {

  val all: Seq[Query] = Seq(
    // llmops temperature-based corpus mixing (mT5/XLM-R sampling
    // rule, the Pile's per-source epochs): weights ∝ n_tokens^α,
    // token budget realized as per-source rates/epochs, applied via
    // the deterministic md5-uniform keep. Fully relational — the
    // oracle recomputes the whole mixture table and every keep fate.
    Query("q101_temperature_mix", (s, d) => {
      import s.implicits._
      val M = graft.llmops.Mixture
      val docs = t(s, d, "documents")
      val weights = M.temperatureWeights(docs, alpha = 0.7,
        tokenBudget = 30000L)
      val kept = M.applyRates(docs, weights)
        .groupBy($"source")
        .agg(sum(when($"keep", 1L).otherwise(0L)).as("n_kept"))
      weights.join(kept, Seq("source"))
        .select($"source", $"n_docs", $"n_tokens", $"weight", $"rate",
          $"epochs", $"n_kept")
        .orderBy($"source")
    },
      // temperature mixing: fully relational — the mixture table and
      // every keep fate recomputed; rates rounded to 6 decimals before
      // the keep comparison on both sides (the determinism contract).
      """WITH tok AS (
           SELECT source, text,
                  CASE WHEN length(trim(text)) = 0 THEN 0
                       ELSE len(string_split_regex(lower(trim(text)), '\s+'))
                  END AS nt
           FROM documents),
         agg AS (
           SELECT source, count(*)::BIGINT AS n_docs,
                  sum(nt)::BIGINT AS n_tokens
           FROM tok GROUP BY source),
         w AS (
           SELECT source, n_docs, n_tokens,
                  round(pow(n_tokens::DOUBLE, 0.7) /
                    sum(pow(n_tokens::DOUBLE, 0.7)) OVER (), 6) AS weight
           FROM agg),
         w2 AS (
           SELECT source, n_docs, n_tokens, weight,
                  round(30000.0 * weight / n_tokens, 6) AS epochs
           FROM w),
         w3 AS (SELECT *, least(1.0, epochs) AS rate FROM w2),
         k AS (
           SELECT t.source,
                  sum(CASE WHEN (('0x' || substring(md5(t.text), 1, 4))::INTEGER
                        / 65536.0) < w3.rate
                      THEN 1 ELSE 0 END)::BIGINT AS n_kept
           FROM tok t JOIN w3 ON w3.source = t.source
           GROUP BY t.source)
         SELECT w3.source, n_docs, n_tokens, weight, rate, epochs, n_kept
         FROM w3 JOIN k ON k.source = w3.source
         ORDER BY w3.source"""),

    // llmops CCNet head/middle/tail bucketing (Wenzek et al. 2020):
    // per-LANGUAGE perplexity terciles — the thresholds are dumped so
    // the oracle replays scoring from the dumped count tables and
    // bucket assignment from the threshold table.
    Query("q102_ccnet_buckets", (s, d) => {
      import s.implicits._
      val L = graft.llmops.LangModel
      val B = graft.llmops.Binning
      val docs = t(s, d, "documents")
      val uni = L.unigramCounts(docs, $"text")
      val bi = L.bigramCounts(docs, $"text")
      val scored = L.nllScores(docs, uni, bi, k = 0.5)
        // bucket on the 4-dp score (cross-engine determinism) but mean
        // the RAW one: a mean of already-rounded values lands exactly
        // on .00005 midpoints where engines' round modes disagree
        .withColumn("nll_raw", $"avg_nll")
        .withColumn("avg_nll", round($"avg_nll", 4))
        .join(docs.select($"doc_id", $"lang"), Seq("doc_id"))
      val thr = B.groupQuantileThresholds(scored, $"lang", $"avg_nll",
        Seq(1.0 / 3, 2.0 / 3))
      if (materializing) {
        materialize(uni, "q102_unigrams")
        materialize(bi, "q102_bigrams")
        materialize(thr, "q102_thresholds")
      }
      B.groupBins(scored, thr, $"lang", $"avg_nll", "bucket")
        .groupBy($"lang", $"bucket")
        .agg(count(lit(1)).as("n_docs"),
          round(avg($"nll_raw"), 4).as("mean_nll"))
        .orderBy($"lang", $"bucket")
    },
      // CCNet buckets: scores replayed from the dumped count tables
      // (q99's replica), bucket assignment from the dumped per-language
      // threshold table.
      raw"""WITH uni AS (
           SELECT w, c
           FROM read_parquet('$scratch/q102_unigrams/*.parquet')),
         bi AS (
           SELECT w1, w2, c
           FROM read_parquet('$scratch/q102_bigrams/*.parquet')),
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
           LEFT JOIN uni ON uni.w = p.w1),
         sc AS (
           SELECT doc_id, avg(nll) AS nll_raw,
                  round(avg(nll), 4) AS avg_nll
           FROM nll GROUP BY doc_id),
         sl AS (
           SELECT s.doc_id, d.lang, s.avg_nll, s.nll_raw
           FROM sc s JOIN documents d ON d.doc_id = s.doc_id),
         thr AS (
           SELECT grp, q0, q1
           FROM read_parquet('$scratch/q102_thresholds/*.parquet')),
         b AS (
           SELECT sl.lang,
                  CASE WHEN sl.avg_nll <= t.q0 THEN 0
                       WHEN sl.avg_nll <= t.q1 THEN 1
                       ELSE 2 END AS bucket,
                  sl.nll_raw
           FROM sl LEFT JOIN thr t ON t.grp = sl.lang)
         SELECT lang, bucket, count(*)::BIGINT AS n_docs,
                round(avg(nll_raw), 4) AS mean_nll
         FROM b GROUP BY 1, 2 ORDER BY 1, 2"""),

    // llmops BM25 retrieval (Okapi, Lucene idf form): query-term
    // broadcast semi-join inside the tokenize scan, dl rides the
    // posting rows, TakeOrdered top-k. Fully relational — the oracle
    // recomputes tf/df/idf/avgdl and every score.
    Query("q103_bm25_topk", (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      graft.llmops.Bm25.topK(docs,
          Seq("vector", "window", "merge", "stream"), k = 20)
        .select($"doc_id", $"n_terms_hit", $"score")
        .orderBy($"doc_id")
    },
      // BM25: tf/df/idf/avgdl and every score recomputed relationally.
      // Float-parity notes: constants are written as the same arithmetic
      // Spark evaluates ((1.2 + 1), not 2.2 — they differ in the last
      // ulp) and the score is rounded to 4 decimals before ranking on
      // both sides, with doc_id tiebreak.
      """WITH toks AS (
           SELECT doc_id,
                  string_split_regex(lower(trim(text)), '\s+') AS l,
                  CASE WHEN length(trim(text)) = 0 THEN 0
                       ELSE len(string_split_regex(lower(trim(text)), '\s+'))
                  END AS dl
           FROM documents),
         stats AS (
           SELECT count(*)::DOUBLE AS n, avg(dl::DOUBLE) AS avgdl
           FROM toks),
         q AS (
           SELECT unnest(['vector', 'window', 'merge', 'stream']) AS term),
         posts AS (SELECT doc_id, dl, unnest(l) AS term FROM toks),
         tf AS (
           SELECT p.doc_id, p.term, count(*)::BIGINT AS tf,
                  max(p.dl)::DOUBLE AS dl
           FROM posts p JOIN q ON q.term = p.term
           GROUP BY 1, 2),
         df AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
         idf AS (
           SELECT term,
                  ln(1.0 + ((SELECT n FROM stats) - df + 0.5) / (df + 0.5))
                    AS idf
           FROM df),
         contrib AS (
           SELECT tf.doc_id,
                  idf.idf * (tf.tf * (1.2 + 1)) /
                    (tf.tf + 1.2 * (1.0 - 0.75 +
                      0.75 * tf.dl / (SELECT avgdl FROM stats))) AS c
           FROM tf JOIN idf ON idf.term = tf.term),
         sc AS (
           SELECT doc_id, count(*)::BIGINT AS n_terms_hit,
                  round(sum(c), 4) AS score
           FROM contrib GROUP BY 1),
         top AS (SELECT * FROM sc ORDER BY score DESC, doc_id LIMIT 20)
         SELECT doc_id, n_terms_hit, score FROM top ORDER BY doc_id"""),

    // approx-percentile contract (the q63/q74 estimate-contract
    // pattern): the sketch's guarantee is on RANK, not value (a value
    // tolerance breaks on small groups where adjacent order stats are
    // >5% apart), so the contract checks the rank of the returned
    // element: count(v ≤ approx)/n within ±(0.05 + 1/n) of the target
    // percentile. A sketch regression goes red even though the sketch
    // is self-consistent. At 100 TB the sketch (bounded memory, one
    // pass, mergeable) is the only viable global-quantile path; the
    // exact side here is the contract harness.
    Query("q104_approx_quantile", (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val apx = docs.groupBy($"source")
        .agg(
          percentile($"n_chars", lit(0.5)).as("p50_exact"),
          percentile($"n_chars", lit(0.9)).as("p90_exact"),
          percentile_approx($"n_chars", lit(0.5), lit(1000)).as("p50a"),
          percentile_approx($"n_chars", lit(0.9), lit(1000)).as("p90a"))
      docs.join(broadcast(apx), Seq("source"))
        .groupBy($"source", $"p50_exact", $"p90_exact", $"p50a", $"p90a")
        .agg(count(lit(1)).cast("double").as("n"),
          sum(when($"n_chars" <= $"p50a", 1.0).otherwise(0.0)).as("r50"),
          sum(when($"n_chars" <= $"p90a", 1.0).otherwise(0.0)).as("r90"))
        .select($"source",
          round($"p50_exact", 4).as("p50_exact"),
          round($"p90_exact", 4).as("p90_exact"),
          (abs($"r50" / $"n" - 0.5) <= lit(0.05) + lit(1.0) / $"n")
            .as("p50_ok"),
          (abs($"r90" / $"n" - 0.9) <= lit(0.05) + lit(1.0) / $"n")
            .as("p90_ok"))
        .orderBy($"source")
    },
      // approx-quantile contract: exact side replayed (quantile_cont =
      // the same linear interpolation as Spark's percentile), booleans
      // assert the sketch landed within tolerance
      """SELECT source,
                round(quantile_cont(n_chars, 0.5), 4) AS p50_exact,
                round(quantile_cont(n_chars, 0.9), 4) AS p90_exact,
                TRUE AS p50_ok, TRUE AS p90_ok
         FROM documents GROUP BY source ORDER BY source"""),

    // llmops DSIR scalar gate (the shuffle-free logwColumn kernel that
    // gates streams and Corpus.clean): per-source keep counts under an
    // importance floor. The oracle replays the per-OCCURRENCE log-ratio
    // sum from the dumped table — this puts the scalar scoring path
    // under the cross-engine gate, complementing q100's join path.
    Query("q105_dsir_gate", (s, d) => {
      import s.implicits._
      val D = graft.llmops.Dsir
      val docs = t(s, d, "documents")
      val ratios = D.logRatios(docs.filter($"lang" === "en"), docs)
      if (materializing) materialize(ratios, "q105_ratios")
      val (m, dflt) = D.ratioMap(ratios)
      docs
        .withColumn("logw", D.logwColumn($"text", m, dflt))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when($"logw" >= 0.0, 1L).otherwise(0L)).as("n_kept"),
          round(avg($"logw"), 4).as("avg_logw"))
        .orderBy($"source")
    },
      // DSIR scalar gate: per-occurrence log-ratio sums replayed from
      // the dumped table (unigrams + bigrams, default for unseen)
      raw"""WITH r AS (
           SELECT fh, lr
           FROM read_parquet('$scratch/q105_ratios/*.parquet')),
         dflt AS (SELECT lr FROM r WHERE fh = 'dflt'),
         toks AS (
           SELECT doc_id, source,
                  string_split_regex(lower(trim(text)), '\s+') AS l
           FROM documents),
         occ AS (
           SELECT doc_id, substring(md5(t), 1, 4) AS fh
           FROM (SELECT doc_id, unnest(l) AS t FROM toks)
           UNION ALL
           SELECT doc_id, substring(md5(g), 1, 4) AS fh
           FROM (SELECT doc_id, l[i] || ' ' || l[i + 1] AS g
                 FROM (SELECT doc_id, l,
                              unnest(generate_series(1, len(l) - 1)) AS i
                       FROM toks WHERE len(l) >= 2))),
         sc AS (
           SELECT o.doc_id,
                  sum(coalesce(rt.lr, (SELECT lr FROM dflt))) AS logw
           FROM occ o
           LEFT JOIN (SELECT * FROM r WHERE fh <> 'dflt') rt
             ON rt.fh = o.fh
           GROUP BY 1)
         SELECT t.source, count(*)::BIGINT AS n_docs,
                sum(CASE WHEN s.logw >= 0.0 THEN 1 ELSE 0 END)::BIGINT
                  AS n_kept,
                round(avg(s.logw), 4) AS avg_logw
         FROM toks t JOIN sc s ON s.doc_id = t.doc_id
         GROUP BY t.source ORDER BY t.source"""),

    // Heavy-hitters contract (Misra-Gries, the q63/q104
    // estimate-contract pattern): exact heavy hitters need a
    // full-corpus shuffle of one row per DISTINCT item — at 100 TB
    // (distinct tokens/domains ~ billions) that's the wrong plan for a
    // top-handful question. The MG summary holds ≤ k counters per
    // partition, merges with the Agarwal et al. counter-offset rule,
    // and guarantees: no overcount, undercount ≤ n/(k+1), and every
    // item with true share > 1/(k+1) present. The synthetic tables are
    // deliberately uniform (no natural heavy hitter), so the item
    // stream here manufactures a deterministic Zipf-ish skew from the
    // engine's md5-uniform trick: u ∈ (0,1] from the row key, item =
    // floor(1/u) → P(item=j) = 1/j − 1/(j+1) ≈ j⁻² (item "1" carries
    // half the stream; hundreds of distinct tail items force
    // evictions). The exact-count side is the contract harness, not
    // the operator (q74 precedent).
    Query("q106_heavy_hitters", (s, d) => {
      import s.implicits._
      val k = 16
      val u = (conv(substring(md5(concat_ws("-", $"l_orderkey",
          $"l_linenumber")), 1, 8), 16, 10).cast("double") + 1.0) /
        4294967296.0
      val items = t(s, d, "lineitem")
        .select(floor(lit(1.0) / u).cast("long").cast("string").as("item"))
      val mg = items.agg(graft.llmops.Freq.freqItems($"item", k).as("sm"))
        .select(explode($"sm").as("e"))
        .select($"e.item".as("item"), $"e.est".as("est"))
      val exact = items.groupBy($"item").agg(count(lit(1)).as("n_exact"))
      val tot = items.agg(count(lit(1)).cast("double").as("n"))
      exact.crossJoin(broadcast(tot))
        .filter($"n_exact" > $"n" / (k + 1))
        .join(mg, Seq("item"), "left")
        .select($"item", $"n_exact",
          $"est".isNotNull.as("present_ok"),
          ($"est".isNotNull && $"est" <= $"n_exact" &&
            $"est" >= $"n_exact" - $"n" / (k + 1)).as("bound_ok"))
        .orderBy($"item")
    },
      // heavy-hitter contract: the oracle recomputes the deterministic
      // Zipf stream and the exact counts; the booleans are the MG
      // guarantee, which the Spark side must honestly evaluate (q63
      // pattern: a summary regression makes Spark emit false → hash red)
      """WITH items AS (
           SELECT floor(1.0 / ((('0x' || substring(md5(
                    l_orderkey::VARCHAR || '-' || l_linenumber::VARCHAR),
                    1, 8))::BIGINT::DOUBLE + 1.0) / 4294967296.0))
                  ::BIGINT::VARCHAR AS item
           FROM lineitem),
         cnt AS (SELECT item, count(*)::BIGINT AS n_exact
                 FROM items GROUP BY item),
         tot AS (SELECT count(*)::DOUBLE AS n FROM items)
         SELECT item, n_exact, TRUE AS present_ok, TRUE AS bound_ok
         FROM cnt, tot WHERE n_exact > n / 17.0
         ORDER BY item"""),

    // Corpus-overlap contract (KMV bottom-k sketch): "how much of
    // corpus A is in corpus B" — the contamination/overlap number —
    // exactly needs a distinct-join of both corpora; the KMV sketch
    // answers it from 2·k longs. HLL (q63/q68) can't: it unions but
    // doesn't intersect. The bottom-k of the union of two bottom-k
    // sketches IS the bottom-k of the union set, and its members'
    // joint presence in both sketches estimates Jaccard (Bar-Yossef et
    // al. 2002; Beyer et al. SIGMOD 2007). Overlapping doc slices
    // (doc_id%2 vs doc_id%3 → true J = 1/4) make the estimate
    // non-trivial; the estimator is deterministic (xxhash64, no RNG),
    // so the tolerance is a regression tripwire, not a probabilistic
    // bet. Exact side = contract harness.
    Query("q107_kmv_overlap", (s, d) => {
      import s.implicits._
      val k = 256
      val F = graft.llmops.Freq
      // text IS NOT NULL on BOTH sides: the sketch hashes non-null
      // texts only, so the exact side must be defined over the same
      // distinct-text set or a null-text fixture would silently skew
      // the contract's denominator.
      val docs = t(s, d, "documents").filter($"text".isNotNull)
      val sa = docs.filter($"doc_id" % 2 === 0)
        .agg(F.kmvSketch(xxhash64($"text"), k).as("ka"))
      val sb = docs.filter($"doc_id" % 3 === 0)
        .agg(F.kmvSketch(xxhash64($"text"), k).as("kb"))
      val est = sa.crossJoin(sb)
        .select(F.kmvJaccard($"ka", $"kb", k).as("j_est"))
      val flags = docs
        .filter($"doc_id" % 2 === 0 || $"doc_id" % 3 === 0)
        .groupBy($"text")
        .agg(max(when($"doc_id" % 2 === 0, 1).otherwise(0)).as("ia"),
          max(when($"doc_id" % 3 === 0, 1).otherwise(0)).as("ib"))
      val ex = flags.agg(
        (sum(when($"ia" === 1 && $"ib" === 1, 1.0).otherwise(0.0)) /
          count(lit(1))).as("j_exact"))
      ex.crossJoin(est).select(
        round($"j_exact", 4).as("j_exact"),
        (abs($"j_est" - $"j_exact") <= 0.12).as("overlap_ok"))
    },
      // KMV overlap contract: exact Jaccard of the two doc slices'
      // distinct-text sets; the tolerance boolean is TRUE by contract
      """WITH fl AS (
           SELECT text,
                  max(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS ia,
                  max(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END) AS ib
           FROM documents
           WHERE text IS NOT NULL AND (doc_id % 2 = 0 OR doc_id % 3 = 0)
           GROUP BY text)
         SELECT round(sum(CASE WHEN ia = 1 AND ib = 1 THEN 1.0 ELSE 0.0 END)
                      / count(*), 4) AS j_exact,
                TRUE AS overlap_ok
         FROM fl"""),

    // llmops REAL image decode (javax.imageio): solid-gray PNGs are
    // planted with dimensions/shade that are pure arithmetic on
    // doc_id, decoded distributed (payloads never on the driver), and
    // the oracle predicts every recovered stat without touching a
    // byte — including NULLs for the every-37th truncated payload.
    // This is the honest multimodal gate q35's stub couldn't be: the
    // decoder is the JDK's actual PNG reader, not a byte-fold.
    Query("q108_image_decode", (s, d) => {
      import s.implicits._
      val M = graft.llmops.Multimodal
      val assets = M.plantedImages(s, t(s, d, "documents")
        .filter($"doc_id" % 11 === 0))
      M.decodeImageStats(s, assets).toDF()
        .select($"asset_id", $"width", $"height", $"bands",
          round($"mean_luma", 4).as("mean_luma"))
        .orderBy($"asset_id")
    },
      """SELECT doc_id AS asset_id,
                CASE WHEN doc_id % 37 = 0 THEN NULL
                     ELSE (1 + doc_id % 7)::INT END AS width,
                CASE WHEN doc_id % 37 = 0 THEN NULL
                     ELSE (1 + doc_id % 5)::INT END AS height,
                CASE WHEN doc_id % 37 = 0 THEN NULL ELSE 1 END AS bands,
                CASE WHEN doc_id % 37 = 0 THEN NULL
                     ELSE round(((doc_id * 17) % 256)::DOUBLE, 4) END AS mean_luma
         FROM documents WHERE doc_id % 11 = 0 ORDER BY asset_id"""),

    // llmops unigram-LM tokenizer seed (Kudo 2018): candidate pieces =
    // every substring of length ≤ 3 of every dictionary word, weighted
    // by word frequency — the q84 shape generalized from adjacent
    // pairs to the unigram trainer's seed set. (The EM loop itself is
    // differential-tested in VocabSpec, like BPE's merge loop.)
    Query("q109_unigram_seed", (s, d) => {
      import s.implicits._
      graft.llmops.Vocab.unigramSeedCounts(
          t(s, d, "documents"), $"text", maxLen = 3)
        .orderBy($"cnt".desc, $"piece")
        .limit(30)
    },
      """WITH words AS (
           SELECT w, count(*) AS wc FROM (
             SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
             FROM documents)
           WHERE length(w) >= 1 GROUP BY w),
         pos AS (
           SELECT w, wc, unnest(range(1, length(w)::BIGINT + 1)) AS i
           FROM words),
         sub AS (
           SELECT w, wc, i,
                  unnest(range(1, least(3, length(w) - i + 1)::BIGINT + 1)) AS l
           FROM pos)
         SELECT substring(w, i::INT, l::INT) AS piece, sum(wc)::BIGINT AS cnt
         FROM sub GROUP BY 1 ORDER BY cnt DESC, piece LIMIT 30"""),

    // llmops ANN index lifecycle: q93's contract run against an index
    // built by write-then-APPEND — the even half written with the
    // trained models, the odd half appended from the PERSISTED models
    // only. The oracle replays candidate join → reconstruction →
    // ranking from the appended index FILES, so it proves the
    // append landed correct codes in correct list partitions and that
    // serving reads them exactly like original rows (no retrain, no
    // rewrite). AnnIndexSpec separately pins append ≡ fresh-full-write.
    Query("q110_ann_append", (s, d) => {
      import s.implicits._
      val I = graft.llmops.Ivf
      val A = graft.llmops.AnnIndex
      val emb = t(s, d, "embeddings")
      // overlapped independent trainings — see q93
      val Seq(centsA, booksA) = graft.llmops.Par.run(Seq[() => AnyRef](
        () => I.kmeansCentroids(emb, nlist = 16, iters = 2),
        () => I.pqCodebooks(emb, m = 8, k = 16, iters = 2)))
      val cents = centsA.asInstanceOf[Array[Array[Float]]]
      val books = booksA.asInstanceOf[Array[Array[Array[Float]]]]
      val idx = s"$scratch/q110_index"
      A.writeWithModels(emb.filter($"vec_id" % 2 === 0), idx, cents, books)
      A.append(s, emb.filter($"vec_id" % 2 =!= 0), idx)
      val q = emb.filter($"vec_id" < 5)
        .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
      if (materializing) {
        materialize(q.select($"query_id",
          explode(I.nearest_centroids($"query_vec", cents, 4))
            .as("list_id")), "q110_probes")
      }
      A.topK(s, idx, q, k = 5, nprobe = 4)
        .orderBy($"query_id", $"rk")
    },
      s"""WITH idx AS (
           SELECT vec_id, codes, list_id::INT AS list_id
           FROM read_parquet('$scratch/q110_index/list_id=*/*.parquet', hive_partitioning=true)),
         cb AS (
           SELECT sub, code, sdim, w::DOUBLE AS w
           FROM read_parquet('$scratch/q110_index/_models/codebooks/*.parquet')),
         probes AS (
           SELECT query_id, list_id
           FROM read_parquet('$scratch/q110_probes/*.parquet')),
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
         WHERE rk <= 5 ORDER BY query_id, rk""",
      lifecycle = true), // index write + append + drift probe

    // llmops positional Gopher repetition rules (Rae et al. 2021
    // Table A1): per-document most-frequent-2-gram count and unioned
    // coverage of duplicated 2-grams, in exact integer token space —
    // the within-doc sibling of q95's cross-doc span coverage. All
    // outputs integers: no float-ordering hazard anywhere.
    Query("q111_doc_repetition", (s, d) => {
      import s.implicits._
      graft.llmops.TextFuncs.repetitionStats(
          t(s, d, "documents").filter($"doc_id" < 200), n = 2)
        .orderBy($"doc_id")
    },
      """WITH d AS (
           SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
           FROM documents WHERE doc_id < 200),
         t AS (
           SELECT doc_id, len(toks) AS nt, toks FROM d WHERE len(toks) >= 2),
         pos AS (
           SELECT doc_id, nt, toks, unnest(range(1, nt::BIGINT)) AS i FROM t),
         occ AS (
           SELECT doc_id, i, toks[i::INT] || ' ' || toks[(i + 1)::INT] AS gram
           FROM pos),
         cnts AS (
           SELECT doc_id, gram, count(*) AS c FROM occ GROUP BY 1, 2),
         top AS (
           SELECT doc_id, max(c)::BIGINT AS top_gram_cnt FROM cnts GROUP BY 1),
         dupocc AS (
           SELECT o.doc_id, o.i FROM occ o
           JOIN cnts c ON c.doc_id = o.doc_id AND c.gram = o.gram
           WHERE c.c >= 2),
         cover AS (
           SELECT doc_id, i AS p FROM dupocc
           UNION ALL SELECT doc_id, i + 1 FROM dupocc),
         dup AS (
           SELECT g.doc_id, g.dgo, v.dtc FROM
             (SELECT doc_id, count(DISTINCT i)::BIGINT AS dgo
              FROM dupocc GROUP BY 1) g
           JOIN (SELECT doc_id, count(DISTINCT p)::BIGINT AS dtc
                 FROM cover GROUP BY 1) v USING (doc_id))
         SELECT t.doc_id, t.nt::INT AS n_tokens, top.top_gram_cnt,
                coalesce(dup.dgo, 0) AS dup_gram_occurrences,
                coalesce(dup.dtc, 0) AS dup_token_cover
         FROM t JOIN top USING (doc_id) LEFT JOIN dup USING (doc_id)
         ORDER BY doc_id"""),

    // llmops interpolated Kneser-Ney perplexity — the smoothing KenLM
    // (CCNet's actual LM) implements, upgrading q99's add-k floor:
    // unseen mass is redistributed by continuation TYPE counts, all
    // derived relationally from the bigram table alone. Trained on
    // the English slice and scoring EVERY doc, so the unseen-history
    // backoff branch is exercised; the oracle re-derives history,
    // continuation, and both scalars from the single dumped table.
    Query("q112_kn_perplexity", (s, d) => {
      import s.implicits._
      val L = graft.llmops.LangModel
      val docs = t(s, d, "documents")
      val bi = L.bigramCounts(docs.filter($"lang" === "en"), $"text")
      if (materializing) materialize(bi, "q112_bigrams")
      L.knNllScores(docs, bi, d = 0.75)
        .select($"doc_id", $"n_bigrams", round($"avg_nll", 4).as("avg_nll"))
        .orderBy($"doc_id")
    },
      raw"""WITH bi AS (
           SELECT w1, w2, c
           FROM read_parquet('$scratch/q112_bigrams/*.parquet')),
         hist AS (SELECT w1, sum(c) AS ch, count(*) AS n1p FROM bi GROUP BY 1),
         cont AS (SELECT w2, count(*) AS nc FROM bi GROUP BY 1),
         sc AS (SELECT (SELECT count(*) FROM bi)::DOUBLE AS ntypes,
                       (SELECT count(*) FROM cont)::DOUBLE AS v),
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
                  -ln(CASE WHEN h.ch IS NULL
                       THEN (coalesce(ct.nc, 0) + 1.0) /
                            (sc.ntypes + sc.v + 1.0)
                       ELSE greatest(coalesce(bi.c, 0) - 0.75, 0) / h.ch
                            + (0.75 * h.n1p / h.ch) *
                              ((coalesce(ct.nc, 0) + 1.0) /
                               (sc.ntypes + sc.v + 1.0)) END) AS nll
           FROM pairs p
           LEFT JOIN bi ON bi.w1 = p.w1 AND bi.w2 = p.w2
           LEFT JOIN hist h ON h.w1 = p.w1
           LEFT JOIN cont ct ON ct.w2 = p.w2, sc)
         SELECT doc_id, count(*)::BIGINT AS n_bigrams,
                round(avg(nll), 4) AS avg_nll
         FROM nll GROUP BY doc_id ORDER BY doc_id"""),

    // llmops perceptual image near-dup (the LAION-style image-dedup
    // path): REAL decoded pixels → 64-bit dHash (exact integer
    // gradient signs, so any engine reproduces it bit-for-bit) → the
    // same banded-Hamming join text SimHash rides. The planted PNGs'
    // pixel values depend only on the 9×8 grid cell, so the oracle
    // predicts every 64-bit hash in closed form WITHOUT decoding a
    // byte — and its all-pairs join checks the LSH path's
    // completeness guarantee at Hamming ≤ 3 (4 bands, pigeonhole).
    Query("q113_image_dhash", (s, d) => {
      import s.implicits._
      val M = graft.llmops.Multimodal
      val assets = M.plantedHashImages(s,
        t(s, d, "documents").filter($"doc_id" % 17 === 0))
      M.imageNearDupPairs(M.imageDHashes(s, assets), maxHamming = 3)
        .select($"id_a".cast("long").as("id_a"),
          $"id_b".cast("long").as("id_b"),
          $"hamming".cast("long").as("hamming"))
        .orderBy($"id_a", $"id_b")
    },
      """WITH d AS (SELECT doc_id, doc_id % 25 AS g, (doc_id % 11 = 0) AS bump
                    FROM documents WHERE doc_id % 17 = 0),
         cells AS (
           SELECT doc_id, i, j,
                  (31*g + 17*i + 29*j + 23*((g*(i+2*j)) % 13)) % 150 +
                    CASE WHEN bump AND i = 4 AND j = 0 THEN 50 ELSE 0 END AS v
           FROM d,
                (SELECT unnest(generate_series(0, 8)) AS i),
                (SELECT unnest(generate_series(0, 7)) AS j)),
         bits AS (
           SELECT l.doc_id, (l.j*8 + l.i) AS idx
           FROM cells l JOIN cells r
             ON r.doc_id = l.doc_id AND r.j = l.j AND r.i = l.i + 1
           WHERE r.v > l.v),
         hs AS (SELECT doc_id,
                       bit_or(CASE WHEN idx = 63
                              THEN (-9223372036854775807 - 1)::BIGINT
                              ELSE 1::BIGINT << idx END) AS dh
                FROM bits GROUP BY doc_id),
         hashes AS (SELECT d.doc_id, coalesce(hs.dh, 0) AS dh
                    FROM d LEFT JOIN hs USING (doc_id))
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                bit_count(xor(a.dh, b.dh))::BIGINT AS hamming
         FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.dh, b.dh)) <= 3
         ORDER BY id_a, id_b"""),

    // llmops REAL audio decode: canonical RIFF/WAVE PCM needs no codec
    // library — the parse is ByteBuffer arithmetic, so WAV decode is
    // as real as q108's imageio path. Planted mono square waves have
    // closed-form stats (mean |sample| = amplitude, zero crossings =
    // floor((n-1)/half), duration = n/8 ms), so the oracle predicts
    // every recovered value without parsing a byte — including NULLs
    // for the every-37th truncated payload.
    Query("q114_audio_decode", (s, d) => {
      import s.implicits._
      val A = graft.llmops.Audio
      val assets = A.plantedAudio(s, t(s, d, "documents")
        .filter($"doc_id" < 500))
      A.decodeAudioStats(s, assets).toDF()
        .select($"asset_id", $"sample_rate", $"channels", $"n_frames",
          $"duration_ms", round($"mean_abs", 4).as("mean_abs"),
          $"zero_crossings")
        .orderBy($"asset_id")
    },
      // audio decode: every stat is closed-form arithmetic on the plant
      // parameters (square wave: mean |s| = amp, crossings at multiples
      // of the half-period); every 37th payload is truncated → NULLs
      """WITH d AS (SELECT doc_id,
                           1 + doc_id % 5 AS half,
                           (1000 + (doc_id % 7) * 100)::DOUBLE AS amp,
                           160 + (doc_id % 11) * 16 AS n,
                           (doc_id % 37 = 0) AS corrupt
                    FROM documents WHERE doc_id < 500)
         SELECT doc_id AS asset_id,
                CASE WHEN corrupt THEN NULL ELSE 8000 END AS sample_rate,
                CASE WHEN corrupt THEN NULL ELSE 1 END AS channels,
                CASE WHEN corrupt THEN NULL ELSE n END AS n_frames,
                CASE WHEN corrupt THEN NULL ELSE n // 8 END AS duration_ms,
                CASE WHEN corrupt THEN NULL ELSE round(amp, 4) END AS mean_abs,
                CASE WHEN corrupt THEN NULL ELSE (n - 1) // half
                     END AS zero_crossings
         FROM d ORDER BY asset_id"""),

    // llmops audio near-dup: REAL decoded samples → 64-bit energy
    // dHash (integer frame energies, gradient-sign bits — the 1-D
    // sibling of q113's spatial dHash, volume-invariant because
    // energy is quadratic in amplitude) → the same banded-Hamming
    // join. Planted clips' frame energies depend only on (group,
    // frame), so the oracle predicts every hash in closed form and
    // its all-pairs join checks LSH completeness at Hamming ≤ 3.
    Query("q115_audio_fingerprint", (s, d) => {
      import s.implicits._
      val A = graft.llmops.Audio
      val assets = A.plantedFingerprintAudio(s, t(s, d, "documents")
        .filter($"doc_id" % 17 === 0))
      A.audioNearDupPairs(A.audioEnergyHashes(s, assets), maxHamming = 3)
        .select($"id_a".cast("long").as("id_a"),
          $"id_b".cast("long").as("id_b"),
          $"hamming".cast("long").as("hamming"))
        .orderBy($"id_a", $"id_b")
    },
      // audio fingerprint: frame energies are 4·A(g,b)² with A positive,
      // so bit b ⇔ A(g,b+1) > A(g,b) — the hash in closed form, then
      // the all-pairs Hamming join (checks the LSH path's completeness)
      """WITH d AS (SELECT doc_id, doc_id % 25 AS g, (doc_id % 11 = 0) AS bump
                    FROM documents WHERE doc_id % 17 = 0),
         bins AS (
           SELECT doc_id, b,
                  100 + (31*g + 17*b + 23*((g*(b+3)) % 13)) % 150 +
                    CASE WHEN bump AND b = 4 THEN 50 ELSE 0 END AS v
           FROM d, (SELECT unnest(generate_series(0, 64)) AS b)),
         bits AS (
           SELECT l.doc_id, l.b AS idx
           FROM bins l JOIN bins r
             ON r.doc_id = l.doc_id AND r.b = l.b + 1
           WHERE r.v > l.v),
         hs AS (SELECT doc_id,
                       bit_or(CASE WHEN idx = 63
                              THEN (-9223372036854775807 - 1)::BIGINT
                              ELSE 1::BIGINT << idx END) AS ah
                FROM bits GROUP BY doc_id),
         hashes AS (SELECT d.doc_id, coalesce(hs.ah, 0) AS ah
                    FROM d LEFT JOIN hs USING (doc_id))
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                bit_count(xor(a.ah, b.ah))::BIGINT AS hamming
         FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.ah, b.ah)) <= 3
         ORDER BY id_a, id_b"""),

    // llmops exact training-sequence packing (the loader layout
    // q57's coarse bin assignment approximates): the global token
    // stream sliced into fixed 256-token sequences with boundary-
    // straddling fragments and zero padding. The one global construct
    // — the prefix sum in doc order — runs as range-bucketed windows
    // plus a ≤|buckets|-row offset table, never a single-task sort;
    // the oracle replays it with a plain global window.
    Query("q116_pack_sequences", (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
        .select($"doc_id",
          graft.llmops.TextFuncs.tokenCount($"text").as("n_toks"))
      graft.llmops.Packing.packSequences(docs, seqLen = 256)
        .select($"seq_id", $"id".as("doc_id"), $"doc_offset",
          $"seq_offset", $"n_toks")
        .orderBy($"seq_id", $"doc_id")
    },
      // exact sequence packing: the oracle replays the bucketed prefix
      // sum with a plain global window (same stream, same fragments)
      """WITH toks AS (
           SELECT doc_id,
                  CASE WHEN len(trim(text)) = 0 THEN 0
                       ELSE len(string_split_regex(lower(trim(text)), '\s+'))
                       END::BIGINT AS nt
           FROM documents),
         offs AS (
           SELECT doc_id, nt,
                  coalesce(sum(nt) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0)::BIGINT AS st
           FROM toks WHERE nt >= 1),
         frags AS (
           SELECT doc_id, nt, st,
                  unnest(generate_series(st // 256,
                                         (st + nt - 1) // 256)) AS seq_id
           FROM offs)
         SELECT seq_id, doc_id,
                greatest(seq_id * 256 - st, 0) AS doc_offset,
                greatest(st - seq_id * 256, 0) AS seq_offset,
                least(st + nt, (seq_id + 1) * 256)
                  - greatest(st, seq_id * 256) AS n_toks
         FROM frags ORDER BY seq_id, doc_id"""),

    // llmops REAL multi-frame decode: animated GIF is the one
    // frame-sequence container the JDK decodes without codec libs,
    // so the 1-asset→n-frame explode (q35's sampleFrames shape) runs
    // over ACTUAL decoded frames here. Planted solid-gray frames have
    // shade (13·id + 31·f) mod 200, so the oracle predicts every
    // frame row — count, dimensions, exact mean — without decoding a
    // byte; the every-37th truncated payload (GIF magic intact,
    // body gone) must contribute ZERO rows, never a task failure.
    Query("q117_frame_decode", (s, d) => {
      import s.implicits._
      val M = graft.llmops.Multimodal
      val assets = M.plantedGifs(s, t(s, d, "documents")
        .filter($"doc_id" % 13 === 0))
      M.decodeVideoFrameStats(s, assets).toDF()
        .select($"asset_id", $"frame_index", $"width", $"height",
          round($"mean_luma", 4).as("mean_luma"))
        .orderBy($"asset_id", $"frame_index")
    },
      // multi-frame decode: every frame row predicted from the plant
      // arithmetic; corrupt (every 37th) assets contribute no rows
      """WITH d AS (SELECT doc_id, 3 + doc_id % 4 AS w,
                           2 + doc_id % 3 AS h, 2 + doc_id % 4 AS nf
                    FROM documents
                    WHERE doc_id % 13 = 0 AND doc_id % 37 <> 0)
         SELECT doc_id AS asset_id, f AS frame_index,
                w::INT AS width, h::INT AS height,
                round(((13 * doc_id + 31 * f) % 200)::DOUBLE, 4) AS mean_luma
         FROM d, (SELECT unnest(generate_series(0, 4)) AS f)
         WHERE f < nf
         ORDER BY asset_id, frame_index"""),

    // llmops REAL PDF text extraction — the document modality, and
    // the reference's actual payload type (it downloads PDF earnings
    // reports and parses them; reference README.md:80-82, 149-162).
    // Planted three-line PDFs (Flate-compressed content streams,
    // literal strings with escaped parens, a TJ array with kern
    // numbers and a hex-string half) carry text that is pure
    // arithmetic on doc_id, so the oracle predicts the EXACT
    // extracted string without parsing a byte; every 37th payload is
    // truncated to 8 bytes and must extract to nulls, never a task
    // failure.
    Query("q118_pdf_extract", (s, d) => {
      import s.implicits._
      val P = graft.llmops.Pdf
      val assets = P.plantedPdfs(s, t(s, d, "documents")
        .filter($"doc_id" % 11 === 0))
      P.extractPdfText(s, assets).toDF()
        .select($"asset_id", $"n_chars", $"text")
        .orderBy($"asset_id")
    },
      """WITH t AS (
           SELECT doc_id,
                  'report ' || doc_id || ' earnings (net) summary' || chr(10) ||
                  'revenue ' || (doc_id * 31 + 1) || ' usd' || chr(10) ||
                  'total ' || (doc_id * 7) || ' qtr ' || (doc_id % 4) AS txt
           FROM documents WHERE doc_id % 11 = 0)
         SELECT doc_id AS asset_id,
                CASE WHEN doc_id % 37 = 0 THEN NULL
                     ELSE length(txt) END AS n_chars,
                CASE WHEN doc_id % 37 = 0 THEN NULL ELSE txt END AS text
         FROM t ORDER BY asset_id"""),

    // The document modality end-to-end on REAL corpus text: every 7th
    // document is rendered into an actual PDF (escaped literal string,
    // Flate-compressed content stream) and extracted back — the oracle
    // is a STRAIGHT read of the documents table, so the whole
    // encoder→deflate→stream-scan→inflate→string-parser path must
    // reproduce every corpus byte (md5-pinned) to pass.
    Query("q119_pdf_roundtrip", (s, d) => {
      import s.implicits._
      val P = graft.llmops.Pdf
      val docs = t(s, d, "documents")
        .filter($"text".isNotNull && $"doc_id" % 7 === 0)
      P.extractPdfText(s, P.encodeCorpusPdfs(s, docs)).toDF()
        .select($"asset_id", $"n_chars",
          md5($"text".cast("binary")).as("text_md5"))
        .orderBy($"asset_id")
    },
      """SELECT doc_id AS asset_id, length(text)::BIGINT AS n_chars,
                md5(text) AS text_md5
         FROM documents WHERE text IS NOT NULL AND doc_id % 7 = 0
         ORDER BY asset_id"""),

    // The media-decoder EXPRESSION face under the oracle gate: the
    // SQL-registered image_dhash runs inside a plain spark.sql
    // projection (no Dataset path anywhere), banded 4x16-bit in SQL —
    // and the oracle predicts every hash in closed form from the q113
    // fixture arithmetic, then replays the same banding. Pins that the
    // codegen expression computes THE hash, not merely a hash.
    Query("q120_dhash_expr", (s, d) => {
      import s.implicits._
      val M = graft.llmops.Multimodal
      M.plantedHashImages(s, t(s, d, "documents")
        .filter($"doc_id" % 17 === 0)).toDF()
        .createOrReplaceTempView("q120_assets")
      s.sql("""SELECT band, band_hash, count(*) AS n FROM (
           SELECT b.band,
                  shiftright(image_dhash(content), b.band * 16) & 65535
                    AS band_hash
           FROM q120_assets,
                (VALUES (0), (1), (2), (3)) AS b(band)
           WHERE image_dhash(content) IS NOT NULL)
         GROUP BY band, band_hash ORDER BY band, band_hash""")
    },
      """WITH d AS (SELECT doc_id, doc_id % 25 AS g, (doc_id % 11 = 0) AS bump
                    FROM documents WHERE doc_id % 17 = 0),
         cells AS (
           SELECT doc_id, i, j,
                  (31*g + 17*i + 29*j + 23*((g*(i+2*j)) % 13)) % 150 +
                    CASE WHEN bump AND i = 4 AND j = 0 THEN 50 ELSE 0 END AS v
           FROM d,
                (SELECT unnest(generate_series(0, 8)) AS i),
                (SELECT unnest(generate_series(0, 7)) AS j)),
         bits AS (
           SELECT l.doc_id, (l.j*8 + l.i) AS idx
           FROM cells l JOIN cells r
             ON r.doc_id = l.doc_id AND r.j = l.j AND r.i = l.i + 1
           WHERE r.v > l.v),
         hs AS (SELECT doc_id,
                       bit_or(CASE WHEN idx = 63
                              THEN (-9223372036854775807 - 1)::BIGINT
                              ELSE 1::BIGINT << idx END) AS dh
                FROM bits GROUP BY doc_id),
         hashes AS (SELECT d.doc_id, coalesce(hs.dh, 0) AS dh
                    FROM d LEFT JOIN hs USING (doc_id))
         SELECT b.band, (dh >> (b.band * 16)) & 65535 AS band_hash,
                count(*) AS n
         FROM hashes, (VALUES (0), (1), (2), (3)) AS b(band)
         GROUP BY 1, 2 ORDER BY 1, 2"""),

    // WARC crawl-archive source (ISO 28500): every 3rd document is
    // wrapped in an HTML page, framed as an HTTP response record, and
    // packed into multi-record WARC files (16 of them, alternating
    // plain / one-gzip-member-per-record layout — built and parsed
    // entirely inside the tasks, file bytes never on the driver). The
    // parsed rows must reproduce URI/status/byte-length exactly as the
    // oracle predicts them straight from the documents table — the
    // whole frame→HTTP-parse→body-slice path is on the hook.
    Query("q121_warc_scan", (s, d) => {
      import s.implicits._
      val W = graft.io.Warc
      val files = t(s, d, "documents")
        .filter($"doc_id" % 3 === 0)
        .select($"doc_id", $"source", $"text")
        .as[(Long, String, String)]
        .groupByKey(_._1 % 16)
        .mapGroups { (g, it) =>
          val docs = it.toSeq.sortBy(_._1)
          val recs = W.encodeWarcinfo(s"part-$g.warc",
            "2026-01-01T00:00:00Z") +:
            docs.map { case (id, src, text) =>
              val html = s"""<html><body><p>$text</p><a href="/next/$id">n</a></body></html>"""
              W.encodeResponse(s"https://$src.example.com/doc/$id",
                "2026-01-01T00:00:00Z",
                html.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
            }
          W.encodeFile(recs, gzip = g % 2 == 0)
        }
      files.flatMap(W.parseRecords)
        .filter(_.warc_type == "response")
        .map(r => (r.target_uri.getOrElse(""),
          r.http_status.getOrElse(-1), r.content.length.toLong))
        .toDF("target_uri", "http_status", "n_bytes")
        .orderBy($"target_uri")
    },
      """SELECT 'https://' || source || '.example.com/doc/' || doc_id
                  AS target_uri,
                200 AS http_status,
                length('<html><body><p>' || text || '</p><a href="/next/'
                       || doc_id || '">n</a></body></html>')::BIGINT
                  AS n_bytes
         FROM documents WHERE doc_id % 3 = 0
         ORDER BY target_uri"""),

    // The reference's ACTUAL flow end-to-end: crawl archive → PDF
    // payload → extracted text. Every 5th document's text is rendered
    // into a real PDF, framed as an application/pdf HTTP response in
    // multi-record WARC files, parsed back by the WARC source, and the
    // text recovered by the pdf_text EXPRESSION — three codecs
    // composed, and the oracle is still a straight md5-pinned read of
    // the documents table.
    Query("q122_warc_pdf_pipeline", (s, d) => {
      import s.implicits._
      val W = graft.io.Warc
      val files = t(s, d, "documents")
        .filter($"text".isNotNull && $"doc_id" % 5 === 0)
        .select($"doc_id", $"source", $"text")
        .as[(Long, String, String)]
        .groupByKey(_._1 % 8)
        .mapGroups { (g, it) =>
          val docs = it.toSeq.sortBy(_._1)
          val recs = W.encodeWarcinfo(s"pdfs-$g.warc",
            "2026-01-01T00:00:00Z") +:
            docs.map { case (id, src, text) =>
              W.encodeResponse(s"https://$src.example.com/reports/$id.pdf",
                "2026-01-01T00:00:00Z",
                graft.llmops.Pdf.PdfCodec.encodePdf(Seq(text)),
                httpContentType = "application/pdf")
            }
          W.encodeFile(recs, gzip = g % 2 == 0)
        }
      files.flatMap(W.parseRecords)
        .filter(r => r.warc_type == "response" &&
          r.http_content_type.contains("application/pdf"))
        .map(r => (r.target_uri.getOrElse(""), r.content))
        .toDF("target_uri", "content")
        .select($"target_uri",
          md5(graft.llmops.MediaExprs.pdf_text($"content").cast("binary"))
            .as("text_md5"))
        .orderBy($"target_uri")
    },
      """SELECT 'https://' || source || '.example.com/reports/' || doc_id
                  || '.pdf' AS target_uri,
                md5(text) AS text_md5
         FROM documents WHERE text IS NOT NULL AND doc_id % 5 = 0
         ORDER BY target_uri"""),

    // URL canonicalization — the crawl-scale visited-set key: messy
    // URLs (uppercase scheme/host, default port, duplicate slashes,
    // dot segments, tracking params, unsorted query, fragment) built
    // per doc must collapse to the EXACT canonical the oracle
    // constructs directly. Pure narrow projection; the only shuffle is
    // the count.
    Query("q123_canonical_url", (s, d) => {
      import s.implicits._
      t(s, d, "documents")
        .withColumn("messy",
          concat(lit("HTTPS://"), upper($"source"),
            lit(".Example.COM:443/docs//"), $"doc_id", lit("/../"),
            $"doc_id", lit(".pdf?utm_source=x&b=2&a=1#sec")))
        .groupBy(graft.expr.UrlFuncs.canonical_url($"messy").as("canonical"))
        .agg(count(lit(1)).as("n"))
        .orderBy($"canonical")
    },
      """SELECT 'https://' || lower(source) || '.example.com/docs/'
                  || doc_id || '.pdf?a=1&b=2' AS canonical,
                count(*) AS n
         FROM documents GROUP BY 1 ORDER BY 1"""),

    // Unicode normalization tier (X92): NFC / strip-accents / clean-text
    // over per-doc messy strings the oracle reconstructs byte-identically
    // with DuckDB's own nfc_normalize/strip_accents/regexp pipeline.
    Query("q124_unicode_norm", (s, d) => {
      import s.implicits._
      import graft.expr.NormFuncs._
      t(s, d, "documents")
        .filter($"doc_id" % 7 === 0)
        .withColumn("messy",
          concat(lit("A\u0301"), substring($"text", 1, 24),
            lit("\t Nun\u0303ez\u000B\u000C x\u007F  ")))
        .select($"doc_id",
          md5(nfc_norm($"messy")).as("nfc_md5"),
          md5(strip_accents($"messy")).as("plain_md5"),
          md5(clean_text($"messy")).as("clean_md5"),
          length(clean_text($"messy")).as("n_clean"))
        .orderBy($"doc_id")
    },
      """WITH m AS (
           SELECT doc_id,
                  'A' || chr(769) || substr(text, 1, 24) || chr(9)
                      || ' Nun' || chr(771) || 'ez' || chr(11) || chr(12)
                      || ' x' || chr(127) || '  ' AS messy
           FROM documents WHERE doc_id % 7 = 0),
         c AS (
           SELECT doc_id, messy,
                  trim(regexp_replace(regexp_replace(messy,
                         '[\x01-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
                       '[ \t\n\r]+', ' ', 'g'), ' ') AS clean
           FROM m)
         SELECT doc_id,
                md5(nfc_normalize(messy)) AS nfc_md5,
                md5(strip_accents(messy)) AS plain_md5,
                md5(clean) AS clean_md5,
                length(clean) AS n_clean
         FROM c ORDER BY doc_id"""),

    // robots.txt politeness (X93): RFC 9309 group selection (named over
    // *), longest-match precedence, Allow tie-break, $-anchored
    // wildcards — every verdict predicted closed-form from doc_id.
    Query("q125_robots_policy", (s, d) => {
      import s.implicits._
      val robots =
        """# graft politeness fixture
          |User-agent: graftbot-images
          |Disallow: /
          |
          |User-agent: graftbot
          |Disallow: /private/
          |Allow: /private/open/
          |Disallow: /*.pdf$
          |Crawl-delay: 2.5
          |Sitemap: https://ex.com/sitemap.xml
          |Sitemap: https://ex.com/news.xml
          |
          |User-agent: *
          |Disallow: /
          |""".stripMargin
      t(s, d, "documents")
        .filter($"doc_id" % 5 === 0)
        .withColumn("path",
          when($"doc_id" % 4 === 0, concat(lit("/private/p"), $"doc_id"))
            .when($"doc_id" % 4 === 1, concat(lit("/private/open/p"), $"doc_id"))
            .when($"doc_id" % 4 === 2, concat(lit("/docs/r"), $"doc_id", lit(".pdf")))
            .otherwise(concat(lit("/docs/r"), $"doc_id", lit(".html"))))
        .select($"doc_id",
          Graft.robotsAllowed(lit(robots), lit("graftbot/1.0"),
            concat(lit("https://ex.com"), $"path")).as("allowed"),
          size(Graft.robotsSitemaps(lit(robots))).as("n_sitemaps"),
          Graft.robotsCrawlDelay(lit(robots), lit("graftbot/1.0"))
            .as("delay_s"))
        .orderBy($"doc_id")
    },
      """SELECT doc_id,
                doc_id % 4 IN (1, 3) AS allowed,
                2 AS n_sitemaps,
                CAST(2.5 AS DOUBLE) AS delay_s
         FROM documents WHERE doc_id % 5 = 0 ORDER BY doc_id"""),

    // Sitemap extraction (X94): urlset + index entries, entity-decoded
    // and CDATA locs, optional per-entry fields — the generator's rows
    // predicted closed-form per doc_id.
    Query("q126_sitemap_extract", (s, d) => {
      import s.implicits._
      t(s, d, "documents")
        .filter($"doc_id" % 6 === 0)
        .withColumn("xml", concat(
          lit("<?xml version=\"1.0\"?>\n" +
            "<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">\n" +
            " <url><loc>https://s.ex.com/d"), $"doc_id",
          lit("/p0</loc><lastmod>2026-08-01</lastmod>" +
            "<priority>0.5</priority></url>\n <url><loc>https://s.ex.com/d"),
          $"doc_id",
          lit("/p1?a=1&amp;b=2</loc></url>\n" +
            " <url><loc><![CDATA[https://s.ex.com/d"), $"doc_id",
          lit("/p2]]></loc><changefreq>daily</changefreq></url>\n</urlset>")))
        .select($"doc_id", Graft.extractSitemap($"xml")
          .as(Seq("kind", "loc", "lastmod", "changefreq", "priority")))
        .orderBy($"doc_id", $"loc")
    },
      """WITH e AS (
           SELECT doc_id, 'url' AS kind,
                  'https://s.ex.com/d' || doc_id || '/p0' AS loc,
                  '2026-08-01' AS lastmod,
                  CAST(NULL AS VARCHAR) AS changefreq,
                  '0.5' AS priority
           FROM documents WHERE doc_id % 6 = 0
           UNION ALL
           SELECT doc_id, 'url',
                  'https://s.ex.com/d' || doc_id || '/p1?a=1&b=2',
                  NULL, NULL, NULL
           FROM documents WHERE doc_id % 6 = 0
           UNION ALL
           SELECT doc_id, 'url',
                  'https://s.ex.com/d' || doc_id || '/p2',
                  NULL, 'daily', NULL
           FROM documents WHERE doc_id % 6 = 0)
         SELECT doc_id, kind, loc, lastmod, changefreq, priority
         FROM e ORDER BY doc_id, loc"""),

    // CDX-style archive index (X95): real WARC shards written by the
    // tasks, indexed to (uri, file, offset, length) rows, then every
    // payload recovered by RANGED point reads off the index alone —
    // the oracle md5-pins each body straight against the documents
    // table, so a wrong offset, member bound, or slice anywhere fails.
    Query("q127_warc_cdx", (s, d) => {
      import s.implicits._
      val W = graft.io.Warc
      val dir = java.nio.file.Files.createTempDirectory("graft_cdx_q127")
        .toFile.getAbsolutePath
      t(s, d, "documents")
        .filter($"doc_id" % 4 === 1)
        .select($"doc_id", $"source", $"text")
        .as[(Long, String, String)]
        .groupByKey(_._1 % 12)
        .mapGroups { (g, it) =>
          val docs = it.toSeq.sortBy(_._1)
          val recs = W.encodeWarcinfo(s"part-$g.warc",
            "2026-01-01T00:00:00Z") +:
            docs.map { case (id, src, text) =>
              val html = s"<html><body><p>$text</p></body></html>"
              W.encodeResponse(s"https://$src.example.com/cdx/$id",
                "2026-01-01T00:00:00Z",
                html.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            }
          val gz = g % 2 == 0
          (s"part-$g.warc" + (if (gz) ".gz" else ""),
            W.encodeFile(recs, gz))
        }
        // task-side shard write (the archive-writer pattern; shared FS)
        .foreach { case (name, bytes) =>
          java.nio.file.Files.write(
            java.nio.file.Paths.get(dir, name), bytes): Unit
        }
      val idx = W.cdxIndex(s, dir + "/*")
        .filter($"warc_type" === "response")
      W.fetchRecords(s, idx)
        .select($"target_uri", md5($"content").as("body_md5"),
          $"http_status")
        .orderBy($"target_uri")
    },
      """SELECT 'https://' || source || '.example.com/cdx/' || doc_id
                  AS target_uri,
                md5('<html><body><p>' || text || '</p></body></html>')
                  AS body_md5,
                200 AS http_status
         FROM documents WHERE doc_id % 4 = 1 ORDER BY target_uri"""),

    // Cross-document line boilerplate removal (X97): nav/footer lines
    // planted into every doc are dropped corpus-wide, per-doc unique
    // lines survive in order — the whole rule replayed relationally.
    Query("q128_line_boilerplate", (s, d) => {
      import s.implicits._
      val messy = t(s, d, "documents")
        .filter($"doc_id" % 3 === 0)
        .select($"doc_id", concat(
          lit("NAV MENU HOME\n"), $"text",
          lit("\nunique "), $"doc_id",
          lit("\nCOPYRIGHT 2026 FOOTER")).as("mtext"))
      graft.llmops.TextFuncs
        .dropBoilerplateLines(messy, minDocs = 2, textCol = "mtext")
        .select($"doc_id", md5($"mtext").as("clean_md5"),
          length($"mtext").as("n_chars"))
        .orderBy($"doc_id")
    },
      """WITH m AS (
           SELECT doc_id,
                  'NAV MENU HOME' || chr(10) || text || chr(10)
                    || 'unique ' || doc_id || chr(10)
                    || 'COPYRIGHT 2026 FOOTER' AS mtext
           FROM documents WHERE doc_id % 3 = 0),
         l AS (
           SELECT doc_id, string_split(mtext, chr(10)) AS ls FROM m),
         e AS (
           SELECT doc_id, unnest(ls) AS line,
                  generate_subscripts(ls, 1) AS ord
           FROM l),
         b AS (
           SELECT line FROM e WHERE trim(line) <> ''
           GROUP BY line HAVING count(DISTINCT doc_id) >= 2),
         k AS (
           SELECT e.doc_id, e.line, e.ord
           FROM e ANTI JOIN b USING (line))
         SELECT doc_id,
                md5(string_agg(line, chr(10) ORDER BY ord)) AS clean_md5,
                length(string_agg(line, chr(10) ORDER BY ord)) AS n_chars
         FROM k GROUP BY doc_id ORDER BY doc_id"""),

    // Line-shape quality signals (X98): duplicate-line and
    // terminal-punctuation fractions (FineWeb/C4 heuristics), the
    // whole rule replayed relationally over the same planted lines.
    Query("q129_line_quality", (s, d) => {
      import s.implicits._
      val T = graft.llmops.TextFuncs
      t(s, d, "documents")
        .filter($"doc_id" % 5 === 2)
        .withColumn("mtext", concat($"text",
          lit("\nmenu item\nmenu item\nA proper sentence."),
          when($"doc_id" % 2 === 0, lit("\nAnother one!"))
            .otherwise(lit(""))))
        .select($"doc_id",
          T.duplicateLineFraction($"mtext").as("dup_line_frac"),
          T.terminalPunctLineFraction($"mtext").as("punct_line_frac"))
        .orderBy($"doc_id")
    },
      """WITH m AS (
           SELECT doc_id,
                  text || chr(10) || 'menu item' || chr(10) || 'menu item'
                    || chr(10) || 'A proper sentence.'
                    || CASE WHEN doc_id % 2 = 0
                            THEN chr(10) || 'Another one!' ELSE '' END
                    AS mtext
           FROM documents WHERE doc_id % 5 = 2),
         n AS (
           SELECT doc_id,
                  list_filter(string_split(mtext, chr(10)),
                              l -> trim(l) <> '') AS nb
           FROM m)
         SELECT doc_id,
                CASE WHEN len(nb) = 0 THEN 0.0
                     ELSE 1.0 - len(list_distinct(nb)) / len(nb)::DOUBLE
                END AS dup_line_frac,
                CASE WHEN len(nb) = 0 THEN 0.0
                     ELSE len(list_filter(nb, l ->
                            regexp_matches(trim(l), '[.!?"'']$')))
                          / len(nb)::DOUBLE
                END AS punct_line_frac
         FROM n ORDER BY doc_id"""),

    // Sentence segmentation (X99): abbreviation-guarded boundaries —
    // "Dr." and "Inc." must not split, ! and ? must — every sentence
    // predicted closed-form from the planted construction.
    Query("q130_sentences", (s, d) => {
      import s.implicits._
      t(s, d, "documents")
        .filter($"doc_id" % 6 === 3)
        .withColumn("prose", concat(
          lit("First part about "), $"source",
          lit(". Dr. Smith of Acme Inc. spoke! Was it "), $"doc_id",
          lit("? The end.")))
        .withColumn("sents", Graft.splitSentences($"prose"))
        .select($"doc_id",
          size($"sents").as("n_sent"),
          md5(element_at($"sents", 1)).as("first_md5"),
          md5(element_at($"sents", 3)).as("third_md5"))
        .orderBy($"doc_id")
    },
      """SELECT doc_id, 4 AS n_sent,
                md5('First part about ' || source || '.') AS first_md5,
                md5('Was it ' || doc_id || '?') AS third_md5
         FROM documents WHERE doc_id % 6 = 3 ORDER BY doc_id"""),

    // Sentence-aligned retrieval chunking (X100): the same planted
    // sentences as q130 packed to a 40-char budget — the cumulative
    // sum, chunk assignment, and reassembly replayed relationally.
    Query("q131_sentence_chunks", (s, d) => {
      import s.implicits._
      val prose = t(s, d, "documents")
        .filter($"doc_id" % 6 === 3)
        .select($"doc_id", concat(
          lit("First part about "), $"source",
          lit(". Dr. Smith of Acme Inc. spoke! Was it "), $"doc_id",
          lit("? The end.")).as("text"))
      graft.llmops.Chunking.sentenceChunks(prose, targetChars = 40)
        .select($"doc_id", $"chunk_idx",
          md5($"chunk_text").as("chunk_md5"), $"n_sentences")
        .orderBy($"doc_id", $"chunk_idx")
    },
      """WITH s AS (
           SELECT doc_id, 0 AS pos,
                  'First part about ' || source || '.' AS s
           FROM documents WHERE doc_id % 6 = 3
           UNION ALL
           SELECT doc_id, 1, 'Dr. Smith of Acme Inc. spoke!'
           FROM documents WHERE doc_id % 6 = 3
           UNION ALL
           SELECT doc_id, 2, 'Was it ' || doc_id || '?'
           FROM documents WHERE doc_id % 6 = 3
           UNION ALL
           SELECT doc_id, 3, 'The end.'
           FROM documents WHERE doc_id % 6 = 3),
         c AS (
           SELECT doc_id, pos, s,
                  COALESCE(SUM(length(s) + 1) OVER (
                    PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS bf
           FROM s)
         SELECT doc_id,
                CAST(floor(bf / 40.0) AS INTEGER) AS chunk_idx,
                md5(string_agg(s, ' ' ORDER BY pos)) AS chunk_md5,
                CAST(count(*) AS INTEGER) AS n_sentences
         FROM c GROUP BY doc_id, CAST(floor(bf / 40.0) AS INTEGER)
         ORDER BY doc_id, chunk_idx"""),

    // Feature-hash embedder core (X101): every (doc, bucket) signed
    // count of the hashing-trick embedding replayed exactly — all
    // integer, md5-deterministic.
    Query("q132_hashed_embedding", (s, d) => {
      import s.implicits._
      graft.llmops.VectorFuncs.hashedBuckets(
          t(s, d, "documents").filter($"doc_id" % 9 === 1), dim = 64)
        .orderBy($"doc_id", $"bucket")
    },
      """WITH tok AS (
           SELECT doc_id,
                  unnest(string_split_regex(lower(trim(text)), '\s+')) AS t
           FROM documents WHERE doc_id % 9 = 1),
         h AS (
           SELECT doc_id,
                  CAST(('0x' || substr(md5(t), 1, 8))::BIGINT % 64
                       AS INTEGER) AS bucket,
                  CASE WHEN substr(md5(t), 9, 1) < '8'
                       THEN 1 ELSE -1 END AS sgn
           FROM tok WHERE t <> '')
         SELECT doc_id, bucket, CAST(sum(sgn) AS BIGINT) AS v
         FROM h GROUP BY doc_id, bucket ORDER BY doc_id, bucket"""),

    // PDF embedded-image extraction (X103): planted lossless DeviceGray
    // XObjects — every pixel closed-form, stats all-integer, truncated
    // assets contribute zero rows (the q117 contract).
    Query("q133_pdf_images", (s, d) => {
      import s.implicits._
      val assets = t(s, d, "documents")
        .filter($"doc_id" % 8 === 5)
        .select($"doc_id").as[Long]
        .map { id =>
          val w = (8 + id % 5).toInt
          val h = (6 + id % 3).toInt
          val full = graft.llmops.Pdf.PdfCodec.encodePdfWithImage(
            Seq(s"Img doc $id"), w, h,
            (x, y) => ((id * 7 + x * 3 + y * 11) % 251).toInt)
          val content = if (id % 11 == 0) full.take(60) else full
          graft.llmops.Multimodal.Asset(id, "document", content,
            None, None, None, Some("pdf"))
        }
      graft.llmops.Pdf.extractPdfImages(s, assets)
        .toDF()
        .select($"asset_id".as("doc_id"), $"img_idx", $"width",
          $"height", $"n_pixels", $"sum_gray")
        .orderBy($"doc_id")
    },
      """WITH d AS (
           SELECT doc_id, 8 + doc_id % 5 AS w, 6 + doc_id % 3 AS h
           FROM documents
           WHERE doc_id % 8 = 5 AND doc_id % 11 <> 0),
         px AS (
           SELECT doc_id, w, h,
                  unnest(generate_series(0, w - 1)) AS x
           FROM d),
         pxy AS (
           SELECT doc_id, w, h, x,
                  unnest(generate_series(0, h - 1)) AS y
           FROM px)
         SELECT doc_id, 0 AS img_idx,
                CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
                CAST(w * h AS BIGINT) AS n_pixels,
                CAST(sum((doc_id * 7 + x * 3 + y * 11) % 251) AS BIGINT)
                  AS sum_gray
         FROM pxy GROUP BY doc_id, w, h ORDER BY doc_id"""),

    // Set-based multi-query BM25 + RRF fusion (the bulk-evaluation
    // serving shape): THREE queries score in ONE dataflow
    // (Bm25.topKBatch — corpus tokenized once for the union of all
    // query terms, per-query top-k via the bounded-heap aggregate, no
    // rank window, no per-query jobs), twice under different
    // length-normalization (b = 0.75 and b = 0 — two genuinely
    // different rankings), fused by Retrieval.rrfFuse's exact
    // 1/(60+rank) arithmetic. The oracle recomputes every tf/df/idf,
    // both score sets, both rankings, and the fusion relationally.
    Query("q134_bm25_batch_rrf", (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val queries = Seq(
        (0L, "vector window merge"),
        (1L, "stream window"),
        (2L, "vector stream merge window")).toDF("query_id", "text")
      val lex = graft.llmops.Bm25.topKBatch(docs, queries, k = 15)
      val alt = graft.llmops.Bm25.topKBatch(docs, queries, k = 15, b = 0.0)
      graft.llmops.Retrieval.rrfFuse(lex, alt, k = 12)
        .select($"query_id", $"rk", $"doc_id",
          round($"rrf_score", 6).as("rrf_score"))
        .orderBy($"query_id", $"rk")
    },
      // Multi-query BM25 batch + RRF fusion: the q103 relational replay
      // extended to (query, term) pairs, TWO rankings (b=0.75 / b=0 —
      // same float-parity constant forms as Spark evaluates), and the
      // exact 1/(60+rank) fusion; ranks tie-break on doc_id after the
      // 4-decimal score round on both sides.
      """WITH toks AS (
           SELECT doc_id,
                  string_split_regex(lower(trim(text)), '\s+') AS l,
                  CASE WHEN length(trim(text)) = 0 THEN 0
                       ELSE len(string_split_regex(lower(trim(text)), '\s+'))
                  END AS dl
           FROM documents),
         stats AS (
           SELECT count(*)::DOUBLE AS n, avg(dl::DOUBLE) AS avgdl
           FROM toks),
         q AS (
           SELECT * FROM (VALUES
             (0, 'vector'), (0, 'window'), (0, 'merge'),
             (1, 'stream'), (1, 'window'),
             (2, 'vector'), (2, 'stream'), (2, 'merge'), (2, 'window'))
           AS t(qid, term)),
         posts AS (SELECT doc_id, dl, unnest(l) AS term FROM toks),
         tf AS (
           SELECT p.doc_id, p.term, count(*)::BIGINT AS tf,
                  max(p.dl)::DOUBLE AS dl
           FROM posts p JOIN (SELECT DISTINCT term FROM q) u
             ON u.term = p.term
           GROUP BY 1, 2),
         df AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
         idf AS (
           SELECT term,
                  ln(1.0 + ((SELECT n FROM stats) - df + 0.5) / (df + 0.5))
                    AS idf
           FROM df),
         contrib AS (
           SELECT q.qid, tf.doc_id,
                  idf.idf * (tf.tf * (1.2 + 1)) /
                    (tf.tf + 1.2 * (1.0 - 0.75 +
                      0.75 * tf.dl / (SELECT avgdl FROM stats))) AS ca,
                  idf.idf * (tf.tf * (1.2 + 1)) /
                    (tf.tf + 1.2 * (1.0 - 0.0 +
                      0.0 * tf.dl / (SELECT avgdl FROM stats))) AS cb
           FROM tf JOIN idf ON idf.term = tf.term
                   JOIN q ON q.term = tf.term),
         sc AS (
           SELECT qid, doc_id, round(sum(ca), 4) AS sa,
                  round(sum(cb), 4) AS sb
           FROM contrib GROUP BY 1, 2),
         ra AS (
           SELECT qid, doc_id, row_number() OVER (
             PARTITION BY qid ORDER BY sa DESC, doc_id) AS r
           FROM sc QUALIFY r <= 15),
         rb AS (
           SELECT qid, doc_id, row_number() OVER (
             PARTITION BY qid ORDER BY sb DESC, doc_id) AS r
           FROM sc QUALIFY r <= 15),
         fused AS (
           SELECT qid, doc_id,
                  coalesce(1.0 / (60 + ra.r), 0.0) +
                  coalesce(1.0 / (60 + rb.r), 0.0) AS rrf
           FROM ra FULL JOIN rb USING (qid, doc_id)),
         ranked AS (
           SELECT qid, doc_id, rrf, row_number() OVER (
             PARTITION BY qid ORDER BY rrf DESC, doc_id) AS rk
           FROM fused QUALIFY rk <= 12)
         SELECT qid::BIGINT AS query_id, rk::INTEGER AS rk, doc_id,
                round(rrf, 6) AS rrf_score
         FROM ranked ORDER BY query_id, rk"""),

    // One-call retrieval served end-to-end from the WRITTEN files
    // (X102's composition under its own oracle): buildIndex chunks +
    // embeds + writes the list-partitioned ANN index; the oracle
    // recomputes the query embeddings from the question TEXTS via the
    // q132 md5 arithmetic (integer bucket counts → exact double norm →
    // REAL cast, bit-identical to the float kernel), then replays
    // candidate generation (materialized probes, the q93 pattern), the
    // codes ⋈ codebooks ADC scoring, the (sim desc, vec_id) ranking,
    // and the chunk-table join — every serving stage from parquet
    // alone.
    Query("q135_retrieval_serve", (s, d) => {
      import s.implicits._
      val R = graft.llmops.Retrieval
      val base = s"$scratch/q135_ret"
      val docs = t(s, d, "documents")
        .filter($"doc_id" % 10 === 2 && $"text".isNotNull)
        .select($"doc_id", $"text")
      R.buildIndex(docs, base, targetChars = 200, dim = 64,
        nlist = 16, m = 8)
      val questions = Seq(
        (0L, "vector window merge"),
        (1L, "stream processing window"),
        (2L, "merge stream vector")).toDF("query_id", "text")
      if (materializing) {
        val (cents, _) = graft.llmops.AnnIndex.loadModels(s, s"$base/index")
        val qv = graft.llmops.VectorFuncs.hashedEmbedding(questions, 64,
          idCol = "query_id", textCol = "text")
        materialize(qv.select($"query_id",
          explode(graft.llmops.Ivf.nearest_centroids($"embedding", cents, 4))
            .as("list_id")), "q135_probes")
      }
      R.search(s, base, questions, k = 5, nprobe = 4)
        .select($"query_id", $"rk", $"doc_id", $"chunk_idx",
          md5($"chunk_text").as("chunk_md5"), $"sim")
        .orderBy($"query_id", $"rk")
    },
      // Retrieval served from the written files: query embeddings
      // recomputed from question texts (q132 arithmetic — integer bucket
      // counts, exact double norm, REAL cast = the float kernel's
      // values), candidates from the materialized probes (q93 pattern),
      // ADC scoring from the persisted codes ⋈ codebooks, rank by
      // (sim desc, vec_id), chunk metadata from the chunk table.
      raw"""WITH qt AS (
           SELECT * FROM (VALUES
             (0, 'vector window merge'),
             (1, 'stream processing window'),
             (2, 'merge stream vector')) AS t(query_id, qtext)),
         qtok AS (
           SELECT query_id,
                  unnest(string_split_regex(lower(trim(qtext)), '\s+')) AS t
           FROM qt),
         qb AS (
           SELECT query_id,
                  CAST(('0x' || substr(md5(t), 1, 8))::BIGINT % 64
                       AS INTEGER) AS dim,
                  CASE WHEN substr(md5(t), 9, 1) < '8'
                       THEN 1 ELSE -1 END AS sgn
           FROM qtok WHERE t <> ''),
         qraw AS (
           SELECT query_id, dim, CAST(sum(sgn) AS DOUBLE) AS v
           FROM qb GROUP BY 1, 2),
         qnorm AS (
           SELECT query_id, sqrt(sum(v * v)) AS nrm
           FROM qraw GROUP BY 1),
         qv AS (
           SELECT q.query_id, q.dim, CAST(q.v / n.nrm AS REAL) AS val
           FROM qraw q JOIN qnorm n USING (query_id) WHERE n.nrm > 0),
         idx AS (
           SELECT vec_id, codes, list_id::INT AS list_id
           FROM read_parquet('$scratch/q135_ret/index/list_id=*/*.parquet', hive_partitioning=true)),
         cb AS (
           SELECT sub, code, sdim, w::DOUBLE AS w
           FROM read_parquet('$scratch/q135_ret/index/_models/codebooks/*.parquet')),
         probes AS (
           SELECT query_id, list_id
           FROM read_parquet('$scratch/q135_probes/*.parquet')),
         codes AS (
           SELECT vec_id, s.i - 1 AS sub, codes[s.i] AS code
           FROM idx, generate_series(1, 8) s(i)),
         cand AS (
           SELECT DISTINCT p.query_id, a.vec_id
           FROM probes p JOIN idx a USING (list_id)),
         recon AS (
           SELECT c.vec_id, cb.sub * 8 + cb.sdim AS dim, cb.w
           FROM codes c JOIN cb ON cb.sub = c.sub AND cb.code = c.code),
         scored AS (
           SELECT cand.query_id, cand.vec_id,
                  round(sum(r.w * qv.val::DOUBLE), 6) AS sim
           FROM cand JOIN recon r ON r.vec_id = cand.vec_id
                     JOIN qv ON qv.query_id = cand.query_id
                            AND qv.dim = r.dim
           GROUP BY 1, 2),
         ranked AS (
           SELECT query_id, vec_id, sim, row_number() OVER (
             PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rk
           FROM scored WHERE sim IS NOT NULL),
         ch AS (
           SELECT vec_id, doc_id, chunk_idx, md5(chunk_text) AS chunk_md5
           FROM read_parquet('$scratch/q135_ret/chunks/*.parquet'))
         SELECT r.query_id::BIGINT AS query_id, r.rk::INTEGER AS rk,
                ch.doc_id, ch.chunk_idx, ch.chunk_md5, r.sim
         FROM ranked r JOIN ch ON ch.vec_id = r.vec_id
         WHERE r.rk <= 5 ORDER BY query_id, rk""",
      lifecycle = true), // chunk/embed/train/write + serve

    // Persisted lexical index (X106): tokenize-once/serve-many BM25.
    // Written in TWO batches (write + append) so the additive stats
    // rows are in the oracle-gated path, then served batch queries
    // read only the probed term buckets. The oracle replays every
    // df/idf/score from the WRITTEN postings + stats files alone —
    // the q93/q135 replay-from-files pattern for the lexical side.
    Query("q136_bm25_index_serve", (s, d) => {
      import s.implicits._
      val B = graft.llmops.Bm25Index
      val base = s"$scratch/q136_lex"
      val docs = t(s, d, "documents").select($"doc_id", $"text")
      B.write(docs.filter($"doc_id" % 2 === 0), base, nBuckets = 32)
      B.append(docs.filter($"doc_id" % 2 =!= 0), base)
      val queries = Seq(
        (0L, "vector window merge"),
        (1L, "stream window"),
        (2L, "vector stream")).toDF("query_id", "text")
      B.topK(s, base, queries, k = 12)
        .select($"query_id", $"rk", $"doc_id", $"n_terms_hit", $"score")
        .orderBy($"query_id", $"rk")
    },
      // Lexical index serve: df/idf/avgdl and every score recomputed
      // from the WRITTEN postings + additive stats files (write+append
      // batches sum), same float-parity constant forms as q103/q134.
      s"""WITH posts AS (
           SELECT id, term, tf, dl
           FROM read_parquet('$scratch/q136_lex/postings/term_bucket=*/*.parquet', hive_partitioning=true)),
         st AS (
           SELECT sum(n_docs)::DOUBLE AS n,
                  sum(sum_dl) / sum(n_docs) AS avgdl
           FROM read_parquet('$scratch/q136_lex/stats/*.parquet')),
         q AS (
           SELECT * FROM (VALUES
             (0, 'vector'), (0, 'window'), (0, 'merge'),
             (1, 'stream'), (1, 'window'),
             (2, 'vector'), (2, 'stream')) AS t(qid, term)),
         tf AS (
           SELECT p.id, p.term, p.tf, p.dl
           FROM posts p JOIN (SELECT DISTINCT term FROM q) u
             ON u.term = p.term),
         df AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
         idf AS (
           SELECT term,
                  ln(1.0 + ((SELECT n FROM st) - df + 0.5) / (df + 0.5))
                    AS idf
           FROM df),
         contrib AS (
           SELECT q.qid, tf.id,
                  idf.idf * (tf.tf * (1.2 + 1)) /
                    (tf.tf + 1.2 * (1.0 - 0.75 +
                      0.75 * tf.dl / (SELECT avgdl FROM st))) AS c
           FROM tf JOIN idf ON idf.term = tf.term
                   JOIN q ON q.term = tf.term),
         sc AS (
           SELECT qid, id, count(*)::BIGINT AS n_terms_hit,
                  round(sum(c), 4) AS score
           FROM contrib GROUP BY 1, 2),
         ranked AS (
           SELECT qid, id, n_terms_hit, score, row_number() OVER (
             PARTITION BY qid ORDER BY score DESC, id) AS rk
           FROM sc QUALIFY rk <= 12)
         SELECT qid::BIGINT AS query_id, rk::INTEGER AS rk, id AS doc_id,
                n_terms_hit, score
         FROM ranked ORDER BY query_id, rk""",
      lifecycle = true), // lexical index write + append + serve

    // Per-host document cap (X107): at most 7 docs per source, chosen
    // by the md5-of-id lottery — the exact survivor set pinned via
    // per-host count and id sum, the whole rule replayed relationally.
    Query("q137_host_cap", (s, d) => {
      import s.implicits._
      val capped = graft.llmops.Splits.hostCapSample(
        t(s, d, "documents").withColumn("host", $"source"), cap = 7)
      capped.groupBy($"host")
        .agg(count(lit(1)).as("n_docs"), sum($"doc_id").as("id_sum"))
        .orderBy($"host")
    },
      // host cap: the md5-of-id lottery ranked per host, cap 7 — the
      // survivor set pinned exactly by count + id sum
      """WITH r AS (
           SELECT doc_id, source AS host, row_number() OVER (
             PARTITION BY source
             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
           FROM documents)
         SELECT host, count(*) AS n_docs,
                CAST(sum(doc_id) AS BIGINT) AS id_sum
         FROM r WHERE rk <= 7 GROUP BY 1 ORDER BY 1"""),

    // RM3 pseudo-relevance feedback (X108): base BM25 top-4 per query
    // → relevance model over their terms (per-occurrence 1/dl, 8-dp
    // rounded cut) → top-6 expansion terms mixed with the original
    // query at 0.5 → weighted rescore. EVERY stage — base ranking,
    // feedback stats, term selection, weight mixing, weighted scores —
    // replayed relationally.
    Query("q138_rm3_expansion", (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val queries = Seq(
        (0L, "vector window"),
        (1L, "stream merge")).toDF("query_id", "text")
      graft.llmops.Bm25.rm3TopK(docs, queries, k = 10,
          fbDocs = 4, fbTerms = 6, origWeight = 0.5)
        .select($"query_id", $"rk", $"doc_id", $"n_terms_hit", $"score")
        .orderBy($"query_id", $"rk")
    },
      // RM3: base ranking, feedback relevance model, 8-dp term cut,
      // weight mixing, and the weighted rescore all replayed
      """WITH toks AS (
           SELECT doc_id,
                  string_split_regex(lower(trim(text)), '\s+') AS l,
                  CASE WHEN length(trim(text)) = 0 THEN 0
                       ELSE len(string_split_regex(lower(trim(text)), '\s+'))
                  END AS dl
           FROM documents),
         stats AS (
           SELECT count(*)::DOUBLE AS n, avg(dl::DOUBLE) AS avgdl
           FROM toks),
         q AS (
           SELECT * FROM (VALUES
             (0, 'vector'), (0, 'window'),
             (1, 'stream'), (1, 'merge')) AS t(qid, term)),
         posts AS (SELECT doc_id, dl, unnest(l) AS term FROM toks),
         tf0 AS (
           SELECT p.doc_id, p.term, count(*)::BIGINT AS tf,
                  max(p.dl)::DOUBLE AS dl
           FROM posts p JOIN (SELECT DISTINCT term FROM q) u
             ON u.term = p.term
           GROUP BY 1, 2),
         df0 AS (SELECT term, count(*)::DOUBLE AS df FROM tf0 GROUP BY 1),
         idf0 AS (
           SELECT term,
                  ln(1.0 + ((SELECT n FROM stats) - df + 0.5) / (df + 0.5))
                    AS idf
           FROM df0),
         c0 AS (
           SELECT q.qid, tf0.doc_id,
                  idf0.idf * (tf0.tf * (1.2 + 1)) /
                    (tf0.tf + 1.2 * (1.0 - 0.75 +
                      0.75 * tf0.dl / (SELECT avgdl FROM stats))) AS c
           FROM tf0 JOIN idf0 ON idf0.term = tf0.term
                    JOIN q ON q.term = tf0.term),
         s0 AS (
           SELECT qid, doc_id, round(sum(c), 4) AS score
           FROM c0 GROUP BY 1, 2),
         top AS (
           SELECT qid, doc_id FROM (
             SELECT qid, doc_id, row_number() OVER (
               PARTITION BY qid ORDER BY score DESC, doc_id) AS rk
             FROM s0)
           WHERE rk <= 4),
         rel0 AS (
           SELECT t.qid, p.term, sum(1.0 / p.dl) AS relsum
           FROM posts p JOIN top t ON t.doc_id = p.doc_id
           WHERE p.dl > 0 AND p.term <> ''
           GROUP BY 1, 2),
         ntop AS (
           SELECT qid, count(DISTINCT doc_id)::DOUBLE AS n_top
           FROM top GROUP BY 1),
         rel AS (
           SELECT r.qid, r.term, round(r.relsum / n.n_top, 8) AS rel
           FROM rel0 r JOIN ntop n USING (qid)),
         sel AS (
           SELECT qid, term, rel FROM (
             SELECT qid, term, rel, row_number() OVER (
               PARTITION BY qid ORDER BY rel DESC, term) AS trk
             FROM rel)
           WHERE trk <= 6),
         reltot AS (SELECT qid, sum(rel) AS rel_tot FROM sel GROUP BY 1),
         expw AS (
           SELECT s.qid, s.term, (1.0 - 0.5) * s.rel / rt.rel_tot AS w
           FROM sel s JOIN reltot rt USING (qid)),
         norig AS (SELECT qid, count(*)::DOUBLE AS n_orig FROM q GROUP BY 1),
         origw AS (
           SELECT q.qid, q.term, 0.5 / n.n_orig AS w
           FROM q JOIN norig n USING (qid)),
         mixed AS (
           SELECT qid, term, sum(w) AS w FROM (
             SELECT * FROM origw UNION ALL SELECT * FROM expw)
           GROUP BY 1, 2),
         tfm AS (
           SELECT p.doc_id, p.term, count(*)::BIGINT AS tf,
                  max(p.dl)::DOUBLE AS dl
           FROM posts p JOIN (SELECT DISTINCT term FROM mixed) u
             ON u.term = p.term
           GROUP BY 1, 2),
         dfm AS (SELECT term, count(*)::DOUBLE AS df FROM tfm GROUP BY 1),
         idfm AS (
           SELECT term,
                  ln(1.0 + ((SELECT n FROM stats) - df + 0.5) / (df + 0.5))
                    AS idf
           FROM dfm),
         cm AS (
           SELECT m.qid, tfm.doc_id,
                  m.w * (idfm.idf * (tfm.tf * (1.2 + 1)) /
                    (tfm.tf + 1.2 * (1.0 - 0.75 +
                      0.75 * tfm.dl / (SELECT avgdl FROM stats)))) AS c
           FROM tfm JOIN idfm ON idfm.term = tfm.term
                    JOIN mixed m ON m.term = tfm.term),
         sm AS (
           SELECT qid, doc_id, count(*)::BIGINT AS n_terms_hit,
                  round(sum(c), 4) AS score
           FROM cm GROUP BY 1, 2),
         fin AS (
           SELECT qid, doc_id, n_terms_hit, score, row_number() OVER (
             PARTITION BY qid ORDER BY score DESC, doc_id) AS rk
           FROM sm QUALIFY rk <= 10)
         SELECT qid::BIGINT AS query_id, rk::INTEGER AS rk, doc_id,
                n_terms_hit, score
         FROM fin ORDER BY query_id, rk""",
      lifecycle = true), // two full BM25 passes + feedback model

    // TF-IDF-weighted hashed embedding (X109): every (doc, bucket)
    // value = Σ sign·tf·ln(N/df) replayed exactly to 6 decimals from
    // the same md5 arithmetic + corpus stats — the q132 pattern with
    // the idf weighting in the oracle-gated path.
    Query("q139_tfidf_embedding", (s, d) => {
      import s.implicits._
      graft.llmops.VectorFuncs.hashedTfidfBuckets(
          t(s, d, "documents").filter($"doc_id" % 9 === 4), dim = 64)
        .select($"doc_id", $"bucket", round($"v", 6).as("v"))
        .orderBy($"doc_id", $"bucket")
    },
      // TF-IDF hashed buckets: md5 bucket/sign + exact corpus stats
      """WITH sub AS (
           SELECT doc_id, text FROM documents WHERE doc_id % 9 = 4),
         w AS (
           SELECT doc_id,
                  unnest(string_split_regex(lower(trim(text)), '\s+')) AS t
           FROM sub),
         w2 AS (SELECT doc_id, t FROM w WHERE length(t) > 0),
         tf AS (
           SELECT doc_id, t, count(*)::BIGINT AS tf FROM w2 GROUP BY 1, 2),
         dfq AS (
           SELECT t, count(DISTINCT doc_id)::BIGINT AS df
           FROM w2 GROUP BY 1),
         n AS (SELECT count(*)::DOUBLE AS n_docs FROM sub),
         h AS (
           SELECT tf.doc_id,
                  CAST(('0x' || substr(md5(tf.t), 1, 8))::BIGINT % 64
                       AS INTEGER) AS bucket,
                  CASE WHEN substr(md5(tf.t), 9, 1) < '8'
                       THEN 1.0 ELSE -1.0 END AS sgn,
                  tf.tf, dfq.df
           FROM tf JOIN dfq USING (t))
         SELECT doc_id, bucket,
                round(sum(sgn * tf * ln((SELECT n_docs FROM n) / df)), 6)
                  AS v
         FROM h GROUP BY 1, 2 ORDER BY 1, 2"""),

    // MMR diversification (X110): the greedy trace over a fixed
    // 8-candidate set — relevance and pairwise cosines rounded to 6
    // decimals before the mix so every pick replays exactly; the
    // oracle unrolls all three selections relationally.
    Query("q140_mmr_rerank", (s, d) => {
      import s.implicits._
      val emb = t(s, d, "embeddings")
      val q = emb.filter($"vec_id" < 2)
        .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
      val cand = emb.filter($"vec_id".between(10, 17))
        .crossJoin(broadcast(q))
        .withColumn("rel",
          graft.llmops.VectorFuncs.cosine($"embedding", $"query_vec"))
        .select($"query_id", $"vec_id", $"rel", $"embedding")
      graft.llmops.Mmr.rerank(cand, k = 3, lambda = 0.7)
        .orderBy($"query_id", $"rk")
    },
      // MMR: the greedy unrolled — pick 1 is pure relevance, picks 2/3
      // subtract the running max pairwise similarity; all inputs
      // 6-dp rounded, constants written as the same IEEE arithmetic
      // Spark evaluates (1.0 - 0.7, never 0.3)
      """WITH qv AS (
           SELECT vec_id AS qid, embedding FROM embeddings
           WHERE vec_id < 2),
         cv AS (
           SELECT vec_id AS vid, embedding FROM embeddings
           WHERE vec_id BETWEEN 10 AND 17),
         cand AS (
           SELECT q.qid, c.vid,
                  round(list_cosine_similarity(c.embedding::DOUBLE[],
                    q.embedding::DOUBLE[]), 6) AS rel
           FROM qv q, cv c),
         sims AS (
           SELECT a.vid AS v1, b.vid AS v2,
                  round(list_cosine_similarity(a.embedding::DOUBLE[],
                    b.embedding::DOUBLE[]), 6) AS s
           FROM cv a, cv b),
         p1 AS (
           SELECT qid, vid, 0.7 * rel AS mmr FROM (
             SELECT qid, vid, rel, row_number() OVER (
               PARTITION BY qid ORDER BY 0.7 * rel DESC, vid) AS r
             FROM cand) WHERE r = 1),
         m1 AS (
           SELECT c.qid, c.vid, c.rel, s.s AS ms
           FROM cand c JOIN p1 ON p1.qid = c.qid
                JOIN sims s ON s.v1 = c.vid AND s.v2 = p1.vid
           WHERE c.vid <> p1.vid),
         p2 AS (
           SELECT qid, vid, mmr FROM (
             SELECT qid, vid, 0.7 * rel - (1.0 - 0.7) * ms AS mmr,
                    row_number() OVER (PARTITION BY qid
                      ORDER BY 0.7 * rel - (1.0 - 0.7) * ms DESC, vid) AS r
             FROM m1) WHERE r = 1),
         m2 AS (
           SELECT m1.qid, m1.vid, m1.rel, greatest(m1.ms, s.s) AS ms
           FROM m1 JOIN p2 ON p2.qid = m1.qid
                JOIN sims s ON s.v1 = m1.vid AND s.v2 = p2.vid
           WHERE m1.vid <> p2.vid),
         p3 AS (
           SELECT qid, vid, mmr FROM (
             SELECT qid, vid, 0.7 * rel - (1.0 - 0.7) * ms AS mmr,
                    row_number() OVER (PARTITION BY qid
                      ORDER BY 0.7 * rel - (1.0 - 0.7) * ms DESC, vid) AS r
             FROM m2) WHERE r = 1)
         SELECT qid::BIGINT AS query_id, rk::INTEGER AS rk,
                vid AS vec_id, round(mmr, 6) AS mmr_score
         FROM (
           SELECT qid, 1 AS rk, vid, mmr FROM p1
           UNION ALL SELECT qid, 2, vid, mmr FROM p2
           UNION ALL SELECT qid, 3, vid, mmr FROM p3)
         ORDER BY query_id, rk"""),

    // N-gram novelty scores (X111): the graded decontamination signal
    // — per-doc fraction of distinct 8-grams absent from a reference
    // slice; reference members score 0 novelty on their own grams.
    // Whole rule replayed relationally (the q76 gram machinery + the
    // left-outer fraction).
    Query("q141_ngram_novelty", (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      graft.llmops.Dedup.ngramNoveltyScores(
          docs.filter($"doc_id" % 5 === 2),
          docs.filter($"doc_id" % 10 === 2), n = 8)
        .select($"doc_id", $"n_grams", round($"novelty", 6).as("novelty"))
        .orderBy($"doc_id")
    },
      // n-gram novelty: the q76 gram machinery (short docs contribute
      // one whole-text gram — greatest(len-8, 0)) + distinct-per-doc +
      // left-join fraction
      """WITH ctoks AS (
           SELECT doc_id,
                  string_split_regex(lower(trim(text)), '\s+') AS toks
           FROM documents WHERE doc_id % 5 = 2),
         cgrams AS (
           SELECT DISTINCT doc_id,
                  array_to_string(list_slice(toks, st + 1, st + 8), ' ') AS g
           FROM (SELECT doc_id, toks,
                        unnest(generate_series(0,
                          greatest(len(toks) - 8, 0), 1)) AS st
                 FROM ctoks)),
         rgrams AS (
           SELECT DISTINCT
                  array_to_string(list_slice(toks, st + 1, st + 8), ' ') AS g
           FROM (SELECT toks,
                        unnest(generate_series(0,
                          greatest(len(toks) - 8, 0), 1)) AS st
                 FROM (SELECT string_split_regex(lower(trim(text)), '\s+')
                         AS toks
                       FROM documents WHERE doc_id % 10 = 2))),
         joined AS (
           SELECT c.doc_id, c.g, r.g AS rg
           FROM cgrams c LEFT JOIN rgrams r ON r.g = c.g)
         SELECT doc_id, count(*) AS n_grams,
                round(CAST(sum(CASE WHEN rg IS NULL THEN 1 ELSE 0 END)
                        AS DOUBLE) / count(*), 6) AS novelty
         FROM joined GROUP BY 1 ORDER BY 1"""),

    // Count-Min point-frequency sketch (X112): the q104/q106
    // estimate-contract pattern — exact token counts replayed
    // relationally, the sketch's never-undercount and bounded-overcount
    // guarantees asserted as booleans the oracle predicts TRUE.
    Query("q142_count_min", (s, d) => {
      import s.implicits._
      val F = graft.llmops.Freq
      val toks = t(s, d, "documents")
        .select(explode(graft.llmops.TextFuncs.tokens($"text")).as("t"))
        .filter($"t" =!= "")
      val sk = toks.agg(F.cmSketch($"t", depth = 4, width = 1024).as("sk"),
        count(lit(1)).as("n"))
      val probes = Seq("vector", "window", "merge", "stream",
        "zzzznothing").toDF("t")
      val exact = toks.groupBy($"t").agg(count(lit(1)).as("exact"))
      probes.join(exact, Seq("t"), "left")
        .na.fill(0L, Seq("exact"))
        .crossJoin(broadcast(sk))
        .withColumn("est", F.cmEstimate($"sk", $"t", 4, 1024))
        .select($"t", $"exact",
          ($"est" >= $"exact").as("never_under"),
          ($"est" <= $"exact" + lit(8) * $"n" / lit(1024))
            .as("bounded_over"))
        .orderBy($"t")
    },
      // Count-Min contract: exact counts replayed, guarantees asserted
      """WITH toks AS (
           SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS t
           FROM documents),
         tok2 AS (SELECT t FROM toks WHERE t <> ''),
         ex AS (SELECT t, count(*) AS exact FROM tok2 GROUP BY 1),
         p AS (
           SELECT unnest(['merge', 'stream', 'vector', 'window',
             'zzzznothing']) AS t)
         SELECT p.t, CAST(COALESCE(ex.exact, 0) AS BIGINT) AS exact,
                TRUE AS never_under, TRUE AS bounded_over
         FROM p LEFT JOIN ex ON ex.t = p.t ORDER BY p.t"""),

    // Persisted-index deletion (X113): build the lexical index over
    // the full corpus, tombstone every doc_id % 5 == 0 (append-only —
    // no partition moves), then serve. The oracle replays serving from
    // the WRITTEN files alone: postings anti-joined against the
    // tombstone parquet, additive stats minus the doclens∩tombstones
    // aggregate — pinning that deletion-by-data equals a fresh index
    // over the surviving corpus.
    Query("q143_bm25_index_delete", (s, d) => {
      import s.implicits._
      val B = graft.llmops.Bm25Index
      val base = s"$scratch/q143_lex"
      val docs = t(s, d, "documents").select($"doc_id", $"text")
      B.write(docs, base, nBuckets = 32)
      B.delete(docs.filter($"doc_id" % 5 === 0).select($"doc_id"), base)
      val queries = Seq(
        (0L, "vector window merge"),
        (1L, "stream window"),
        (2L, "vector stream")).toDF("query_id", "text")
      B.topK(s, base, queries, k = 12)
        .select($"query_id", $"rk", $"doc_id", $"n_terms_hit", $"score")
        .orderBy($"query_id", $"rk")
    },
      // index deletion: serving replayed from the WRITTEN files alone —
      // postings anti-joined against the tombstone parquet, additive
      // stats minus the exact doclens∩tombstones aggregate (every dl is
      // an integral double, so the subtraction is exact)
      s"""WITH tomb AS (
           SELECT DISTINCT id
           FROM read_parquet('$scratch/q143_lex/tombstones/*.parquet')),
         posts AS (
           SELECT id, term, tf, dl
           FROM read_parquet('$scratch/q143_lex/postings/term_bucket=*/*.parquet', hive_partitioning=true)
           WHERE id NOT IN (SELECT id FROM tomb)),
         delstat AS (
           SELECT count(*)::DOUBLE AS dn, coalesce(sum(dl), 0)::DOUBLE AS ds
           FROM (SELECT DISTINCT id, dl
                 FROM read_parquet('$scratch/q143_lex/doclens/*.parquet'))
           WHERE id IN (SELECT id FROM tomb)),
         base AS (
           SELECT sum(n_docs)::DOUBLE AS n0, sum(sum_dl)::DOUBLE AS s0
           FROM read_parquet('$scratch/q143_lex/stats/*.parquet')),
         st AS (
           SELECT (base.n0 - delstat.dn) AS n,
                  (base.s0 - delstat.ds) / (base.n0 - delstat.dn) AS avgdl
           FROM base, delstat),
         q AS (
           SELECT * FROM (VALUES
             (0, 'vector'), (0, 'window'), (0, 'merge'),
             (1, 'stream'), (1, 'window'),
             (2, 'vector'), (2, 'stream')) AS t(qid, term)),
         tf AS (
           SELECT p.id, p.term, p.tf, p.dl
           FROM posts p JOIN (SELECT DISTINCT term FROM q) u
             ON u.term = p.term),
         df AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
         idf AS (
           SELECT term,
                  ln(1.0 + ((SELECT n FROM st) - df + 0.5) / (df + 0.5))
                    AS idf
           FROM df),
         contrib AS (
           SELECT q.qid, tf.id,
                  idf.idf * (tf.tf * (1.2 + 1)) /
                    (tf.tf + 1.2 * (1.0 - 0.75 +
                      0.75 * tf.dl / (SELECT avgdl FROM st))) AS c
           FROM tf JOIN idf ON idf.term = tf.term
                   JOIN q ON q.term = tf.term),
         sc AS (
           SELECT qid, id, count(*)::BIGINT AS n_terms_hit,
                  round(sum(c), 4) AS score
           FROM contrib GROUP BY 1, 2),
         ranked AS (
           SELECT qid, id, n_terms_hit, score, row_number() OVER (
             PARTITION BY qid ORDER BY score DESC, id) AS rk
           FROM sc QUALIFY rk <= 12)
         SELECT qid::BIGINT AS query_id, rk::INTEGER AS rk, id AS doc_id,
                n_terms_hit, score
         FROM ranked ORDER BY query_id, rk""",
      lifecycle = true), // write + delete + compact + re-serve

    // Sharded training export (X114): one epoch written to disk, the
    // first three shards' fragment rows read BACK from the written
    // files and replayed entirely relationally — md5 shuffle key,
    // 16-bit-prefix shard assignment, the per-shard (key, id) order,
    // the exclusive token cumsum, and the exact sequence tiling.
    Query("q144_train_export", (s, d) => {
      import s.implicits._
      val base = s"$scratch/q144_shards"
      graft.llmops.TrainExport.writeShards(
        t(s, d, "documents").select($"doc_id", $"text"), base,
        seqLen = 64, nShards = 32, seed = "ep0")
      s.read.parquet(s"$base/fragments")
        .filter($"shard" < 3)
        .select($"shard".cast("long").as("shard"), $"seq_id", $"doc_id",
          $"doc_offset", $"seq_offset", $"n_toks")
        .orderBy($"shard", $"seq_id", $"doc_id")
    },
      // training export: the whole layout replayed from the documents
      // table — md5 shuffle key, 16-bit shard prefix, per-shard
      // (key, id) cumsum, exact tiling arithmetic
      """WITH toks AS (
           SELECT doc_id,
                  CASE WHEN length(trim(text)) = 0 THEN 0
                       ELSE len(string_split_regex(lower(trim(text)),
                         '\s+'))
                  END AS dl
           FROM documents),
         keyed AS (
           SELECT doc_id, CAST(dl AS BIGINT) AS dl,
                  md5(CAST(doc_id AS VARCHAR) || 'ep0') AS k
           FROM toks WHERE dl >= 1),
         sharded AS (
           SELECT doc_id, dl, k,
                  ('0x' || substr(k, 1, 4))::BIGINT % 32 AS shard
           FROM keyed),
         off AS (
           SELECT shard, doc_id, dl,
                  CAST(coalesce(sum(dl) OVER (PARTITION BY shard
                    ORDER BY k, doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS BIGINT) AS st
           FROM sharded),
         frag AS (
           SELECT shard, doc_id, dl, st,
                  unnest(generate_series(st // 64, (st + dl - 1) // 64))
                    AS seq_id
           FROM off)
         SELECT shard, seq_id, doc_id,
                greatest(seq_id * 64 - st, 0) AS doc_offset,
                greatest(st - seq_id * 64, 0) AS seq_offset,
                least(st + dl, (seq_id + 1) * 64) -
                  greatest(st, seq_id * 64) AS n_toks
         FROM frag WHERE shard < 3 ORDER BY shard, seq_id, doc_id"""),

    // Quality-aware cluster representatives (X115): near-dup clusters
    // keep their BEST member (argmax quality, min-id tiebreak) instead
    // of the arbitrary min id. The oracle recomputes components with a
    // recursive CTE over the materialized edges, scores every doc with
    // the q21 quality arithmetic, and replays the argmax; the per-
    // source id sum pins the exact survivor set.
    Query("q145_best_rep_dedup", (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val edges = graft.llmops.Dedup.minhashPairs(docs, threshold = 0.7)
        .select($"id_a", $"id_b")
      materialize(edges, "q145_edges")
      graft.ops.ConnectedComponents.dedupByComponentBest(docs, edges,
          graft.llmops.TextFuncs.qualityScore($"text"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum($"doc_id").cast("long").as("id_sum"))
        .orderBy($"source")
    },
      // best-representative dedup: recursive-CTE components over the
      // materialized edges + the q21 per-doc quality arithmetic + the
      // argmax replayed as a rank window; id sums pin the survivor set
      raw"""WITH RECURSIVE sym AS (
           SELECT id_a AS u, id_b AS v
           FROM read_parquet('$scratch/q145_edges/*.parquet')
           UNION
           SELECT id_b, id_a
           FROM read_parquet('$scratch/q145_edges/*.parquet')),
         nodes AS (SELECT DISTINCT u AS id FROM sym),
         walk(id, comp) AS (
           SELECT id, id FROM nodes
           UNION
           SELECT sym.v, walk.comp FROM walk JOIN sym ON sym.u = walk.id),
         labels AS (SELECT id, min(comp) AS component FROM walk GROUP BY id),
         q AS (
           SELECT doc_id, source,
             string_split_regex(lower(trim(text)), '\s+') AS toks,
             length(text) AS n,
             length(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g')) AS np
           FROM documents),
         r AS (
           SELECT doc_id, source,
             (CASE WHEN n BETWEEN 50 AND 20000 THEN 0.25 ELSE 0.0 END) +
             (CASE WHEN (CASE WHEN len(toks) = 0 THEN 0.0
                  ELSE len(list_filter(toks, t -> t IN
                    ('the','and','of','to','a','in','is','that')))::double
                    / len(toks) END) >= 0.01
                  THEN 0.25 ELSE 0.0 END) +
             (CASE WHEN (CASE WHEN len(toks) = 0 THEN 0.0
                  ELSE list_sum(list_transform(toks, w -> length(w)))::double
                    / len(toks) END)
                  BETWEEN 2.0 AND 12.0 THEN 0.25 ELSE 0.0 END) +
             (CASE WHEN (CASE WHEN n = 0 THEN 0.0
                  ELSE np::double / n END) <= 0.1
                  THEN 0.25 ELSE 0.0 END) AS s
           FROM q),
         lab AS (
           SELECT r.doc_id, r.source, r.s,
                  coalesce(l.component, r.doc_id) AS component
           FROM r LEFT JOIN labels l ON l.id = r.doc_id),
         keep AS (
           SELECT doc_id, source FROM (
             SELECT doc_id, source, row_number() OVER (
               PARTITION BY component ORDER BY s DESC, doc_id) AS rk
             FROM lab) WHERE rk = 1)
         SELECT source, count(*) AS n_docs,
                CAST(sum(doc_id) AS BIGINT) AS id_sum
         FROM keep GROUP BY 1 ORDER BY 1"""),

    // Line-level language segmentation (X116): planted code-mixed docs
    // (the doc's text, two Spanish stopword lines, one German, the
    // text again) split into ordered monolingual runs — per-line
    // langId, the gaps-and-islands grouping, and segment reassembly
    // all replayed relationally; md5 pins every reassembled segment.
    Query("q146_line_lang_segments", (s, d) => {
      import s.implicits._
      val mixed = t(s, d, "documents").filter($"doc_id" % 7 === 3)
        .select($"doc_id", concat(
          $"text", lit("\nel que la de y los en un" +
            "\nla de el que y un en los" +
            "\nder und die das von ist mit den\n"),
          $"text").as("mtext"))
      graft.llmops.TextFuncs.lineLangSegments(mixed, textCol = "mtext")
        .select($"doc_id", $"seg_idx", $"lang", $"n_lines",
          md5($"seg_text").as("seg_md5"),
          length($"seg_text").as("n_chars"))
        .orderBy($"doc_id", $"seg_idx")
    },
      // line-language segmentation: per-line langId (the q22 chain), the
      // rank-difference run grouping, and ordered reassembly
      """WITH m AS (
           SELECT doc_id, text || chr(10) ||
             'el que la de y los en un' || chr(10) ||
             'la de el que y un en los' || chr(10) ||
             'der und die das von ist mit den' || chr(10) || text
               AS mtext
           FROM documents WHERE doc_id % 7 = 3),
         lines AS (
           SELECT doc_id,
                  generate_subscripts(string_split(mtext, chr(10)), 1) - 1
                    AS pos,
                  unnest(string_split(mtext, chr(10))) AS line
           FROM m),
         lt AS (
           SELECT doc_id, pos, line,
                  string_split_regex(lower(trim(line)), '\s+') AS toks
           FROM lines),
         h AS (
           SELECT doc_id, pos, line,
             len(list_filter(toks, t -> t IN ('der','die','und','das','ist','von','mit','den'))) AS h_de,
             len(list_filter(toks, t -> t IN ('the','and','of','to','a','in','is','that'))) AS h_en,
             len(list_filter(toks, t -> t IN ('el','la','de','que','y','los','en','un'))) AS h_es,
             len(list_filter(toks, t -> t IN ('le','la','les','des','est','une','dans','et'))) AS h_fr,
             len(list_filter(toks, t -> t IN ('า','น','ร','เ','อ','ก','ง','ม'))) AS h_th,
             len(list_filter(toks, t -> t IN ('的','是','在','了','和','有','我','不'))) AS h_zh
           FROM lt),
         langed AS (
           SELECT doc_id, pos, line, CASE
               WHEN h_de + h_en + h_es + h_fr + h_th + h_zh = 0 THEN 'und'
               WHEN h_de >= h_en AND h_de >= h_es AND h_de >= h_fr AND h_de >= h_th AND h_de >= h_zh THEN 'de'
               WHEN h_en >= h_es AND h_en >= h_fr AND h_en >= h_th AND h_en >= h_zh THEN 'en'
               WHEN h_es >= h_fr AND h_es >= h_th AND h_es >= h_zh THEN 'es'
               WHEN h_fr >= h_th AND h_fr >= h_zh THEN 'fr'
               WHEN h_th >= h_zh THEN 'th'
               ELSE 'zh' END AS lang
           FROM h),
         grp AS (
           SELECT doc_id, pos, line, lang,
                  pos - row_number() OVER (PARTITION BY doc_id, lang
                    ORDER BY pos) AS g
           FROM langed),
         segs AS (
           SELECT doc_id, lang, g, min(pos) AS st,
                  count(*) AS n_lines,
                  string_agg(line, chr(10) ORDER BY pos) AS seg_text
           FROM grp GROUP BY 1, 2, 3)
         SELECT doc_id, row_number() OVER (PARTITION BY doc_id
                  ORDER BY st)::INTEGER AS seg_idx,
                lang, n_lines, md5(seg_text) AS seg_md5,
                length(seg_text) AS n_chars
         FROM segs ORDER BY doc_id, seg_idx"""),

    // Contrastive hard-negative mining (X117): queries = every 50th
    // embedding inside the "annotated" prefix (vec_id < 2500 — BOTH
    // sides stay bounded at every scale factor, honoring Mining's
    // bounded-broadcast contract: a real training set has a fixed
    // annotation budget, not one that grows with the corpus),
    // positives = the query's annotated label-mates (incl. itself),
    // hard negatives = top-5 highest-cosine non-positives (other
    // labels AND unannotated label-mates — the sparse-annotation
    // reality), triplets = negatives round-robin over the positives.
    // The whole dataflow replays relationally.
    Query("q147_hard_negatives", (s, d) => {
      import s.implicits._
      val emb = t(s, d, "embeddings")
      val q = emb.filter($"vec_id" % 50 === 0 && $"vec_id" < 2500)
        .select($"vec_id".as("query_id"), $"embedding", $"label")
      val positives = q.select($"query_id", $"label".as("__ql"))
        .join(emb.select($"vec_id", $"label").filter($"vec_id" < 2500),
          $"label" === $"__ql")
        .select($"query_id", $"vec_id")
      val negs = graft.llmops.Mining.hardNegatives(
        emb, q.select($"query_id", $"embedding"), positives, k = 5)
      graft.llmops.Mining.contrastiveTriplets(positives, negs)
        .orderBy($"query_id", $"neg_rk")
    },
      // hard-negative mining: cosine scoring, positive exclusion, top-k,
      // and the round-robin triplet pairing all replayed relationally
      """WITH q AS (
           SELECT vec_id AS query_id, embedding AS qv, label AS ql
           FROM embeddings WHERE vec_id % 50 = 0 AND vec_id < 2500),
         sc AS (
           SELECT q.query_id,
                  e.vec_id,
                  list_cosine_similarity(e.embedding::DOUBLE[],
                                         q.qv::DOUBLE[]) AS sim,
                  e.label, q.ql
           FROM embeddings e CROSS JOIN q),
         neg AS (
           SELECT query_id, vec_id, sim,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY sim DESC, vec_id) AS rk
           FROM sc WHERE NOT (label = ql AND vec_id < 2500)),
         pos AS (
           SELECT query_id, vec_id AS pos_id,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY vec_id) - 1 AS pidx,
                  count(*) OVER (PARTITION BY query_id) AS np
           FROM sc WHERE label = ql AND vec_id < 2500)
         SELECT n.query_id, p.pos_id, n.vec_id AS neg_id,
                n.rk::INTEGER AS neg_rk, n.sim AS neg_sim
         FROM neg n JOIN pos p
           ON n.query_id = p.query_id AND (n.rk - 1) % p.np = p.pidx
         WHERE n.rk <= 5
         ORDER BY n.query_id, n.rk"""),

    // Batch sessionization (X118): gaps-and-islands session windows
    // over the events table — a 12 h inactivity gap closes a session.
    // The boundary flag, the running session counter, and the roll-up
    // all replay relationally.
    Query("q148_sessionize", (s, d) => {
      import s.implicits._
      graft.ops.Sessionize.sessions(t(s, d, "events"),
          gapMillis = 43200000L)
        .orderBy($"user_id", $"session_idx")
    },
      // batch sessionization: the gaps-and-islands boundary flag, running
      // session counter, and per-session roll-up replayed relationally
      """WITH e AS (
           SELECT user_id, event_id, epoch_ms(ts) AS ms, value
           FROM events),
         l AS (
           SELECT user_id, event_id, ms, value,
                  CASE WHEN lag(ms) OVER w IS NULL
                         OR ms - lag(ms) OVER w > 43200000
                       THEN 1 ELSE 0 END AS nw
           FROM e
           WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)),
         s AS (
           SELECT user_id, ms, value,
                  CAST(sum(nw) OVER (PARTITION BY user_id
                    ORDER BY ms, event_id ROWS UNBOUNDED PRECEDING)
                    AS INTEGER) AS session_idx
           FROM l)
         SELECT user_id, session_idx, min(ms) AS start_ms,
                max(ms) AS end_ms, CAST(count(*) AS INTEGER) AS n_events,
                sum(value) AS total_value
         FROM s GROUP BY 1, 2 ORDER BY user_id, session_idx"""),

    // Vocabulary coverage / OOV report (X119): vocab = the corpus's
    // top-200 words (count desc, word asc — a deterministic total
    // order), coverage measured per source. The vocab build, the
    // per-(source, word) pre-aggregation, and the OOV roll-up all
    // replay relationally.
    Query("q149_vocab_coverage", (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val words = docs.select(
          explode(graft.llmops.TextFuncs.tokens($"text")).as("token"))
        .filter($"token" =!= "")
      val vocab = words.groupBy($"token").agg(count(lit(1)).as("c"))
        .orderBy($"c".desc, $"token").limit(200).select($"token")
      graft.llmops.Vocab.coverageStats(docs, vocab, $"text", "source")
        .orderBy($"source")
    },
      // vocabulary coverage: top-200 vocab build, per-(source, word)
      // pre-aggregation, and the OOV roll-up replayed relationally
      """WITH w AS (
           SELECT source,
                  unnest(string_split_regex(lower(trim(text)), '\s+'))
                    AS token
           FROM documents),
         wf AS (SELECT source, token FROM w WHERE token <> ''),
         vocab AS (
           SELECT token FROM (
             SELECT token, count(*) AS c FROM wf GROUP BY 1
             ORDER BY c DESC, token LIMIT 200)),
         c AS (SELECT source, token, count(*) AS cnt
               FROM wf GROUP BY 1, 2),
         j AS (SELECT c.source, c.cnt,
                      CASE WHEN v.token IS NULL THEN 1 ELSE 0 END AS oov
               FROM c LEFT JOIN vocab v USING (token))
         SELECT source,
                CAST(sum(cnt) AS BIGINT) AS n_tokens,
                count(*) AS n_types,
                CAST(sum(cnt * oov) AS BIGINT) AS oov_tokens,
                CAST(sum(oov) AS BIGINT) AS oov_types,
                CAST(sum(cnt * oov) AS DOUBLE) / sum(cnt)
                  AS oov_token_rate,
                CAST(sum(oov) AS DOUBLE) / count(*) AS oov_type_rate
         FROM j GROUP BY 1 ORDER BY source"""),

    // Training-shard takedown blast radius (X120): every training
    // sequence of a written export that contains a doomed doc, with
    // exact doomed/total token masses. The export layout AND the
    // lineage aggregation replay relationally from the documents table
    // alone (the q144 arithmetic extended with the doomed roll-up).
    Query("q150_takedown_blast_radius", (s, d) => {
      import s.implicits._
      val base = s"$scratch/q150_export"
      val docs = t(s, d, "documents").select($"doc_id", $"text")
      graft.llmops.TrainExport.writeShards(docs, base,
        seqLen = 64, nShards = 32, seed = "ep0")
      graft.llmops.TrainExport.affectedSequences(s, base,
          docs.select($"doc_id").filter($"doc_id" % 13 === 5))
        .orderBy($"shard", $"seq_id")
    },
      // takedown blast radius: the q144 export-layout arithmetic
      // extended with the doomed-doc lineage roll-up
      """WITH toks AS (
           SELECT doc_id,
                  CASE WHEN length(trim(text)) = 0 THEN 0
                       ELSE len(string_split_regex(lower(trim(text)),
                         '\s+'))
                  END AS dl
           FROM documents),
         keyed AS (
           SELECT doc_id, CAST(dl AS BIGINT) AS dl,
                  md5(CAST(doc_id AS VARCHAR) || 'ep0') AS k
           FROM toks WHERE dl >= 1),
         sharded AS (
           SELECT doc_id, dl, k,
                  ('0x' || substr(k, 1, 4))::BIGINT % 32 AS shard
           FROM keyed),
         off AS (
           SELECT shard, doc_id, dl,
                  CAST(coalesce(sum(dl) OVER (PARTITION BY shard
                    ORDER BY k, doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS BIGINT) AS st
           FROM sharded),
         frag AS (
           SELECT shard, doc_id, st, dl,
                  unnest(generate_series(st // 64, (st + dl - 1) // 64))
                    AS seq_id
           FROM off),
         fr AS (
           SELECT shard, seq_id,
                  least(st + dl, (seq_id + 1) * 64) -
                    greatest(st, seq_id * 64) AS n_toks,
                  CASE WHEN doc_id % 13 = 5 THEN 1 ELSE 0 END AS dm
           FROM frag)
         SELECT shard, seq_id,
                CAST(sum(dm) AS BIGINT) AS doomed_docs,
                CAST(sum(dm * n_toks) AS BIGINT) AS doomed_toks,
                CAST(sum(n_toks) AS BIGINT) AS seq_toks,
                CAST(sum(dm * n_toks) AS DOUBLE) / sum(n_toks)
                  AS doomed_frac
         FROM fr GROUP BY 1, 2 HAVING sum(dm) > 0
         ORDER BY shard, seq_id""")
  )
}
