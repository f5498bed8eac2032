package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkEntry.{materialize, materializing, scratch, t}

/** Queries q151–q200, in number order: each body with its DuckDB
  * oracle and lifecycle flag (see [[Query]]). */
object Q151to200 {

  val all: Seq[Query] = Seq(
    // Edit-distance near-dup verify (X121): LSH-proposed candidates
    // confirmed by normalized Levenshtein similarity. Verify dumps
    // the candidate set (the sketch stage has no SQL analog — q60
    // precedent); DuckDB replays the banded edit verify over the
    // documents table with its own levenshtein.
    Query("q151_edit_similarity", (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val D = graft.llmops.Dedup
      // ONE LSH round, pinned: the dumped candidate set and the set
      // the verify runs over are the same frame by construction
      val cands = D.minhashPairs(docs, threshold = 0.375)
        .select($"id_a", $"id_b").localCheckpoint(false)
      if (materializing) materialize(cands, "q151_cands")
      D.editSimilarityPairs(docs, threshold = 0.5, candidates = cands)
        .orderBy($"id_a", $"id_b")
    },
      // edit-distance near-dup verify: the normalized-Levenshtein stage
      // replayed over the dumped candidates with DuckDB's levenshtein
      s"""WITH cand AS (
           SELECT id_a, id_b
           FROM read_parquet('$scratch/q151_cands/*.parquet')),
         h AS (
           SELECT doc_id, substring(text, 1, 2000) AS head
           FROM documents),
         sim AS (
           SELECT c.id_a, c.id_b,
                  1.0 - levenshtein(ha.head, hb.head)::DOUBLE /
                    greatest(length(ha.head), length(hb.head), 1)
                    AS edit_sim
           FROM cand c
           JOIN h ha ON ha.doc_id = c.id_a
           JOIN h hb ON hb.doc_id = c.id_b)
         SELECT id_a, id_b, edit_sim
         FROM sim WHERE edit_sim >= (1.0 - 0.5)
         ORDER BY id_a, id_b"""),

    // Retention cohorts (X122): users cohorted by first-activity week,
    // the full retention triangle with distinct-user counts and rates.
    Query("q152_retention_cohorts", (s, d) => {
      import s.implicits._
      graft.ops.Cohorts.retention(t(s, d, "events"),
          periodMillis = 604800000L)
        .orderBy($"cohort_period", $"period_offset")
    },
      // retention cohorts: first-period cohorting, distinct activity,
      // and the triangle roll-up replayed relationally
      """WITH active AS (
           SELECT DISTINCT user_id, epoch_ms(ts) // 604800000 AS period
           FROM events),
         cohorts AS (
           SELECT user_id, min(period) AS cohort_period
           FROM active GROUP BY 1),
         counts AS (
           SELECT c.cohort_period,
                  a.period - c.cohort_period AS period_offset,
                  count(*) AS n_users
           FROM active a JOIN cohorts c USING (user_id)
           GROUP BY 1, 2),
         sizes AS (
           SELECT cohort_period, n_users AS cohort_size
           FROM counts WHERE period_offset = 0)
         SELECT cohort_period, period_offset, n_users, cohort_size,
                CAST(n_users AS DOUBLE) / cohort_size AS retention_rate
         FROM counts JOIN sizes USING (cohort_period)
         ORDER BY cohort_period, period_offset"""),

    // Funnel conversion (X123): per-user view → click → purchase
    // funnel — each step the earliest event strictly after the prior
    // step. The chain of conditional min-aggregations replays
    // relationally.
    Query("q153_funnel", (s, d) => {
      import s.implicits._
      graft.ops.Funnels.conversions(t(s, d, "events"),
          Seq("view", "click", "purchase"))
        .orderBy($"user_id")
    },
      // funnel conversion: the chain of strictly-after conditional
      // min-aggregations replayed relationally
      """WITH e AS (
           SELECT user_id, epoch_ms(ts) AS ms, event_type FROM events),
         s1 AS (
           SELECT user_id, min(ms) AS ts_1
           FROM e WHERE event_type = 'view' GROUP BY 1),
         s2 AS (
           SELECT s1.user_id, s1.ts_1,
                  min(CASE WHEN e.ms > s1.ts_1 THEN e.ms END) AS ts_2
           FROM s1 LEFT JOIN e
             ON e.user_id = s1.user_id AND e.event_type = 'click'
           GROUP BY 1, 2),
         s3 AS (
           SELECT s2.user_id, s2.ts_1, s2.ts_2,
                  min(CASE WHEN e.ms > s2.ts_2 THEN e.ms END) AS ts_3
           FROM s2 LEFT JOIN e
             ON e.user_id = s2.user_id AND e.event_type = 'purchase'
           GROUP BY 1, 2, 3)
         SELECT user_id, ts_1, ts_2, ts_3 FROM s3 ORDER BY user_id"""),

    // SCD-2 interval compaction (X124): each user's event_type change
    // log collapsed into maximal-run validity intervals. The change
    // flag, run counter, roll-up, and lead-based valid_to all replay
    // relationally.
    Query("q154_scd2_intervals", (s, d) => {
      import s.implicits._
      graft.ops.Scd.intervals(t(s, d, "events"), "user_id", "ts",
          Seq("event_type"))
        .orderBy($"user_id", $"valid_from")
    },
      // SCD-2 compaction: change flag, run counter, roll-up, and the
      // lead-based valid_to replayed relationally
      """WITH e AS (
           SELECT user_id, epoch_us(ts) AS us, event_type FROM events),
         f AS (
           SELECT user_id, us, event_type,
                  CASE WHEN lag(event_type) OVER w IS DISTINCT FROM
                            event_type
                       THEN 1 ELSE 0 END AS nw
           FROM e WINDOW w AS (PARTITION BY user_id
             ORDER BY us, event_type)),
         r AS (
           SELECT user_id, us, event_type,
                  sum(nw) OVER (PARTITION BY user_id
                    ORDER BY us, event_type
                    ROWS UNBOUNDED PRECEDING) AS run
           FROM f),
         runs AS (
           SELECT user_id, event_type, min(us) AS valid_from
           FROM r GROUP BY user_id, event_type, run)
         SELECT user_id, event_type, valid_from,
                lead(valid_from) OVER (PARTITION BY user_id
                  ORDER BY valid_from, event_type) AS valid_to
         FROM runs ORDER BY user_id, valid_from"""),

    // Weighted sampling without replacement (X125): the Efraimidis-
    // Spirakis exponential race, weights = n_chars, k = 100. The
    // md5-derived uniforms, race keys, and the winning set all replay
    // relationally (the checker's 4-dp float canon absorbs the
    // engines' last-ulp ln() differences; the selected set is pinned
    // exactly by doc_id).
    Query("q155_weighted_sample", (s, d) => {
      import s.implicits._
      graft.llmops.Splits.weightedSample(
          t(s, d, "documents").select($"doc_id", $"source", $"n_chars"),
          $"n_chars", k = 100, seed = "ws0")
        .orderBy($"race_key", $"doc_id")
    },
      // weighted sampling without replacement: md5 uniforms, exponential
      // race keys, and the k-smallest selection replayed relationally
      """WITH u AS (
           SELECT doc_id, source, n_chars,
                  (('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'ws0'),
                     1, 12))::BIGINT + 0.5) / 281474976710656.0 AS uu
           FROM documents WHERE n_chars > 0),
         k AS (
           SELECT doc_id, source, n_chars,
                  -ln(uu) / n_chars AS race_key
           FROM u)
         SELECT doc_id, source, n_chars, race_key
         FROM k ORDER BY race_key, doc_id LIMIT 100"""),

    // Order-free content digest (X126): per-bucket (count, xor48,
    // sum32) fingerprints of the documents table — the corpus-version
    // equality check. Every slice of the arithmetic replays
    // relationally.
    Query("q156_content_digest", (s, d) => {
      import s.implicits._
      graft.ops.Profiling.contentDigest(t(s, d, "documents"),
          Seq("doc_id", "text", "source"))
        .orderBy($"bucket")
    },
      // content digest: row hash, bucketing, and all three order-free
      // fingerprints replayed relationally
      """WITH h AS (
           SELECT md5(concat_ws(chr(1), CAST(doc_id AS VARCHAR), text,
                                source)) AS hh
           FROM documents),
         p AS (
           SELECT ('0x' || substr(hh, 1, 8))::BIGINT % 256 AS bucket,
                  ('0x' || substr(hh, 9, 12))::BIGINT AS h48,
                  ('0x' || substr(hh, 21, 8))::BIGINT AS h32
           FROM h)
         SELECT bucket, count(*) AS n_rows, bit_xor(h48) AS xor48,
                CAST(sum(h32) AS BIGINT) AS sum32
         FROM p GROUP BY 1 ORDER BY bucket"""),

    // Document-level retrieval roll-up (X127): brute-force chunk hits
    // (the q23 shape, vectors grouped ten-to-a-doc) rolled up to
    // max-sim documents with chunk-evidence counts. Scoring, the
    // chunk top-20, the per-doc max, and the doc rank all replay
    // relationally.
    Query("q157_doc_rollup", (s, d) => {
      import s.implicits._
      val emb = t(s, d, "embeddings")
      val q = emb.filter($"vec_id" < 5)
        .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
      val scored = emb.join(broadcast(q))
        .withColumn("sim",
          graft.llmops.VectorFuncs.cosine($"embedding", $"query_vec"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"query_id").orderBy($"sim".desc, $"vec_id")
      val hits = scored.withColumn("crk", row_number().over(w))
        .filter($"crk" <= 20)
        .select($"query_id", expr("vec_id div 10").as("doc_id"), $"sim")
      graft.llmops.Retrieval.rollupDocs(hits, k = 3)
        .orderBy($"query_id", $"rk")
    },
      // document roll-up: chunk scoring, top-20, per-doc max-sim, and
      // the doc rank replayed relationally
      """WITH q AS (
           SELECT vec_id AS query_id, embedding AS qv
           FROM embeddings WHERE vec_id < 5),
         sc AS (
           SELECT q.query_id, e.vec_id,
                  list_cosine_similarity(e.embedding::DOUBLE[],
                                         q.qv::DOUBLE[]) AS sim
           FROM embeddings e CROSS JOIN q),
         hits AS (
           SELECT query_id, vec_id, vec_id // 10 AS doc_id, sim,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY sim DESC, vec_id) AS crk
           FROM sc),
         pd AS (
           SELECT query_id, doc_id, max(sim) AS doc_sim,
                  count(*) AS n_chunks
           FROM hits WHERE crk <= 20 GROUP BY 1, 2),
         rk AS (
           SELECT query_id,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY doc_sim DESC, doc_id)::INTEGER AS rk,
                  doc_id, doc_sim, n_chunks
           FROM pd)
         SELECT query_id, rk, doc_id, doc_sim, n_chunks
         FROM rk WHERE rk <= 3 ORDER BY query_id, rk"""),

    // Retrieval eval metrics (X128): recall@10 / MRR@10 / nDCG@10 of
    // the brute-force ranking against label-match relevance judgments.
    // Ranking, judgments, and all three metrics replay relationally.
    Query("q158_retrieval_eval", (s, d) => {
      import s.implicits._
      val emb = t(s, d, "embeddings")
      val q = emb.filter($"vec_id" < 5)
        .select($"vec_id".as("query_id"), $"embedding".as("query_vec"),
          $"label".as("__ql"))
      val scored = emb.join(broadcast(q))
        .filter($"vec_id" =!= $"query_id")
        .withColumn("sim",
          graft.llmops.VectorFuncs.cosine($"embedding", $"query_vec"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"query_id").orderBy($"sim".desc, $"vec_id")
      val hits = scored.withColumn("rk", row_number().over(w))
        .filter($"rk" <= 20)
        .select($"query_id", $"rk", $"vec_id".as("doc_id"))
      val qrels = q.select($"query_id", $"__ql")
        .join(emb.select($"vec_id".as("doc_id"), $"label"),
          $"label" === $"__ql")
        .filter($"doc_id" =!= $"query_id")
        .select($"query_id", $"doc_id")
      graft.llmops.Retrieval.evalMetrics(hits, qrels, k = 10)
        .orderBy($"query_id")
    },
      // retrieval eval: ranking, judgments, recall/MRR/nDCG replayed
      """WITH q AS (
           SELECT vec_id AS query_id, embedding AS qv, label AS ql
           FROM embeddings WHERE vec_id < 5),
         sc AS (
           SELECT q.query_id, e.vec_id,
                  list_cosine_similarity(e.embedding::DOUBLE[],
                                         q.qv::DOUBLE[]) AS sim,
                  e.label, q.ql
           FROM embeddings e CROSS JOIN q
           WHERE e.vec_id <> q.query_id),
         hits AS (
           SELECT query_id, vec_id AS doc_id,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY sim DESC, vec_id) AS rk
           FROM sc),
         rel AS (
           SELECT query_id, vec_id AS doc_id FROM sc WHERE label = ql),
         nr AS (SELECT query_id, count(*) AS n_rel FROM rel GROUP BY 1),
         hr AS (
           SELECT h.query_id, count(*) AS n_hit, min(h.rk) AS minrk,
                  sum(1.0 / (ln(h.rk + 1.0) / ln(2.0))) AS dcg
           FROM hits h
           JOIN rel r ON r.query_id = h.query_id AND r.doc_id = h.doc_id
           WHERE h.rk <= 10 AND h.rk <= 20
           GROUP BY 1),
         ig AS (
           SELECT query_id,
                  sum(1.0 / (ln(i + 1.0) / ln(2.0))) AS idcg
           FROM (SELECT query_id,
                        unnest(generate_series(1, least(n_rel, 10)))
                          AS i
                 FROM nr) t
           GROUP BY 1)
         SELECT nr.query_id, nr.n_rel,
                coalesce(hr.n_hit, 0) AS n_hit,
                CAST(coalesce(hr.n_hit, 0) AS DOUBLE) / nr.n_rel
                  AS recall_at_k,
                coalesce(1.0 / hr.minrk, 0.0) AS mrr_at_k,
                coalesce(hr.dcg, 0.0) / ig.idcg AS ndcg_at_k
         FROM nr JOIN ig USING (query_id)
         LEFT JOIN hr USING (query_id)
         ORDER BY query_id"""),

    // Precision-recall threshold sweep (X129): planted labels
    // (doc_id % 3) under an md5-noised score — binning, the
    // cumulative-from-top sweep, and precision/recall/F1 all replay
    // relationally.
    Query("q159_pr_curve", (s, d) => {
      import s.implicits._
      val u = (conv(substring(md5(concat($"doc_id".cast("string"),
          lit("pr"))), 1, 12), 16, 10).cast("long").cast("double") +
          0.5) / 281474976710656.0
      val scored = t(s, d, "documents")
        .select($"doc_id",
          when($"doc_id" % 3 === 0, 1).otherwise(0).as("label"))
        .withColumn("prob", lit(0.35) * $"label" + lit(0.65) * u)
      graft.llmops.QualityModel.prCurve(scored, nBins = 20)
        .orderBy($"threshold".desc)
    },
      // PR threshold sweep: binning, cumulative-from-top, and the
      // precision/recall/F1 arithmetic replayed relationally
      """WITH sc AS (
           SELECT doc_id,
                  CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS label,
                  CAST(0.35 AS DOUBLE) *
                    (CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END) +
                  CAST(0.65 AS DOUBLE) *
                    ((('0x' || substr(md5(CAST(doc_id AS VARCHAR) ||
                       'pr'), 1, 12))::BIGINT + 0.5) /
                     281474976710656.0) AS prob
           FROM documents),
         b AS (
           SELECT least(CAST(floor(prob * 20) AS INTEGER), 19) AS bin,
                  label
           FROM sc),
         g AS (
           SELECT bin, count(*) AS n,
                  CAST(sum(label) AS BIGINT) AS npos
           FROM b GROUP BY 1),
         c AS (
           SELECT bin,
                  CAST(sum(n) OVER (ORDER BY bin DESC
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pred_pos,
                  CAST(sum(npos) OVER (ORDER BY bin DESC
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tp
           FROM g),
         tot AS (SELECT CAST(sum(npos) AS BIGINT) AS p FROM g),
         m AS (
           SELECT CAST(bin AS DOUBLE) / 20 AS threshold, pred_pos, tp,
                  CAST(tp AS DOUBLE) / pred_pos AS precision,
                  CAST(tp AS DOUBLE) / tot.p AS recall
           FROM c, tot)
         SELECT threshold, pred_pos, tp, precision, recall,
                CASE WHEN precision + recall > 0
                     THEN 2.0 * precision * recall /
                          (precision + recall)
                     ELSE 0.0 END AS f1
         FROM m ORDER BY threshold DESC"""),

    // c-TF-IDF cluster labeling (X130): each source labeled by its 5
    // most distinguishing terms — tf weighted by ln(nClusters / the
    // term's cluster-df). Tokenize, both aggregates, the weighting,
    // and the per-cluster rank all replay relationally.
    Query("q160_cluster_terms", (s, d) => {
      import s.implicits._
      graft.llmops.TextFuncs.clusterTerms(t(s, d, "documents"),
          "source", k = 5)
        .orderBy($"cluster", $"rk")
    },
      // c-TF-IDF cluster labels: tokenize, tf, cluster-df, the
      // ln(nClusters/cdf) weighting, and the per-cluster rank replayed
      """WITH terms AS (
           SELECT source AS cluster,
                  unnest(string_split_regex(lower(trim(text)), '\s+'))
                    AS term
           FROM documents),
         tf AS (
           SELECT cluster, term, count(*) AS tf
           FROM terms WHERE term <> '' GROUP BY 1, 2),
         cdf AS (SELECT term, count(*) AS cdf FROM tf GROUP BY 1),
         nc AS (SELECT count(DISTINCT cluster) AS nc FROM tf),
         sc AS (
           SELECT t.cluster, t.term, t.tf,
                  t.tf * ln(CAST(nc.nc AS DOUBLE) / c.cdf) AS score
           FROM tf t JOIN cdf c USING (term) CROSS JOIN nc),
         rk AS (
           SELECT cluster,
                  row_number() OVER (PARTITION BY cluster
                    ORDER BY score DESC, term)::INTEGER AS rk,
                  term, tf, score
           FROM sc)
         SELECT cluster, rk, term, tf, score
         FROM rk WHERE rk <= 5 ORDER BY cluster, rk"""),

    // Incremental digest merge (X131): Spark digests the even/odd
    // halves SEPARATELY and merges; the oracle digests the whole
    // table directly — equality IS the incremental-append contract,
    // verified cross-engine.
    Query("q161_digest_merge", (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val P = graft.ops.Profiling
      val cols = Seq("doc_id", "text", "source")
      P.mergeDigests(
          P.contentDigest(docs.filter($"doc_id" % 2 === 0), cols),
          P.contentDigest(docs.filter($"doc_id" % 2 =!= 0), cols))
        .orderBy($"bucket")
    },
      // digest merge: the oracle digests the WHOLE table in one pass —
      // matching the Spark-side merge of two half-digests proves the
      // incremental-append property
      """WITH h AS (
           SELECT md5(concat_ws(chr(1), CAST(doc_id AS VARCHAR), text,
                                source)) AS hh
           FROM documents),
         p AS (
           SELECT ('0x' || substr(hh, 1, 8))::BIGINT % 256 AS bucket,
                  ('0x' || substr(hh, 9, 12))::BIGINT AS h48,
                  ('0x' || substr(hh, 21, 8))::BIGINT AS h32
           FROM h)
         SELECT bucket, count(*) AS n_rows, bit_xor(h48) AS xor48,
                CAST(sum(h32) AS BIGINT) AS sum32
         FROM p GROUP BY 1 ORDER BY bucket"""),

    // SCD-2 point-in-time lookup (X133): each event, shifted one hour
    // forward, looks up the user's state interval covering that
    // instant — the interval build AND the covering-interval join
    // both replay relationally (the oracle joins on BETWEEN, the
    // engine rides the one-shuffle as-of composition; equality of the
    // two IS the tiling argument).
    Query("q162_scd2_lookup", (s, d) => {
      import s.implicits._
      val events = t(s, d, "events")
      val iv = graft.ops.Scd.intervals(events, "user_id", "ts",
          Seq("event_type"))
        .withColumnRenamed("event_type", "state")
      val facts = events.select($"user_id", $"event_id",
        ($"ts" + expr("INTERVAL 1 HOUR")).as("ts_shift"))
      graft.ops.Scd.lookupJoin(facts, iv, "user_id", "ts_shift",
          Seq("state"))
        .select($"user_id", $"event_id", $"state")
        .orderBy($"event_id")
    },
      // SCD-2 lookup: the q154 interval build + a BETWEEN covering-
      // interval join (the engine's as-of composition must agree)
      """WITH e AS (
           SELECT user_id, event_id, epoch_us(ts) AS us, event_type
           FROM events),
         f AS (
           SELECT user_id, us, event_type,
                  CASE WHEN lag(event_type) OVER w IS DISTINCT FROM
                            event_type
                       THEN 1 ELSE 0 END AS nw
           FROM e
           WINDOW w AS (PARTITION BY user_id
             ORDER BY us, event_type)),
         r AS (
           SELECT user_id, us, event_type,
                  sum(nw) OVER (PARTITION BY user_id
                    ORDER BY us, event_type
                    ROWS UNBOUNDED PRECEDING) AS run
           FROM f),
         runs AS (
           SELECT user_id, event_type, min(us) AS valid_from
           FROM r GROUP BY user_id, event_type, run),
         iv AS (
           SELECT user_id, event_type AS state, valid_from,
                  lead(valid_from) OVER (PARTITION BY user_id
                    ORDER BY valid_from, event_type) AS valid_to
           FROM runs),
         facts AS (
           SELECT user_id, event_id, us + 3600000000 AS fus FROM e)
         SELECT fa.user_id, fa.event_id, iv.state
         FROM facts fa LEFT JOIN iv
           ON iv.user_id = fa.user_id AND iv.valid_from <= fa.fus
              AND (iv.valid_to IS NULL OR fa.fus < iv.valid_to)
         ORDER BY fa.event_id"""),

    // Per-group weighted sampling (X134): exact 10 docs per source by
    // the n_chars-weighted race. Uniforms, race keys, and the
    // per-group rank replay relationally.
    Query("q163_weighted_sample_grouped", (s, d) => {
      import s.implicits._
      graft.llmops.Splits.weightedSamplePerGroup(
          t(s, d, "documents").select($"doc_id", $"source", $"n_chars"),
          $"n_chars", k = 10, seed = "wg0", groupCol = "source")
        .select($"doc_id", $"source", $"n_chars", $"race_key")
        .orderBy($"source", $"race_key", $"doc_id")
    },
      // per-group weighted sampling: the exponential race ranked within
      // each source, replayed relationally
      """WITH u AS (
           SELECT doc_id, source, n_chars,
                  (('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'wg0'),
                     1, 12))::BIGINT + 0.5) / 281474976710656.0 AS uu
           FROM documents WHERE n_chars > 0),
         k AS (
           SELECT doc_id, source, n_chars,
                  -ln(uu) / n_chars AS race_key
           FROM u),
         rk AS (
           SELECT doc_id, source, n_chars, race_key,
                  row_number() OVER (PARTITION BY source
                    ORDER BY race_key, doc_id) AS r
           FROM k)
         SELECT doc_id, source, n_chars, race_key
         FROM rk WHERE r <= 10
         ORDER BY source, race_key, doc_id"""),

    // Snippet extraction (X135): queries = the first 5 tokens of three
    // anchor docs, hits planted by doc_id % 50 — the densest-window
    // search, tie rule, and token-slice reassembly all replay
    // relationally.
    Query("q164_snippets", (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val T = graft.llmops.TextFuncs
      val queries = docs.filter($"doc_id".isin(1L, 38L, 75L))
        .select((($"doc_id" - 1) / lit(37)).cast("long").as("query_id"),
          array_join(slice(T.tokens($"text"), 1, 5), " ").as("text"))
      val hits = docs.select(($"doc_id" % 50).as("query_id"), $"doc_id")
        .filter($"query_id" < 3)
      graft.llmops.Retrieval.snippets(docs, hits, queries, window = 12)
        .withColumn("snip_md5", md5($"snippet")).drop("snippet")
        .orderBy($"query_id", $"doc_id")
    },
      // snippet extraction: query-term matching, the densest-window
      // self-join, the (count desc, pos) tie rule, and the token-slice
      // reassembly replayed relationally
      """WITH toks AS (
           SELECT doc_id,
                  string_split_regex(lower(trim(text)), '\s+') AS arr
           FROM documents),
         queries AS (
           SELECT (doc_id - 1) // 37 AS query_id,
                  array_to_string(arr[1:5], ' ') AS qtext
           FROM toks WHERE doc_id IN (1, 38, 75)),
         qterms AS (
           SELECT DISTINCT query_id,
                  unnest(string_split_regex(lower(trim(qtext)), '\s+'))
                    AS term
           FROM queries),
         hits AS (
           SELECT doc_id % 50 AS query_id, doc_id
           FROM documents WHERE doc_id % 50 < 3),
         pos AS (
           SELECT t.doc_id,
                  generate_subscripts(t.arr, 1) - 1 AS p,
                  unnest(t.arr) AS term
           FROM toks t
           WHERE t.doc_id IN (SELECT doc_id FROM hits)),
         m AS (
           SELECT h.query_id, p.doc_id, p.p
           FROM pos p
           JOIN qterms q ON q.term = p.term
           JOIN hits h ON h.query_id = q.query_id
             AND h.doc_id = p.doc_id
           WHERE p.term <> ''),
         wc AS (
           SELECT a.query_id, a.doc_id, a.p,
                  count(*) AS n_matched
           FROM m a JOIN m b
             ON b.query_id = a.query_id AND b.doc_id = a.doc_id
             AND b.p >= a.p AND b.p < a.p + 12
           GROUP BY 1, 2, 3),
         best AS (
           SELECT query_id, doc_id, p, n_matched,
                  row_number() OVER (PARTITION BY query_id, doc_id
                    ORDER BY n_matched DESC, p) AS rk
           FROM wc)
         SELECT b.query_id, b.doc_id, CAST(b.p AS INTEGER) AS snip_start,
                b.n_matched,
                md5(array_to_string(t.arr[b.p + 1 : b.p + 12], ' '))
                  AS snip_md5
         FROM best b JOIN toks t ON t.doc_id = b.doc_id
         WHERE b.rk = 1
         ORDER BY b.query_id, b.doc_id"""),

    // Event-rate anomaly detection (X136): daily per-type counts
    // z-scored against a strictly-trailing 7-bucket window. Bucketing,
    // the trailing stats, the z guards, and the flag all replay
    // relationally.
    Query("q165_rate_anomalies", (s, d) => {
      import s.implicits._
      graft.ops.Anomaly.rateAnomalies(t(s, d, "events"),
          bucketMillis = 86400000L, lookback = 7, threshold = 2.0)
        .withColumn("is_anomaly", $"is_anomaly".cast("int"))
        .orderBy($"event_type", $"bucket")
    },
      // rate anomalies: bucketing, trailing stats, z guards, and the
      // flag replayed relationally
      """WITH c AS (
           SELECT event_type, epoch_ms(ts) // 86400000 AS bucket,
                  count(*) AS n
           FROM events GROUP BY 1, 2),
         w AS (
           SELECT event_type, bucket, n,
                  count(n) OVER tw AS tn,
                  avg(n) OVER tw AS trail_mean,
                  stddev_samp(n) OVER tw AS trail_std
           FROM c
           WINDOW tw AS (PARTITION BY event_type ORDER BY bucket
             ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)),
         z AS (
           SELECT event_type, bucket, n, trail_mean, trail_std,
                  CASE WHEN tn >= 3 AND trail_std > 0
                       THEN (n - trail_mean) / trail_std END AS z
           FROM w)
         SELECT event_type, bucket, n, trail_mean, trail_std, z,
                CAST(coalesce(abs(z) >= 2.0, false) AS INTEGER)
                  AS is_anomaly
         FROM z ORDER BY event_type, bucket"""),

    // PMI collocations (X137): top-100 vocabulary, ±2-token window,
    // 20-occurrence floor. Vocabulary pruning, the banded co-occurrence
    // self-join, unordered pair keying, and the PMI arithmetic all
    // replay relationally.
    Query("q166_pmi_pairs", (s, d) => {
      import s.implicits._
      graft.llmops.TextFuncs.pmiPairs(t(s, d, "documents"),
          topV = 100, window = 2, minCount = 20)
        .orderBy($"term_a", $"term_b")
    },
      // PMI collocations: vocabulary pruning, banded co-occurrence,
      // unordered pair keys, and the PMI arithmetic replayed
      """WITH words AS (
           SELECT doc_id,
                  generate_subscripts(arr, 1) - 1 AS pos,
                  unnest(arr) AS term
           FROM (SELECT doc_id,
                        string_split_regex(lower(trim(text)), '\s+')
                          AS arr
                 FROM documents)),
         wf AS (SELECT doc_id, pos, term FROM words WHERE term <> ''),
         vocab AS (
           SELECT term FROM (
             SELECT term, count(*) AS c FROM wf GROUP BY 1
             ORDER BY c DESC, term LIMIT 100)),
         hits AS (
           SELECT w.doc_id, w.pos, w.term
           FROM wf w JOIN vocab v USING (term)),
         tot AS (SELECT count(*) AS N FROM hits),
         na AS (SELECT term, count(*) AS n_t FROM hits GROUP BY 1),
         pairs_all AS (
           SELECT least(a.term, b.term) AS term_a,
                  greatest(a.term, b.term) AS term_b,
                  count(*) AS n_ab
           FROM hits a JOIN hits b ON b.doc_id = a.doc_id
             AND b.pos > a.pos AND b.pos <= a.pos + 2
           GROUP BY 1, 2),
         -- P over ALL co-occurrences; the minCount floor only gates
         -- which rows are reported (matches TextFuncs.pmiPairs)
         pt AS (SELECT CAST(sum(n_ab) AS BIGINT) AS P FROM pairs_all),
         pairs AS (SELECT * FROM pairs_all WHERE n_ab >= 20)
         SELECT p.term_a, p.term_b, p.n_ab,
                ln((CAST(p.n_ab AS DOUBLE) / pt.P) /
                   ((CAST(na1.n_t AS DOUBLE) / tot.N) *
                    (CAST(na2.n_t AS DOUBLE) / tot.N))) AS pmi
         FROM pairs p
         JOIN na na1 ON na1.term = p.term_a
         JOIN na na2 ON na2.term = p.term_b
         CROSS JOIN pt CROSS JOIN tot
         ORDER BY term_a, term_b"""),

    // Aho-Corasick blocklist matching (X138): one-pass multi-pattern
    // scan vs the oracle's per-pattern contains() decomposition —
    // hit flag, distinct-match count, and the matched list (in
    // pattern order) must all agree on every document.
    Query("q167_blocklist", (s, d) => {
      import s.implicits._
      val pats = Seq("data", "err", "qua", "zz", "the")
      val M = graft.expr.MultiMatch
      t(s, d, "documents").select($"doc_id",
          M.contains_any($"text", pats).cast("int").as("hit"),
          size(M.matched_terms($"text", pats)).as("n_terms"),
          array_join(M.matched_terms($"text", pats), ",").as("terms"))
        .orderBy($"doc_id")
    },
      // blocklist matching: the per-pattern contains() decomposition —
      // concat_ws skips the null CASE arms in both engines, so the
      // matched list reassembles in pattern order exactly
      """SELECT doc_id,
                CAST(contains(text, 'data') OR contains(text, 'err')
                  OR contains(text, 'qua') OR contains(text, 'zz')
                  OR contains(text, 'the') AS INTEGER) AS hit,
                (CASE WHEN contains(text, 'data') THEN 1 ELSE 0 END +
                 CASE WHEN contains(text, 'err') THEN 1 ELSE 0 END +
                 CASE WHEN contains(text, 'qua') THEN 1 ELSE 0 END +
                 CASE WHEN contains(text, 'zz') THEN 1 ELSE 0 END +
                 CASE WHEN contains(text, 'the') THEN 1 ELSE 0 END)
                  AS n_terms,
                concat_ws(',',
                  CASE WHEN contains(text, 'data') THEN 'data' END,
                  CASE WHEN contains(text, 'err') THEN 'err' END,
                  CASE WHEN contains(text, 'qua') THEN 'qua' END,
                  CASE WHEN contains(text, 'zz') THEN 'zz' END,
                  CASE WHEN contains(text, 'the') THEN 'the' END)
                  AS terms
         FROM documents ORDER BY doc_id"""),

    // Zipf rank-frequency fit (X139): the vocabulary head's OLS fit
    // of ln(freq) on ln(rank) — counts, ranking, and the closed-form
    // regression all replay relationally.
    Query("q168_zipf_fit", (s, d) => {
      import s.implicits._
      graft.llmops.TextFuncs.zipfFit(t(s, d, "documents"), topN = 200)
    },
      // Zipf fit: counts, head ranking, and the closed-form OLS replayed
      """WITH w AS (
           SELECT unnest(string_split_regex(lower(trim(text)), '\s+'))
             AS term
           FROM documents),
         c AS (
           SELECT term, count(*) AS c FROM w WHERE term <> ''
           GROUP BY 1 ORDER BY c DESC, term LIMIT 200),
         r AS (
           SELECT ln(CAST(row_number() OVER (ORDER BY c DESC, term)
                  AS DOUBLE)) AS lx,
                  ln(CAST(c AS DOUBLE)) AS ly
           FROM c)
         SELECT count(*) AS n_points,
                covar_pop(lx, ly) / var_pop(lx) AS slope,
                avg(ly) - covar_pop(lx, ly) / var_pop(lx) * avg(lx)
                  AS intercept,
                corr(lx, ly) * corr(lx, ly) AS r2
         FROM r"""),

    // BM25 over a MIXED-SCRIPT corpus: base English docs ∪ 30 planted
    // UNSPACED-zh docs (closed-form from doc_id — no whitespace in
    // them). Query 0 is ASCII, query 1 is itself unspaced zh; both go
    // through the script-aware tokenizer seam (TextFuncs.tokens), so
    // the zh docs are retrievable at all — with a whitespace-only
    // tokenizer query 1 would be one giant token and match nothing.
    // The oracle replays tf/df/idf/dl/score/rank with the same
    // ideograph-isolating tokenize.
    Query("q169_bm25_cjk", (s, d) => {
      import s.implicits._
      val base = t(s, d, "documents").select($"doc_id", $"text")
      val zh = base.filter($"doc_id" < 30).select(
        ($"doc_id" + 950000).as("doc_id"),
        concat(lit("质量"),
          repeat(lit("数据"), ($"doc_id" % 4 + 1).cast("int")),
          lit("测试好")).as("text"))
      val docs = base.unionByName(zh)
      val queries = Seq(
        (0L, "vector stream"),
        (1L, "数据测试")).toDF("query_id", "text")
      graft.llmops.Bm25.topKBatch(docs, queries, k = 10)
        .select($"query_id", $"rk", $"doc_id", $"n_terms_hit", $"score")
        .orderBy($"query_id", $"rk")
    },
      // Mixed-script BM25: planted unspaced-zh docs built via chr()
      // (质=36136 量=37327 数=25968 据=25454 测=27979 试=35797 好=22909),
      // tokenized with the SAME ideograph-isolating regexp_replace as
      // TextFuncs.tokens, then the full tf/df/idf/score/rank replay.
      """WITH docs2 AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 950000 AS doc_id,
                  chr(36136)||chr(37327) ||
                  repeat(chr(25968)||chr(25454), (doc_id % 4 + 1)::int) ||
                  chr(27979)||chr(35797)||chr(22909) AS text
           FROM documents WHERE doc_id < 30),
         toks AS (
           SELECT doc_id,
                  string_split_regex(lower(trim(regexp_replace(text,
                    '([\x{0e00}-\x{0e7f}\x{0e80}-\x{0eff}\x{1000}-\x{109f}\x{1780}-\x{17ff}\x{3040}-\x{30ff}\x{3400}-\x{4dbf}\x{4e00}-\x{9fff}\x{f900}-\x{faff}])',
                    ' \1 ', 'g'))), '\s+') AS l,
                  CASE WHEN length(trim(text)) = 0 THEN 0
                       ELSE len(string_split_regex(lower(trim(regexp_replace(text,
                         '([\x{0e00}-\x{0e7f}\x{0e80}-\x{0eff}\x{1000}-\x{109f}\x{1780}-\x{17ff}\x{3040}-\x{30ff}\x{3400}-\x{4dbf}\x{4e00}-\x{9fff}\x{f900}-\x{faff}])',
                         ' \1 ', 'g'))), '\s+'))
                  END AS dl
           FROM docs2),
         stats AS (
           SELECT count(*)::DOUBLE AS n, avg(dl::DOUBLE) AS avgdl
           FROM toks),
         q AS (
           SELECT 0 AS qid, 'vector' AS term
           UNION ALL SELECT 0, 'stream'
           UNION ALL SELECT 1, chr(25968)
           UNION ALL SELECT 1, chr(25454)
           UNION ALL SELECT 1, chr(27979)
           UNION ALL SELECT 1, chr(35797)),
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
                      0.75 * tf.dl / (SELECT avgdl FROM stats))) AS c
           FROM tf JOIN idf ON idf.term = tf.term
                   JOIN q ON q.term = tf.term),
         sc AS (
           SELECT qid, doc_id, count(*)::BIGINT AS n_terms_hit,
                  round(sum(c), 4) AS score
           FROM contrib GROUP BY 1, 2),
         ranked AS (
           SELECT qid, doc_id, n_terms_hit, score, row_number() OVER (
             PARTITION BY qid ORDER BY score DESC, doc_id) AS rk
           FROM sc QUALIFY rk <= 10)
         SELECT qid::BIGINT AS query_id, rk::INTEGER AS rk, doc_id,
                n_terms_hit, score
         FROM ranked ORDER BY query_id, rk"""),

    // Hybrid-retrieval tuning grid (X141): ONE report over every
    // (fetchK, nprobe, rrfK) cell — candidate rankings serve once per
    // (fetchK, nprobe), every rrfK re-fuses them without touching the
    // index. The serve tiers are pinned by q135/q136; the oracle here
    // replays the grid's whole downstream — RRF fusion, document
    // roll-up, recall/MRR/nDCG, per-cell means — from the dumped
    // candidate rankings (the q24 dump-and-replay pattern), with the
    // qrels re-derived closed-form from the documents base table.
    Query("q170_hybrid_tuning", (s, d) => {
      import s.implicits._
      val R = graft.llmops.Retrieval
      val base = s"$scratch/q170_ret"
      val docs = t(s, d, "documents")
        .filter($"doc_id" % 10 === 5 && $"text".isNotNull)
        .select($"doc_id", $"text")
      R.buildIndex(docs, base, targetChars = 200, dim = 64,
        nlist = 16, m = 8)
      val queries = Seq(
        (0L, "vector window merge"),
        (1L, "stream processing window")).toDF("query_id", "text")
      // document judgments, closed-form from the base table: a doc is
      // relevant iff its text contains both of the query's anchor terms
      val qrels = docs
        .filter($"text".contains("vector") && $"text".contains("merge"))
        .select(lit(0L).as("query_id"), $"doc_id")
        .unionByName(docs
          .filter($"text".contains("stream") && $"text".contains("window"))
          .select(lit(1L).as("query_id"), $"doc_id"))
      if (materializing) {
        val chunks = s.read.parquet(s"$base/chunks")
        materialize(chunks.select($"vec_id", $"doc_id"), "q170_chunkmap")
        for (fk <- Seq(4, 8)) {
          materialize(graft.llmops.Bm25Index.topK(s, s"$base/lexical",
              queries, fk, idCol = "vec_id")
            .select($"query_id", $"vec_id", $"rk"), s"q170_lex_$fk")
          for (np <- Seq(2, 4))
            materialize(R.search(s, base, queries, fk, np)
              .join(chunks.select($"vec_id", $"doc_id", $"chunk_idx"),
                Seq("doc_id", "chunk_idx"))
              .select($"query_id", $"vec_id", $"rk"),
              s"q170_vec_${fk}_$np")
        }
      }
      R.tuneHybrid(s, base, queries, qrels, evalK = 4,
          fetchKs = Seq(4, 8), nprobes = Seq(2, 4), rrfKs = Seq(20, 60))
        .select($"fetch_k", $"nprobe", $"rrf_k", $"n_queries",
          round($"mean_recall", 4).as("mean_recall"),
          round($"mean_mrr", 4).as("mean_mrr"),
          round($"mean_ndcg", 4).as("mean_ndcg"))
        .orderBy($"fetch_k", $"nprobe", $"rrf_k")
    },
      // tuning grid: RRF fusion, doc roll-up, recall/MRR/nDCG, and the
      // per-cell means all replayed from the dumped candidate rankings;
      // qrels re-derived closed-form from the documents base table
      s"""WITH chunkmap AS (
           SELECT vec_id, doc_id
           FROM read_parquet('$scratch/q170_chunkmap/*.parquet')),
         vec AS (
           SELECT 4 AS fetch_k, 2 AS nprobe, query_id, vec_id, rk
           FROM read_parquet('$scratch/q170_vec_4_2/*.parquet')
           UNION ALL
           SELECT 4, 4, query_id, vec_id, rk
           FROM read_parquet('$scratch/q170_vec_4_4/*.parquet')
           UNION ALL
           SELECT 8, 2, query_id, vec_id, rk
           FROM read_parquet('$scratch/q170_vec_8_2/*.parquet')
           UNION ALL
           SELECT 8, 4, query_id, vec_id, rk
           FROM read_parquet('$scratch/q170_vec_8_4/*.parquet')),
         lexx AS (
           SELECT l.fetch_k, np.nprobe, l.query_id, l.vec_id, l.rk
           FROM (SELECT 4 AS fetch_k, query_id, vec_id, rk
                 FROM read_parquet('$scratch/q170_lex_4/*.parquet')
                 UNION ALL
                 SELECT 8, query_id, vec_id, rk
                 FROM read_parquet('$scratch/q170_lex_8/*.parquet')) l
           CROSS JOIN (VALUES (2), (4)) np(nprobe)),
         cand AS (
           SELECT fetch_k, nprobe, query_id, vec_id,
                  v.rk AS ra, x.rk AS rb
           FROM vec v FULL JOIN lexx x
             USING (fetch_k, nprobe, query_id, vec_id)),
         scored AS (
           SELECT kk.rrf_k, c.fetch_k, c.nprobe, c.query_id, c.vec_id,
                  coalesce(1.0 / (kk.rrf_k + c.ra), 0.0) +
                  coalesce(1.0 / (kk.rrf_k + c.rb), 0.0) AS rrf
           FROM cand c CROSS JOIN (VALUES (20), (60)) kk(rrf_k)),
         topv AS (
           -- the fused cut is at FETCH_K (serving's output shape);
           -- the evalK = 4 cut applies later at DOC rank
           SELECT *, row_number() OVER (
             PARTITION BY fetch_k, nprobe, rrf_k, query_id
             ORDER BY rrf DESC, vec_id) AS frk
           FROM scored QUALIFY frk <= fetch_k),
         dochits AS (
           SELECT fetch_k, nprobe, rrf_k, query_id, doc_id,
                  min(frk) AS mr
           FROM topv JOIN chunkmap USING (vec_id)
           GROUP BY 1, 2, 3, 4, 5),
         ranked AS (
           SELECT *, row_number() OVER (
             PARTITION BY fetch_k, nprobe, rrf_k, query_id
             ORDER BY mr, doc_id) AS rk
           FROM dochits),
         base AS (
           SELECT doc_id, text FROM documents
           WHERE doc_id % 10 = 5 AND text IS NOT NULL),
         qrels AS (
           SELECT DISTINCT query_id, doc_id FROM (
             SELECT 0::BIGINT AS query_id, doc_id FROM base
             WHERE contains(text, 'vector') AND contains(text, 'merge')
             UNION ALL
             SELECT 1::BIGINT, doc_id FROM base
             WHERE contains(text, 'stream') AND contains(text, 'window'))),
         nrel AS (
           SELECT query_id, count(*) AS n_rel FROM qrels GROUP BY 1),
         cells AS (
           SELECT fk.fetch_k, np.nprobe, kk.rrf_k
           FROM (VALUES (4), (8)) fk(fetch_k)
           CROSS JOIN (VALUES (2), (4)) np(nprobe)
           CROSS JOIN (VALUES (20), (60)) kk(rrf_k)),
         hitrel AS (
           SELECT fetch_k, nprobe, rrf_k, r.query_id,
                  count(*) AS n_hit, min(rk) AS minrk,
                  sum(1.0 / (ln(rk + 1.0) / ln(2.0))) AS dcg
           FROM ranked r JOIN qrels q USING (query_id, doc_id)
           WHERE rk <= 4
           GROUP BY 1, 2, 3, 4),
         percell AS (
           SELECT c.fetch_k, c.nprobe, c.rrf_k, n.query_id, n.n_rel,
                  coalesce(h.n_hit, 0) AS n_hit, h.minrk, h.dcg
           FROM cells c CROSS JOIN nrel n
           LEFT JOIN hitrel h
             ON h.fetch_k = c.fetch_k AND h.nprobe = c.nprobe
             AND h.rrf_k = c.rrf_k AND h.query_id = n.query_id),
         evald AS (
           SELECT fetch_k, nprobe, rrf_k, query_id,
                  n_hit::DOUBLE / n_rel AS recall,
                  coalesce(1.0 / minrk, 0.0) AS mrr,
                  coalesce(dcg, 0.0) / list_sum(list_transform(
                    generate_series(1, least(n_rel, 4)),
                    i -> 1.0 / (ln(i + 1.0) / ln(2.0)))) AS ndcg
           FROM percell)
         SELECT fetch_k, nprobe, rrf_k,
                count(*) AS n_queries,
                round(avg(recall), 4) AS mean_recall,
                round(avg(mrr), 4) AS mean_mrr,
                round(avg(ndcg), 4) AS mean_ndcg
         FROM evald GROUP BY 1, 2, 3
         ORDER BY fetch_k, nprobe, rrf_k""",
      lifecycle = true), // index build + 4-cell serve grid

    // EXACT prefix-filtered n-gram Jaccard join (X143):
    // recall-guaranteed similarity pairs in X5's shingle space — no
    // LSH banding probability, no bucket-cap cliff. Fully relational
    // (shingle sets, rarest-first per-doc prefix ranks, the
    // prefix-co-occurrence self-join, the length filter, the exact
    // set-overlap verify), so the oracle replays EVERY stage.
    Query("q171_jaccard_join", (s, d) => {
      import s.implicits._
      graft.llmops.Dedup.jaccardJoinExact(t(s, d, "documents"),
          threshold = 0.5, n = 3)
        .select($"id_a", $"id_b", round($"jaccard", 4).as("jaccard"))
        .orderBy($"id_a", $"id_b")
    },
      // exact prefix-filtered n-gram Jaccard join: every stage replayed
      // — 3-gram shingle sets (the wordNgrams HOF mirror), rarest-first
      // (df, gram) per-doc ranks, prefix cut n - ceil(t*n) + 1, prefix
      // co-occurrence + length filter, exact overlap verify
      // i / (na + nb - i)
      """WITH tf AS (
           SELECT id, term FROM (
             SELECT doc_id AS id,
                    unnest(list_distinct(list_transform(
                      generate_series(1, greatest(len(l) - 2, 1)),
                      i -> array_to_string(
                             list_slice(l, i, i + 2), ' ')))) AS term
             FROM (SELECT doc_id,
                          string_split_regex(lower(trim(text)), '\s+')
                            AS l
                   FROM documents))
           WHERE term <> ''),
         dfx AS (SELECT term, count(*) AS dfc FROM tf GROUP BY 1),
         ranked AS (
           SELECT t.id, t.term, d.dfc,
                  count(*) OVER (PARTITION BY t.id) AS n,
                  row_number() OVER (PARTITION BY t.id
                    ORDER BY d.dfc, t.term) AS pos
           FROM tf t JOIN dfx d USING (term)),
         prefix AS (
           SELECT id, term, n FROM ranked
           WHERE pos <= n - ceil(CAST(0.5 AS DOUBLE) * n) + 1),
         cand AS (
           SELECT DISTINCT a.id AS id_a, b.id AS id_b
           FROM prefix a JOIN prefix b ON a.term = b.term
             AND a.id < b.id
             AND greatest(a.n, b.n) * CAST(0.5 AS DOUBLE)
                   <= least(a.n, b.n)),
         inter AS (
           SELECT c.id_a, c.id_b, count(*) AS i
           FROM cand c
           JOIN tf ta ON ta.id = c.id_a
           JOIN tf tb ON tb.id = c.id_b AND tb.term = ta.term
           GROUP BY 1, 2),
         nsz AS (SELECT id, count(*) AS n FROM tf GROUP BY 1)
         SELECT i.id_a, i.id_b,
                round(i.i::DOUBLE / (na.n + nb.n - i.i), 4) AS jaccard
         FROM inter i
         JOIN nsz na ON na.id = i.id_a
         JOIN nsz nb ON nb.id = i.id_b
         WHERE i.i::DOUBLE / (na.n + nb.n - i.i)
                 >= CAST(0.5 AS DOUBLE)
         ORDER BY id_a, id_b"""),

    // char-distribution entropy (X144): the two-sided quality signal —
    // repetitive text scores LOW, binary/base64 spill scores HIGH,
    // prose sits ~4-4.5 bits. Pure relational (slim (id, char, count)
    // rows, two map-side sums), replayed per document.
    Query("q172_char_entropy", (s, d) => {
      import s.implicits._
      graft.llmops.TextFuncs.charEntropy(t(s, d, "documents"))
        .select($"doc_id", $"n_chars",
          round($"char_entropy", 4).as("char_entropy"))
        .orderBy($"doc_id")
    },
      // char entropy: H = (ln n - sum(k ln k)/n) / ln 2 replayed from
      // per-(doc, char) counts
      """WITH ch AS (
           SELECT doc_id,
                  unnest(list_transform(generate_series(1, length(text)),
                    i -> substr(text, i, 1))) AS c
           FROM documents WHERE length(text) > 0),
         cnt AS (SELECT doc_id, c, count(*) AS k FROM ch GROUP BY 1, 2),
         agg AS (
           SELECT doc_id, CAST(sum(k) AS BIGINT) AS n,
                  sum(k * ln(k)) AS sklnk
           FROM cnt GROUP BY 1)
         SELECT doc_id, n AS n_chars,
                round((ln(n) - sklnk / n) / ln(CAST(2.0 AS DOUBLE)), 4)
                  AS char_entropy
         FROM agg ORDER BY doc_id"""),

    // one-call corpus data card (X145): volume, dup rate, quality,
    // entropy, language histogram, Zipf fit — every number an
    // already-verified kernel, composed; the oracle replays all of
    // them into the same tall (metric, value) table.
    Query("q173_corpus_report", (s, d) => {
      import s.implicits._
      graft.ops.Profiling.corpusReport(t(s, d, "documents"))
        .select($"metric", round($"value", 4).as("value"))
        .orderBy($"metric")
    },
      // corpus data card: every metric replayed (q19/q20/q21/q22/q168/
      // q172 shapes) into the same tall table
      """WITH q AS (
           SELECT doc_id, text,
             string_split_regex(lower(trim(text)), '\s+') AS toks,
             length(text) AS n,
             length(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g'))
               AS np
           FROM documents),
         r AS (
           SELECT doc_id,
             CASE WHEN len(toks) = 0 THEN 0.0
                  ELSE len(list_filter(toks, t -> t IN
                    ('the','and','of','to','a','in','is','that')))::double
                    / len(toks)
             END AS stop_ratio,
             CASE WHEN len(toks) = 0 THEN 0.0
                  ELSE list_sum(list_transform(toks,
                    w -> length(w)))::double / len(toks)
             END AS mwl,
             CASE WHEN n = 0 THEN 0.0 ELSE np::double / n END AS punct,
             n FROM q),
         qual AS (
           SELECT avg((CASE WHEN n BETWEEN 50 AND 20000 THEN 0.25 ELSE 0.0 END) +
               (CASE WHEN stop_ratio >= 0.01 THEN 0.25 ELSE 0.0 END) +
               (CASE WHEN mwl BETWEEN 2.0 AND 12.0 THEN 0.25 ELSE 0.0 END) +
               (CASE WHEN punct <= 0.1 THEN 0.25 ELSE 0.0 END)) AS v
           FROM r),
         scal AS (
           SELECT count(*)::DOUBLE AS n_docs,
                  count(DISTINCT md5(text))::DOUBLE AS n_unique,
                  CAST(sum(length(text)) AS DOUBLE) AS n_chars,
                  CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
                      ELSE len(string_split_regex(lower(trim(text)),
                        '\s+')) END) AS DOUBLE) AS n_tokens
           FROM documents),
         langh AS (
           SELECT 'lang:' || detected AS metric, n::DOUBLE AS value
           FROM (
             SELECT CASE
                 WHEN h_de + h_en + h_es + h_fr + h_th + h_zh = 0 THEN 'und'
                 WHEN h_de >= h_en AND h_de >= h_es AND h_de >= h_fr AND h_de >= h_th AND h_de >= h_zh THEN 'de'
                 WHEN h_en >= h_es AND h_en >= h_fr AND h_en >= h_th AND h_en >= h_zh THEN 'en'
                 WHEN h_es >= h_fr AND h_es >= h_th AND h_es >= h_zh THEN 'es'
                 WHEN h_fr >= h_th AND h_fr >= h_zh THEN 'fr'
                 WHEN h_th >= h_zh THEN 'th'
                 ELSE 'zh' END AS detected,
               count(*) AS n
             FROM (
               SELECT
                 len(list_filter(toks, t -> t IN ('der','die','und','das','ist','von','mit','den'))) AS h_de,
                 len(list_filter(toks, t -> t IN ('the','and','of','to','a','in','is','that'))) AS h_en,
                 len(list_filter(toks, t -> t IN ('el','la','de','que','y','los','en','un'))) AS h_es,
                 len(list_filter(toks, t -> t IN ('le','la','les','des','est','une','dans','et'))) AS h_fr,
                 len(list_filter(toks, t -> t IN ('า','น','ร','เ','อ','ก','ง','ม'))) AS h_th,
                 len(list_filter(toks, t -> t IN ('的','是','在','了','和','有','我','不'))) AS h_zh
               FROM q)
             GROUP BY detected)),
         ent AS (
           SELECT avg(e) AS v FROM (
             SELECT (ln(n) - sklnk / n) / ln(CAST(2.0 AS DOUBLE)) AS e
             FROM (
               SELECT doc_id, CAST(sum(k) AS BIGINT) AS n,
                      sum(k * ln(k)) AS sklnk
               FROM (
                 SELECT doc_id, c, count(*) AS k FROM (
                   SELECT doc_id,
                          unnest(list_transform(
                            generate_series(1, length(text)),
                            i -> substr(text, i, 1))) AS c
                   FROM documents WHERE length(text) > 0)
                 GROUP BY 1, 2)
               GROUP BY 1))),
         zw AS (
           SELECT unnest(string_split_regex(lower(trim(text)), '\s+'))
             AS term
           FROM documents),
         zc AS (
           SELECT term, count(*) AS c FROM zw WHERE term <> ''
           GROUP BY 1 ORDER BY c DESC, term LIMIT 200),
         zr AS (
           SELECT ln(CAST(row_number() OVER (ORDER BY c DESC, term)
                  AS DOUBLE)) AS lx,
                  ln(CAST(c AS DOUBLE)) AS ly
           FROM zc),
         zf AS (
           SELECT covar_pop(lx, ly) / var_pop(lx) AS slope,
                  corr(lx, ly) * corr(lx, ly) AS r2
           FROM zr),
         card AS (
           SELECT 'n_docs' AS metric, n_docs AS value FROM scal
           UNION ALL SELECT 'n_unique_texts', n_unique FROM scal
           UNION ALL SELECT 'exact_dup_rate',
             CAST(1 AS DOUBLE) - n_unique / n_docs FROM scal
           UNION ALL SELECT 'n_chars', n_chars FROM scal
           UNION ALL SELECT 'n_tokens', n_tokens FROM scal
           UNION ALL SELECT 'mean_quality', v FROM qual
           UNION ALL SELECT metric, value FROM langh
           UNION ALL SELECT 'mean_char_entropy', v FROM ent
           UNION ALL SELECT 'zipf_slope', slope FROM zf
           UNION ALL SELECT 'zipf_r2', r2 FROM zf)
         SELECT metric, round(value, 4) AS value FROM card
         ORDER BY metric"""),

    // leakage-safe cluster split (X146): the split key is the
    // connected-component label of the near-dup graph, not the text
    // hash, so no near-dup pair straddles train/test by construction.
    // Same q69 dump-and-replay contract: edges dumped, the oracle
    // re-derives components (recursive CTE) and the md5 threshold on
    // the same seed:component key — every per-doc assignment replayed.
    Query("q174_cluster_split", (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val edges = graft.llmops.Dedup.minhashPairs(docs, threshold = 0.7)
        .select($"id_a", $"id_b")
      materialize(edges, "q174_edges")
      graft.llmops.Splits.splitByCluster(docs, edges)
        .select($"doc_id", $"component", $"split")
        .orderBy($"doc_id")
    },
      s"""WITH RECURSIVE sym AS (
           SELECT id_a AS u, id_b AS v
           FROM read_parquet('$scratch/q174_edges/*.parquet')
           UNION
           SELECT id_b, id_a
           FROM read_parquet('$scratch/q174_edges/*.parquet')),
         nodes AS (SELECT DISTINCT u AS id FROM sym),
         walk(id, comp) AS (
           SELECT id, id FROM nodes
           UNION
           SELECT sym.v, walk.comp FROM walk JOIN sym ON sym.u = walk.id),
         labels AS (SELECT id, min(comp) AS component FROM walk GROUP BY id),
         lab AS (
           SELECT d.doc_id,
                  coalesce(l.component, d.doc_id) AS component
           FROM documents d LEFT JOIN labels l ON l.id = d.doc_id)
         SELECT doc_id, component,
                CASE WHEN substring(md5('cluster-split:' ||
                       component::VARCHAR), 1, 2) < 'cd' THEN 'train'
                     WHEN substring(md5('cluster-split:' ||
                       component::VARCHAR), 1, 2) < 'e6' THEN 'val'
                     ELSE 'test' END AS split
         FROM lab ORDER BY doc_id"""),

    // mergeable t-digest quantiles (X147): the rank tier of the sketch
    // family — per-group digests of O(δ) centroids instead of a global
    // sort. Same contract shape as q104's GK pin: exact quantiles
    // replayed by the oracle; the sketch estimate pinned by its
    // realized-rank error (the order-independent guarantee a mergeable
    // quantile summary actually makes).
    Query("q175_tdigest_quantile", (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val dig = docs.groupBy($"source")
        .agg(
          percentile($"n_chars", lit(0.5)).as("p50_exact"),
          percentile($"n_chars", lit(0.9)).as("p90_exact"),
          graft.llmops.Quantiles.tdigestAgg($"n_chars", 100).as("dg"))
        .select($"source", $"p50_exact", $"p90_exact",
          graft.llmops.Quantiles.tdigestQuantile($"dg", 0.5).as("p50t"),
          graft.llmops.Quantiles.tdigestQuantile($"dg", 0.9).as("p90t"))
      docs.join(broadcast(dig), Seq("source"))
        .groupBy($"source", $"p50_exact", $"p90_exact", $"p50t", $"p90t")
        .agg(count(lit(1)).cast("double").as("n"),
          sum(when($"n_chars" <= $"p50t", 1.0).otherwise(0.0)).as("r50"),
          sum(when($"n_chars" <= $"p90t", 1.0).otherwise(0.0)).as("r90"))
        .select($"source",
          round($"p50_exact", 4).as("p50_exact"),
          round($"p90_exact", 4).as("p90_exact"),
          (abs($"r50" / $"n" - 0.5) <= lit(0.05) + lit(1.0) / $"n")
            .as("p50_ok"),
          (abs($"r90" / $"n" - 0.9) <= lit(0.05) + lit(1.0) / $"n")
            .as("p90_ok"))
        .orderBy($"source")
    },
      """SELECT source,
                round(quantile_cont(n_chars, 0.5), 4) AS p50_exact,
                round(quantile_cont(n_chars, 0.9), 4) AS p90_exact,
                TRUE AS p50_ok, TRUE AS p90_ok
         FROM documents GROUP BY source ORDER BY source"""),

    // interval-overlap join (X148): the two-sided counterpart of q41's
    // as-of and q46's proximity joins — half-open [start, end)
    // intervals, bucketed to an equi-join with canonical-bucket dedup
    // (no distinct). The oracle runs the plain inequality theta-join;
    // this plan runs the bucketed equi-join — same rows proves the
    // rewrite. Intervals: each event lasts `value` minutes.
    Query("q176_interval_overlap", (s, d) => {
      import s.implicits._
      val ev = t(s, d, "events")
      // round, don't truncate: value*6e7 is integral only in decimal —
      // the double product sits 1ulp under (truncation loses 1 µs vs
      // the oracle's rounding CAST)
      def iv(typ: String) = ev.filter($"event_type" === typ)
        .select($"user_id", $"event_id", $"ts".as("s_ts"),
          timestamp_micros(graft.expr.TimeFuncs.tsMicros($"ts") +
            round($"value" * 60000000L).cast("long")).as("e_ts"))
      graft.ops.RangeJoin.intervalOverlapPairs(
          iv("click"), iv("error"), Seq("user_id"), "event_id",
          "s_ts", "e_ts", bucketMicros = 3600000000L)
        .orderBy($"user_id", $"id_a", $"id_b")
    },
      """WITH iv AS (
           SELECT user_id, event_id, event_type,
                  epoch_us(ts) AS s,
                  epoch_us(ts) + CAST(value * 60000000 AS BIGINT) AS e
           FROM events),
         a AS (SELECT * FROM iv WHERE event_type = 'click' AND e > s),
         b AS (SELECT * FROM iv WHERE event_type = 'error' AND e > s)
         SELECT a.user_id AS user_id, a.event_id AS id_a,
                b.event_id AS id_b,
                least(a.e, b.e) - greatest(a.s, b.s) AS overlap_us
         FROM a JOIN b ON a.user_id = b.user_id
                      AND a.s < b.e AND b.s < a.e
         ORDER BY a.user_id, id_a, id_b"""),

    // budget-constrained quality-greedy mixture (X149): fill a hard
    // token budget best-source-first under a per-source share cap —
    // the greedy collapses to one cumulative-sum window over the
    // |sources|-row aggregate (all integer arithmetic), so the oracle
    // replays every allocation exactly, quality heuristic included.
    Query("q177_budget_mixture", (s, d) => {
      import s.implicits._
      graft.llmops.Mixture.budgetAllocate(t(s, d, "documents"),
          tokenBudget = 20000L, maxShare = 0.2)
        .orderBy($"source")
    },
      """WITH q AS (
           SELECT source,
             string_split_regex(lower(trim(text)), '\s+') AS toks,
             length(text) AS n,
             length(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g'))
               AS np,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(string_split_regex(lower(trim(text)), '\s+'))
             END AS ntok
           FROM documents),
         r AS (
           SELECT source, ntok,
             CASE WHEN len(toks) = 0 THEN 0.0
                  ELSE len(list_filter(toks, t -> t IN
                    ('the','and','of','to','a','in','is','that')))::double
                    / len(toks)
             END AS stop_ratio,
             CASE WHEN len(toks) = 0 THEN 0.0
                  ELSE list_sum(list_transform(toks,
                    w -> length(w)))::double / len(toks)
             END AS mwl,
             CASE WHEN n = 0 THEN 0.0 ELSE np::double / n END AS punct,
             n FROM q),
         stats AS (
           SELECT source, count(*) AS n_docs,
             sum(ntok)::BIGINT AS n_tokens,
             round(avg(
               (CASE WHEN n BETWEEN 50 AND 20000 THEN 0.25 ELSE 0.0 END) +
               (CASE WHEN stop_ratio >= 0.01 THEN 0.25 ELSE 0.0 END) +
               (CASE WHEN mwl BETWEEN 2.0 AND 12.0 THEN 0.25 ELSE 0.0 END) +
               (CASE WHEN punct <= 0.1 THEN 0.25 ELSE 0.0 END)), 6)
               AS quality
           FROM r GROUP BY source),
         alloc AS (
           SELECT source, n_docs, n_tokens, quality,
             least(n_tokens, 4000) AS cap,
             coalesce(sum(least(n_tokens, 4000)) OVER (
               ORDER BY quality DESC, source ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0)::BIGINT AS bef
           FROM stats)
         SELECT source, n_docs, n_tokens, quality,
           least(cap, greatest(0, 20000 - bef))::BIGINT AS alloc_tokens,
           CASE WHEN n_tokens > 0
                THEN round(least(cap, greatest(0, 20000 - bef))::double
                  / n_tokens, 6)
                ELSE 0.0 END AS rate
         FROM alloc ORDER BY source"""),

    // 2-D Morton key (X150): the arithmetic behind the Z-order layout
    // (Output.zorderLayout) — five shift-mask spread rounds per
    // dimension, interleaved; the oracle replays every round in SQL
    // bit ops. The layout's pruning payoff is measured in OutputSpec
    // (files whose min/max stats intersect a probe, z-order vs
    // single-column sort).
    Query("q178_zorder_key", (s, d) => {
      import s.implicits._
      t(s, d, "part")
        .select($"p_partkey",
          graft.ops.Output.zorderValue(
            $"p_size", pmod($"p_partkey", lit(256)), 16).as("zval"))
        .orderBy($"p_partkey")
    },
      """WITH s0 AS (
           SELECT p_partkey,
                  least(greatest(CAST(p_size AS BIGINT), 0), 65535) AS a,
                  least(greatest(p_partkey % 256, 0), 65535) AS b
           FROM part),
         s1 AS (SELECT p_partkey,
                  (a | (a << 16)) & 281470681808895 AS a,
                  (b | (b << 16)) & 281470681808895 AS b FROM s0),
         s2 AS (SELECT p_partkey,
                  (a | (a << 8)) & 71777214294589695 AS a,
                  (b | (b << 8)) & 71777214294589695 AS b FROM s1),
         s3 AS (SELECT p_partkey,
                  (a | (a << 4)) & 1085102592571150095 AS a,
                  (b | (b << 4)) & 1085102592571150095 AS b FROM s2),
         s4 AS (SELECT p_partkey,
                  (a | (a << 2)) & 3689348814741910323 AS a,
                  (b | (b << 2)) & 3689348814741910323 AS b FROM s3),
         s5 AS (SELECT p_partkey,
                  (a | (a << 1)) & 6148914691236517205 AS a,
                  (b | (b << 1)) & 6148914691236517205 AS b FROM s4)
         SELECT p_partkey, (a | (b << 1)) AS zval
         FROM s5 ORDER BY p_partkey"""),

    // robust rate anomalies (X151): trailing MEDIAN/MAD instead of
    // q165's mean/stddev — a burst inside the lookback can't inflate
    // the scale estimate and mask the next one. Lower-median keeps
    // the trailing stats integer-exact; the whole scorer (array
    // sort/index HOFs included) replays relationally.
    Query("q179_robust_anomalies", (s, d) => {
      import s.implicits._
      graft.ops.Anomaly.robustRateAnomalies(t(s, d, "events"),
          bucketMillis = 86400000L, lookback = 7, threshold = 2.5)
        .withColumn("is_anomaly", $"is_anomaly".cast("int"))
        .orderBy($"event_type", $"bucket")
    },
      """WITH c AS (
           SELECT event_type, epoch_ms(ts) // 86400000 AS bucket,
                  count(*) AS n
           FROM events GROUP BY 1, 2),
         w AS (
           SELECT event_type, bucket, n,
                  list(n) OVER tw AS hist
           FROM c
           WINDOW tw AS (PARTITION BY event_type ORDER BY bucket
             ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)),
         m AS (
           SELECT event_type, bucket, n, hist,
                  list_sort(hist)[(len(hist) + 1) // 2] AS trail_med
           FROM w),
         d AS (
           SELECT event_type, bucket, n, hist, trail_med,
                  list_sort(list_transform(hist,
                    x -> abs(x - trail_med)))[(len(hist) + 1) // 2]
                    AS trail_mad
           FROM m),
         z AS (
           SELECT event_type, bucket, n, trail_med, trail_mad,
                  CASE WHEN len(hist) >= 3 AND trail_mad > 0
                       THEN (n - trail_med) / (1.4826 * trail_mad)
                  END AS z
           FROM d)
         SELECT event_type, bucket, n, trail_med, trail_mad, z,
                CAST(coalesce(abs(z) >= 2.5, false) AS INTEGER)
                  AS is_anomaly
         FROM z ORDER BY event_type, bucket"""),

    // HITS hubs/authorities (X152): the second centrality axis next to
    // q80's PageRank, 2 mutual-reinforcement rounds, max-normalized
    // (order-independent, hence replayable). Same synthetic graph as
    // q80; the oracle unrolls both rounds.
    Query("q180_hits", (s, d) => {
      import s.implicits._
      val edges = t(s, d, "documents")
        .select($"doc_id".as("src"),
          explode(array((0 until 3).map(k =>
            pmod($"doc_id" * 7919 + lit(k), lit(500))): _*)).as("dst"))
      graft.ops.Hits.hubsAuthorities(edges, iterations = 2)
        .filter($"node" < 40)
        .select($"node", round($"hub", 4).as("hub"),
          round($"authority", 4).as("authority"))
        .orderBy($"node")
    },
      """WITH e AS (
           SELECT DISTINCT doc_id AS src, (doc_id * 7919 + k) % 500 AS dst
           FROM documents, (VALUES (0), (1), (2)) AS ks(k)),
         nodes AS (
           SELECT src AS node FROM e UNION SELECT dst FROM e),
         a1r AS (
           SELECT n.node, coalesce(x.c, 0)::DOUBLE AS s
           FROM nodes n LEFT JOIN (
             SELECT dst, count(*)::DOUBLE AS c FROM e GROUP BY dst) x
             ON x.dst = n.node),
         a1 AS (
           SELECT node, CASE WHEN (SELECT max(s) FROM a1r) > 0
             THEN s / (SELECT max(s) FROM a1r) ELSE 0 END AS s FROM a1r),
         h1r AS (
           SELECT n.node, coalesce(x.c, 0) AS s
           FROM nodes n LEFT JOIN (
             SELECT e.src, sum(a1.s) AS c FROM e
             JOIN a1 ON a1.node = e.dst GROUP BY e.src) x
             ON x.src = n.node),
         h1 AS (
           SELECT node, CASE WHEN (SELECT max(s) FROM h1r) > 0
             THEN s / (SELECT max(s) FROM h1r) ELSE 0 END AS s FROM h1r),
         a2r AS (
           SELECT n.node, coalesce(x.c, 0) AS s
           FROM nodes n LEFT JOIN (
             SELECT e.dst, sum(h1.s) AS c FROM e
             JOIN h1 ON h1.node = e.src GROUP BY e.dst) x
             ON x.dst = n.node),
         a2 AS (
           SELECT node, CASE WHEN (SELECT max(s) FROM a2r) > 0
             THEN s / (SELECT max(s) FROM a2r) ELSE 0 END AS s FROM a2r),
         h2r AS (
           SELECT n.node, coalesce(x.c, 0) AS s
           FROM nodes n LEFT JOIN (
             SELECT e.src, sum(a2.s) AS c FROM e
             JOIN a2 ON a2.node = e.dst GROUP BY e.src) x
             ON x.src = n.node),
         h2 AS (
           SELECT node, CASE WHEN (SELECT max(s) FROM h2r) > 0
             THEN s / (SELECT max(s) FROM h2r) ELSE 0 END AS s FROM h2r)
         SELECT n.node, round(h2.s, 4) AS hub, round(a2.s, 4) AS authority
         FROM nodes n
         JOIN h2 ON h2.node = n.node
         JOIN a2 ON a2.node = n.node
         WHERE n.node < 40 ORDER BY n.node"""),

    // content-defined chunking (X153): the boundary RULE (a Gear
    // rolling hash) is not SQL-expressible, so the q89/q104-style
    // contract applies — the chunk table is dumped and BOTH engines
    // verify the same relational invariants against it: exact byte
    // coverage, contiguity, and the min/max bounds per document. The
    // CDC-defining properties (shift resistance, edit locality) are
    // pinned in CdcSpec.
    Query("q181_cdc_chunks", (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, d, "documents").select($"doc_id", $"text")
      val chunks = graft.llmops.Cdc.cdcChunks(docs)
        .select($"doc_id", $"chunk_idx",
          $"start".as("c_start"), $"len".as("c_len"))
      materialize(chunks, "q181_chunks")
      val wc = Window.partitionBy($"doc_id")
      val wo = Window.partitionBy($"doc_id").orderBy($"chunk_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
      chunks
        .withColumn("__n", count(lit(1)).over(wc))
        .withColumn("__bef", coalesce(sum($"c_len").over(wo), lit(0L)))
        .groupBy($"doc_id")
        .agg(max($"__n").as("n_chunks"),
          sum($"c_len").as("sum_len"),
          max(abs($"c_start" - $"__bef")).as("__drift"),
          max($"c_len").as("max_len"),
          min(when($"chunk_idx" < $"__n" - 1, $"c_len")).as("__minnf"))
        .join(docs, Seq("doc_id"))
        .select($"doc_id", $"n_chunks",
          ($"sum_len" === octet_length($"text")).cast("int").as("cover_ok"),
          ($"__drift" === 0).cast("int").as("contiguous_ok"),
          ($"max_len" <= 256).cast("int").as("max_ok"),
          coalesce($"__minnf" >= 16, lit(true)).cast("int").as("min_ok"))
        .orderBy($"doc_id")
    },
      s"""WITH ch AS (
           SELECT * FROM
           read_parquet('$scratch/q181_chunks/*.parquet')),
         w AS (
           SELECT doc_id, chunk_idx, c_start, c_len,
                  count(*) OVER (PARTITION BY doc_id) AS n,
                  coalesce(sum(c_len) OVER (PARTITION BY doc_id
                    ORDER BY chunk_idx
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS bef
           FROM ch),
         agg AS (
           SELECT doc_id, max(n) AS n_chunks,
                  sum(c_len)::BIGINT AS sum_len,
                  max(abs(c_start - bef)) AS drift,
                  max(c_len) AS max_len,
                  min(CASE WHEN chunk_idx < n - 1 THEN c_len END)
                    AS min_nonfinal
           FROM w GROUP BY doc_id)
         SELECT a.doc_id, n_chunks,
                CAST(sum_len = strlen(d.text) AS INTEGER)
                  AS cover_ok,
                CAST(drift = 0 AS INTEGER) AS contiguous_ok,
                CAST(max_len <= 256 AS INTEGER) AS max_ok,
                CAST(coalesce(min_nonfinal >= 16, true) AS INTEGER)
                  AS min_ok
         FROM agg a JOIN documents d ON d.doc_id = a.doc_id
         ORDER BY a.doc_id"""),

    // triangle counting (X154): degree-ordered orientation — every
    // undirected edge points from the smaller (degree, id) endpoint to
    // the larger, so wedge fan-out is bounded by O(sqrt(m)) out-degree
    // and each triangle closes in exactly ONE orientation (no
    // distinct, no /3). The oracle replays the orientation, the wedge
    // join, and the closure with row-value comparisons.
    Query("q182_triangles", (s, d) => {
      import s.implicits._
      val edges = t(s, d, "documents").filter($"doc_id" < 2000)
        .select($"doc_id".as("src"),
          explode(array(
            pmod($"doc_id" + 1, lit(500)),
            pmod($"doc_id" + 2, lit(500)),
            pmod($"doc_id" * 7919 + 5, lit(500)))).as("dst"))
      graft.ops.Triangles.triangleCounts(edges)
        .withColumn("coefficient", round($"coefficient", 4))
        .orderBy($"node")
    },
      """WITH raw AS (
           SELECT doc_id AS src, (doc_id + 1) % 500 AS dst
           FROM documents WHERE doc_id < 2000
           UNION ALL
           SELECT doc_id, (doc_id + 2) % 500
           FROM documents WHERE doc_id < 2000
           UNION ALL
           SELECT doc_id, (doc_id * 7919 + 5) % 500
           FROM documents WHERE doc_id < 2000),
         canon AS (
           SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
           FROM raw WHERE src <> dst),
         deg AS (
           SELECT node, count(*) AS degree FROM (
             SELECT u AS node FROM canon
             UNION ALL SELECT v FROM canon)
           GROUP BY node),
         o AS (
           SELECT CASE WHEN (du.degree, c.u) < (dv.degree, c.v)
                       THEN c.u ELSE c.v END AS a,
                  CASE WHEN (du.degree, c.u) < (dv.degree, c.v)
                       THEN c.v ELSE c.u END AS b,
                  CASE WHEN (du.degree, c.u) < (dv.degree, c.v)
                       THEN dv.degree ELSE du.degree END AS db
           FROM canon c
           JOIN deg du ON du.node = c.u
           JOIN deg dv ON dv.node = c.v),
         tri AS (
           SELECT l.a, l.b, r.b AS c
           FROM o l
           JOIN o r ON l.a = r.a AND (l.db, l.b) < (r.db, r.b)
           JOIN o e ON e.a = l.b AND e.b = r.b),
         per AS (
           SELECT node, count(*) AS triangles FROM (
             SELECT a AS node FROM tri
             UNION ALL SELECT b FROM tri
             UNION ALL SELECT c FROM tri)
           GROUP BY node)
         SELECT d.node, d.degree,
                coalesce(p.triangles, 0) AS triangles,
                round(CASE WHEN d.degree >= 2
                  THEN 2.0 * coalesce(p.triangles, 0)
                       / (d.degree * (d.degree - 1)) END, 4) AS coefficient
         FROM deg d LEFT JOIN per p ON p.node = d.node
         ORDER BY d.node"""),

    // event transition matrix (X155): first-order Markov counts and
    // probabilities from per-user ordered streams, (ts, event_id)
    // tiebreak, gap-cut pairs dropped. One lead window per user over
    // slim rows; the normalization window runs over the ≤|types|²
    // matrix. The oracle replays the window, the cut, and the
    // normalization.
    Query("q183_transitions", (s, d) => {
      import s.implicits._
      graft.ops.Paths.transitionMatrix(t(s, d, "events"),
          maxGapMillis = 86400000L)
        .withColumn("p", round($"p", 4))
        .orderBy($"prev_type", $"next_type")
    },
      """WITH seq AS (
           SELECT event_type AS prev_type,
                  lead(event_type) OVER w AS next_type,
                  epoch_us(lead(ts) OVER w) - epoch_us(ts) AS gap_us
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         c AS (
           SELECT prev_type, next_type, count(*) AS n
           FROM seq
           WHERE next_type IS NOT NULL AND gap_us < 86400000000
           GROUP BY 1, 2)
         SELECT prev_type, next_type, n,
                round(n / sum(n) OVER (PARTITION BY prev_type), 4) AS p
         FROM c ORDER BY prev_type, next_type"""),

    // rendezvous sharding (X156): argmax over shards of
    // md5(key:shard:seed) — fleet growth 8→9 moves only the docs the
    // NEW shard wins (every off-diagonal row with shard8 ≠ shard9 has
    // shard9 = 8, visible in the matrix below; pmod would scatter
    // them). Scalar projection, no shuffle; the oracle replays the
    // argmax per key for both fleet sizes.
    Query("q184_rendezvous", (s, d) => {
      import s.implicits._
      val key = $"doc_id".cast("string")
      t(s, d, "documents").select(
          graft.llmops.Splits.rendezvousShard(key, 8, "s")
            .cast("long").as("shard8"),
          graft.llmops.Splits.rendezvousShard(key, 9, "s")
            .cast("long").as("shard9"))
        .groupBy($"shard8", $"shard9").agg(count(lit(1)).as("n_docs"))
        .orderBy($"shard8", $"shard9")
    },
      """WITH w8 AS (
           SELECT doc_id, s, row_number() OVER (PARTITION BY doc_id
             ORDER BY md5(doc_id::VARCHAR || ':' || s::VARCHAR || ':s')
               DESC, s DESC) AS rn
           FROM documents, generate_series(0, 7) t(s)),
         s8 AS (SELECT doc_id, s AS shard8 FROM w8 WHERE rn = 1),
         w9 AS (
           SELECT doc_id, s, row_number() OVER (PARTITION BY doc_id
             ORDER BY md5(doc_id::VARCHAR || ':' || s::VARCHAR || ':s')
               DESC, s DESC) AS rn
           FROM documents, generate_series(0, 8) t(s)),
         s9 AS (SELECT doc_id, s AS shard9 FROM w9 WHERE rn = 1)
         SELECT shard8, shard9, count(*) AS n_docs
         FROM s8 JOIN s9 USING (doc_id)
         GROUP BY 1, 2 ORDER BY 1, 2"""),

    // encoding-damage signals (X157): replacement chars, C0/C1
    // controls, canonical UTF-8-as-cp1252 mojibake digraphs, and the
    // per-char damage ratio. The synthetic corpus is clean, so damage
    // is PLANTED closed-form from doc_id arithmetic (the q22 zh
    // pattern) — the oracle plants the identical bytes via chr() and
    // replays every count with the same RE2 classes.
    Query("q185_encoding_damage", (s, d) => {
      import s.implicits._
      val tf = graft.llmops.TextFuncs
      val planted = t(s, d, "documents").select($"doc_id",
        when(pmod($"doc_id", lit(7)) === 0,
          concat($"text", lit(" Ã©Ã¤ â€œq �")))
        .when(pmod($"doc_id", lit(11)) === 0,
          concat($"text", lit(" Â x")))
        .otherwise($"text").as("text"))
      planted.select($"doc_id",
          tf.replacementCharCount($"text").cast("long").as("n_repl"),
          tf.controlCharCount($"text").cast("long").as("n_ctrl"),
          tf.mojibakeCount($"text").cast("long").as("n_moji"),
          round(tf.encodingDamageRatio($"text"), 6).as("damage"))
        .orderBy($"doc_id")
    },
      """WITH planted AS (
           SELECT doc_id,
             CASE WHEN doc_id % 7 = 0
                  THEN text || ' Ã©Ã¤ â€œq ' || chr(65533)
                  WHEN doc_id % 11 = 0
                  THEN text || chr(1) || chr(2) || ' Â' || chr(160) || 'x'
                  ELSE text END AS text
           FROM documents),
         c AS (
           SELECT doc_id,
             len(regexp_extract_all(text, '\x{FFFD}')) AS n_repl,
             len(regexp_extract_all(text,
               '[\x{00}-\x{08}\x{0B}\x{0C}\x{0E}-\x{1F}\x{7F}-\x{9F}]'))
               AS n_ctrl,
             len(regexp_extract_all(text,
               'Ã©|Ã¤|Ã¶|Ã¼|Ã±|Ã¡|Ã³|Ã¨|Â' || chr(160) || '|Â |â€'))
               AS n_moji,
             length(text) AS n_chars
           FROM planted)
         SELECT doc_id, n_repl, n_ctrl, n_moji,
                round(CASE WHEN n_chars = 0 THEN 0.0
                      ELSE (n_repl + n_ctrl + n_moji) / n_chars::DOUBLE
                      END, 6) AS damage
         FROM c ORDER BY doc_id"""),

    // per-source unigram KL divergence (X158): which ingest source
    // drifted from the corpus mix — add-one smoothing over the top-V
    // vocabulary makes every cell finite and the whole statistic
    // integer-counts + one ln, replayed exactly by the oracle
    // (including the ZERO cells, which carry the drift evidence).
    Query("q186_source_divergence", (s, d) => {
      import s.implicits._
      graft.llmops.TextFuncs.sourceDivergence(
          t(s, d, "documents"), topV = 100)
        .withColumn("kl", round($"kl", 6))
        .orderBy($"source")
    },
      """WITH words AS (
           SELECT source,
                  unnest(string_split_regex(lower(trim(text)), '\s+'))
                    AS term
           FROM documents),
         wf AS (SELECT source, term FROM words WHERE term <> ''),
         vocab AS (
           SELECT term, n_w FROM (
             SELECT term, count(*) AS n_w FROM wf GROUP BY 1
             ORDER BY n_w DESC, term LIMIT 100)),
         by_src AS (
           SELECT source, term, count(*) AS n_sw
           FROM wf JOIN vocab USING (term) GROUP BY 1, 2),
         src_tot AS (
           SELECT source, CAST(sum(n_sw) AS BIGINT) AS ns
           FROM by_src GROUP BY 1),
         corpus AS (
           SELECT CAST(sum(n_w) AS BIGINT) AS nc,
                  count(*) AS v FROM vocab),
         cells AS (
           SELECT st.source, st.ns, v.term, v.n_w,
                  coalesce(b.n_sw, 0) AS n_sw
           FROM src_tot st CROSS JOIN vocab v
           LEFT JOIN by_src b
             ON b.source = st.source AND b.term = v.term)
         SELECT c.source, max(c.ns) AS n_hits,
                round(sum(
                  ((c.n_sw + 1) / (c.ns + corpus.v)::DOUBLE) *
                  ln(((c.n_sw + 1) / (c.ns + corpus.v)::DOUBLE) /
                     ((c.n_w + 1) / (corpus.nc + corpus.v)::DOUBLE))),
                  6) AS kl
         FROM cells c CROSS JOIN corpus
         GROUP BY c.source ORDER BY c.source"""),

    // exact containment join (X159): ordered pairs where a's shingle
    // set is ≥ t inside b's — the quote/wrapper detector Jaccard is
    // blind to (a 10-word quote in a 200-word page has Jaccard ~0.04
    // but containment 1.0). One-sided prefix filter against FULL
    // postings; the oracle replays prefix, candidates, and the i/na
    // verify stage for stage.
    Query("q187_containment_join", (s, d) => {
      import s.implicits._
      graft.llmops.Dedup.containmentJoinExact(t(s, d, "documents"),
          threshold = 0.6, n = 3)
        .select($"id_a", $"id_b",
          round($"containment", 4).as("containment"))
        .orderBy($"id_a", $"id_b")
    },
      """WITH tf AS (
           SELECT id, term FROM (
             SELECT doc_id AS id,
                    unnest(list_distinct(list_transform(
                      generate_series(1, greatest(len(l) - 2, 1)),
                      i -> array_to_string(
                             list_slice(l, i, i + 2), ' ')))) AS term
             FROM (SELECT doc_id,
                          string_split_regex(lower(trim(text)), '\s+')
                            AS l
                   FROM documents))
           WHERE term <> ''),
         dfx AS (SELECT term, count(*) AS dfc FROM tf GROUP BY 1),
         ranked AS (
           SELECT t.id, t.term, d.dfc,
                  count(*) OVER (PARTITION BY t.id) AS n,
                  row_number() OVER (PARTITION BY t.id
                    ORDER BY d.dfc, t.term) AS pos
           FROM tf t JOIN dfx d USING (term)),
         prefix AS (
           SELECT id, term, n FROM ranked
           WHERE pos <= n - ceil(CAST(0.6 AS DOUBLE) * n) + 1),
         cand AS (
           SELECT DISTINCT a.id AS id_a, b.id AS id_b
           FROM prefix a JOIN ranked b ON a.term = b.term
             AND a.id <> b.id
             AND CAST(0.6 AS DOUBLE) * a.n <= b.n),
         inter AS (
           SELECT c.id_a, c.id_b, count(*) AS i
           FROM cand c
           JOIN tf ta ON ta.id = c.id_a
           JOIN tf tb ON tb.id = c.id_b AND tb.term = ta.term
           GROUP BY 1, 2),
         nsz AS (SELECT id, count(*) AS n FROM tf GROUP BY 1)
         SELECT i.id_a, i.id_b,
                round(i.i::DOUBLE / na.n, 4) AS containment
         FROM inter i
         JOIN nsz na ON na.id = i.id_a
         WHERE i.i::DOUBLE / na.n >= CAST(0.6 AS DOUBLE)
         ORDER BY id_a, id_b"""),

    // funnel time-to-convert (X160): per adjacent step pair, the lag
    // distribution over converting users — count, mean, min/max, and
    // EXACT interpolated p50/p90 (the reporting tier; the t-digest
    // tier answers the same at sketch cost). Inherits q153's
    // conversion chain; the oracle replays chain, lags, and both
    // interpolated percentiles (quantile_cont ≡ Spark percentile).
    Query("q188_funnel_lags", (s, d) => {
      import s.implicits._
      graft.ops.Funnels.conversionLags(t(s, d, "events"),
          Seq("view", "click", "purchase"))
        .withColumn("mean_ms", round($"mean_ms", 4))
        .withColumn("p50_ms", round($"p50_ms", 4))
        .withColumn("p90_ms", round($"p90_ms", 4))
        .orderBy($"step")
    },
      """WITH e AS (
           SELECT user_id, epoch_ms(ts) AS ms, event_type FROM events),
         s1 AS (
           SELECT user_id, min(ms) AS ts_1
           FROM e WHERE event_type = 'view' GROUP BY 1),
         s2 AS (
           SELECT s1.user_id, s1.ts_1,
                  min(CASE WHEN e.ms > s1.ts_1 THEN e.ms END) AS ts_2
           FROM s1 LEFT JOIN e
             ON e.user_id = s1.user_id AND e.event_type = 'click'
           GROUP BY 1, 2),
         s3 AS (
           SELECT s2.user_id, s2.ts_1, s2.ts_2,
                  min(CASE WHEN e.ms > s2.ts_2 THEN e.ms END) AS ts_3
           FROM s2 LEFT JOIN e
             ON e.user_id = s2.user_id AND e.event_type = 'purchase'
           GROUP BY 1, 2, 3),
         lags AS (
           SELECT 1 AS step, 'view' AS from_type, 'click' AS to_type,
                  ts_2 - ts_1 AS lag_ms
           FROM s3 WHERE ts_2 IS NOT NULL
           UNION ALL
           SELECT 2, 'click', 'purchase', ts_3 - ts_2
           FROM s3 WHERE ts_3 IS NOT NULL)
         SELECT step, from_type, to_type, count(*) AS n_users,
                round(avg(lag_ms), 4) AS mean_ms,
                min(lag_ms) AS min_ms, max(lag_ms) AS max_ms,
                round(quantile_cont(lag_ms, 0.5), 4) AS p50_ms,
                round(quantile_cont(lag_ms, 0.9), 4) AS p90_ms
         FROM lags GROUP BY 1, 2, 3 ORDER BY step"""),

    // RAKE keywords (X161): per-doc keyphrases from stopword/punct
    // phrase segmentation, scored by the POOLED Σdeg/Σfreq ratio —
    // one integer division, so the rank order is bit-identical in
    // both engines (canonical RAKE's per-word quotient sum is
    // ULP-order-dependent). Oracle replays segmentation, stats,
    // pooling, and the rank window.
    Query("q189_rake_keywords", (s, d) => {
      import s.implicits._
      graft.llmops.Keywords.rakeKeywords(t(s, d, "documents"), k = 3)
        .select($"doc_id", $"rank".cast("long").as("rank"), $"phrase",
          $"n_words", round($"score", 4).as("score"))
        .orderBy($"doc_id", $"rank", $"phrase")
    },
      """WITH toks AS (
           SELECT id, pos, raw,
                  regexp_replace(raw, '[^a-z0-9'']', '', 'g') AS w
           FROM (
             SELECT doc_id AS id, generate_subscripts(l, 1) - 1 AS pos,
                    unnest(l) AS raw
             FROM (SELECT doc_id,
                          string_split_regex(lower(trim(text)), '\s+')
                            AS l
                   FROM documents))
           WHERE raw <> ''),
         t1 AS (
           SELECT id, pos, w,
                  (w = '' OR w IN ('the','and','of','to','a','in','is',
                    'that','it','for','on','with','as','by','at','an',
                    'be','this','are','was','or','from','but','not',
                    'have','has','had','they','you','we','his','her',
                    'its','their','which','will','would','can','could',
                    'been')) AS brk,
                  regexp_matches(raw, '[.,;:!?]$') AS endp
           FROM toks),
         g1 AS (
           SELECT id, pos, w, brk,
                  sum(CASE WHEN brk THEN 1 ELSE 0 END) OVER
                    (PARTITION BY id ORDER BY pos
                     ROWS UNBOUNDED PRECEDING) +
                  coalesce(sum(CASE WHEN endp THEN 1 ELSE 0 END) OVER
                    (PARTITION BY id ORDER BY pos
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS g
           FROM t1),
         m AS (SELECT id, g, pos, w FROM g1 WHERE NOT brk),
         ph AS (
           SELECT id, g, count(*) AS len,
                  string_agg(w, ' ' ORDER BY pos) AS phrase
           FROM m GROUP BY 1, 2
           HAVING count(*) <= 4),
         mem AS (SELECT m.id, m.g, m.w, ph.phrase, ph.len
                 FROM m JOIN ph USING (id, g)),
         ws AS (SELECT id, w, count(*) AS freq,
                       CAST(sum(len) AS BIGINT) AS deg
                FROM mem GROUP BY 1, 2),
         occ AS (
           SELECT mem.id, mem.g, mem.phrase, mem.len,
                  CAST(sum(ws.deg) AS BIGINT) AS sdeg,
                  CAST(sum(ws.freq) AS BIGINT) AS sfreq
           FROM mem JOIN ws ON ws.id = mem.id AND ws.w = mem.w
           GROUP BY 1, 2, 3, 4),
         pp AS (
           SELECT id, phrase, max(len) AS n_words,
                  max(sdeg) AS sdeg, max(sfreq) AS sfreq
           FROM occ GROUP BY 1, 2),
         rk AS (
           SELECT id, phrase, n_words,
                  sdeg::DOUBLE / sfreq AS score,
                  rank() OVER (PARTITION BY id
                    ORDER BY sdeg::DOUBLE / sfreq DESC, phrase) AS rank
           FROM pp)
         SELECT id AS doc_id, rank, phrase, n_words,
                round(score, 4) AS score
         FROM rk WHERE rank <= 3 ORDER BY doc_id, rank, phrase"""),

    // k-core peel (X162): the peel is iterative (not SQL-expressible
    // without recursion), so the q181 contract applies — the peel
    // table is dumped and BOTH engines verify the three invariants
    // that provably pin it: (1) a node removed in round r had < k
    // surviving neighbors then (⇒ no core node is ever removed),
    // (2) it had ≥ k one round earlier (⇒ rounds are forced), and
    // (3) kept nodes keep ≥ k kept neighbors (⇒ kept ⊆ k-core; with
    // (1), kept = k-core exactly).
    Query("q190_kcore", (s, d) => {
      import s.implicits._
      val k = 4
      val edges = t(s, d, "documents").filter($"doc_id" < 2000)
        .select($"doc_id".as("src"),
          explode(array(
            pmod($"doc_id" + 1, lit(500)),
            pmod($"doc_id" + 2, lit(500)),
            pmod($"doc_id" * 7919 + 5, lit(500)))).as("dst"))
      val canon = edges.select(least($"src", $"dst").as("u"),
          greatest($"src", $"dst").as("v"))
        .filter($"u" =!= $"v").distinct()
      val dump = graft.ops.KCore.kCore(edges, k)
        .select($"node", $"in_core".cast("int").as("in_core"),
          coalesce($"round", lit(0)).as("round"))
      materialize(dump, "q190_core")
      val nb = canon.select($"u".as("node"), $"v".as("nbr"))
        .unionByName(canon.select($"v".as("node"), $"u".as("nbr")))
      val info = dump.select($"node".as("nbr"), $"in_core".as("ic_n"),
        $"round".as("r_n"))
      dump.join(nb, Seq("node"), "left").join(info, Seq("nbr"), "left")
        .groupBy($"node", $"in_core", $"round")
        .agg(
          sum(when($"ic_n" === 1, 1).otherwise(0)).as("kdeg"),
          sum(when($"ic_n" === 1 || $"r_n" >= $"round", 1).otherwise(0))
            .as("sdeg_r"),
          sum(when($"ic_n" === 1 || $"r_n" >= $"round" - 1, 1)
            .otherwise(0)).as("sdeg_rm1"))
        .select($"node", $"in_core", $"round",
          when($"in_core" === 1, $"kdeg" >= k)
            .otherwise($"sdeg_r" < k &&
              ($"round" === 1 || $"sdeg_rm1" >= k))
            .cast("int").as("peel_ok"))
        .orderBy($"node")
    },
      s"""WITH raw AS (
           SELECT doc_id AS src, (doc_id + 1) % 500 AS dst
           FROM documents WHERE doc_id < 2000
           UNION ALL
           SELECT doc_id, (doc_id + 2) % 500
           FROM documents WHERE doc_id < 2000
           UNION ALL
           SELECT doc_id, (doc_id * 7919 + 5) % 500
           FROM documents WHERE doc_id < 2000),
         canon AS (
           SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
           FROM raw WHERE src <> dst),
         core AS (
           SELECT * FROM
           read_parquet('$scratch/q190_core/*.parquet')),
         nb AS (
           SELECT u AS node, v AS nbr FROM canon
           UNION ALL SELECT v, u FROM canon),
         j AS (
           SELECT c.node, c.in_core, c.round,
                  ci.in_core AS ic_n, ci.round AS r_n
           FROM core c
           LEFT JOIN nb ON nb.node = c.node
           LEFT JOIN core ci ON ci.node = nb.nbr),
         f AS (
           SELECT node, in_core, round,
                  sum(CASE WHEN ic_n = 1 THEN 1 ELSE 0 END) AS kdeg,
                  sum(CASE WHEN ic_n = 1 OR r_n >= round
                      THEN 1 ELSE 0 END) AS sdeg_r,
                  sum(CASE WHEN ic_n = 1 OR r_n >= round - 1
                      THEN 1 ELSE 0 END) AS sdeg_rm1
           FROM j GROUP BY 1, 2, 3)
         SELECT node, in_core, round,
                CAST(CASE WHEN in_core = 1 THEN kdeg >= 4
                     ELSE sdeg_r < 4 AND (round = 1 OR sdeg_rm1 >= 4)
                     END AS INTEGER) AS peel_ok
         FROM f ORDER BY node"""),

    // readability (X163): Flesch Reading Ease from the exact-stated
    // vowel-group syllable heuristic — words/sentences/syllables and
    // the formula all replay in RE2 + arithmetic, identical op order
    // in both engines.
    Query("q191_readability", (s, d) => {
      import s.implicits._
      val tf = graft.llmops.TextFuncs
      t(s, d, "documents").select($"doc_id",
          tf.tokenCount($"text").cast("long").as("n_words"),
          tf.sentenceCountApprox($"text").cast("long").as("n_sentences"),
          tf.syllableCountApprox($"text").cast("long").as("n_syllables"),
          round(tf.fleschReadingEase($"text"), 4).as("flesch"))
        .orderBy($"doc_id")
    },
      """WITH c AS (
           SELECT doc_id,
                  CASE WHEN length(trim(text)) = 0 THEN 0
                       ELSE len(string_split_regex(lower(trim(text)),
                                '\s+')) END AS nw,
                  greatest(1, len(regexp_extract_all(text, '[.!?]+')))
                    AS ns,
                  len(regexp_extract_all(lower(text), '[aeiouy]+')) +
                  len(list_filter(
                    string_split_regex(lower(trim(text)), '\s+'),
                    w -> w <> '' AND NOT regexp_matches(w, '[aeiouy]')))
                    AS sy
           FROM documents)
         SELECT doc_id, nw AS n_words, ns AS n_sentences,
                sy AS n_syllables,
                round(CASE WHEN nw = 0 THEN NULL
                      ELSE 206.835 - 1.015 * (nw::DOUBLE / ns)
                           - 84.6 * (sy::DOUBLE / nw) END, 4) AS flesch
         FROM c ORDER BY doc_id"""),

    // cross-source duplication matrix (X164): exact-dup PAIR counts
    // per source pair from per-(hash, source) COUNTS — n·(n−1)/2 on
    // the diagonal, n_a·n_b off it; a million-copy hash costs one
    // multiplication, not a pair join. Fully replayed.
    Query("q192_dup_matrix", (s, d) => {
      import s.implicits._
      // the synthetic corpus has no exact dups (q20 plants its own),
      // so duplication is PLANTED: every third doc is mirrored into
      // "<source>_mirror", every fifteenth twice — giving off-diagonal
      // (origin, mirror) mass and a (mirror, mirror) diagonal
      val docs = t(s, d, "documents")
      val planted = docs.select($"source", $"text")
        .unionByName(docs.filter(pmod($"doc_id", lit(3)) === 0)
          .select(concat($"source", lit("_mirror")).as("source"),
            $"text"))
        .unionByName(docs.filter(pmod($"doc_id", lit(15)) === 0)
          .select(concat($"source", lit("_mirror")).as("source"),
            $"text"))
      graft.llmops.Dedup.crossSourceDupMatrix(planted)
        .orderBy($"source_a", $"source_b")
    },
      """WITH planted AS (
           SELECT source, text FROM documents
           UNION ALL
           SELECT source || '_mirror', text FROM documents
           WHERE doc_id % 3 = 0
           UNION ALL
           SELECT source || '_mirror', text FROM documents
           WHERE doc_id % 15 = 0),
         cs AS (
           SELECT md5(text) AS h, source, count(*) AS n
           FROM planted GROUP BY 1, 2),
         p AS (
           SELECT a.source AS source_a, b.source AS source_b,
                  CASE WHEN a.source = b.source
                       THEN a.n * (a.n - 1) // 2
                       ELSE a.n * b.n END AS pairs
           FROM cs a JOIN cs b
             ON a.h = b.h AND a.source <= b.source)
         SELECT source_a, source_b,
                CAST(sum(pairs) AS BIGINT) AS dup_pairs
         FROM p GROUP BY 1, 2
         HAVING sum(pairs) > 0
         ORDER BY source_a, source_b"""),

    // seasonal anomalies (X166): same z-scorer as q165, but the
    // trailing window partitions on (series, bucket % period) — each
    // Monday scores against past Mondays, so the weekday/weekend
    // swing neither inflates the scale estimate nor fires weekly
    // false alarms. Only the partition key changes; the oracle
    // replays it unchanged.
    Query("q193_seasonal_anomalies", (s, d) => {
      import s.implicits._
      graft.ops.Anomaly.seasonalRateAnomalies(t(s, d, "events"),
          bucketMillis = 86400000L, period = 7, lookback = 4,
          threshold = 1.5)
        .withColumn("trail_mean", round($"trail_mean", 4))
        .withColumn("trail_std", round($"trail_std", 4))
        .withColumn("z", round($"z", 4))
        .withColumn("is_anomaly", $"is_anomaly".cast("int"))
        .orderBy($"event_type", $"bucket")
    },
      """WITH c AS (
           SELECT event_type, epoch_ms(ts) // 86400000 AS bucket,
                  count(*) AS n
           FROM events GROUP BY 1, 2),
         p AS (SELECT event_type, bucket, bucket % 7 AS phase, n FROM c),
         w AS (
           SELECT event_type, bucket, phase, n,
                  count(n) OVER tw AS tn,
                  avg(n) OVER tw AS trail_mean,
                  stddev_samp(n) OVER tw AS trail_std
           FROM p
           WINDOW tw AS (PARTITION BY event_type, phase ORDER BY bucket
             ROWS BETWEEN 4 PRECEDING AND 1 PRECEDING)),
         z AS (
           SELECT event_type, bucket, phase, n, trail_mean, trail_std,
                  CASE WHEN tn >= 3 AND trail_std > 0
                       THEN (n - trail_mean) / trail_std END AS z
           FROM w)
         SELECT event_type, bucket, phase, n,
                round(trail_mean, 4) AS trail_mean,
                round(trail_std, 4) AS trail_std, round(z, 4) AS z,
                CAST(coalesce(abs(z) >= 1.5, false) AS INTEGER)
                  AS is_anomaly
         FROM z ORDER BY event_type, bucket"""),

    // decontamination evidence (X167): which benchmark item leaked
    // into which corpus doc, with the shared-gram count and a
    // deterministic example — the audit trail behind q52/q76's
    // silent drops. Benchmark = every 17th doc's text (planted
    // overlap, the q192 move); n = 3 so partial overlaps appear too.
    Query("q194_decontam_report", (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val bench = docs.filter(pmod($"doc_id", lit(17)) === 0)
        .select(($"doc_id" + 1000000L).as("bench_id"), $"text")
      graft.llmops.Dedup.decontaminationReport(docs, bench, n = 3)
        .orderBy($"doc_id", $"bench_id")
    },
      """WITH grams AS (
           SELECT id, term FROM (
             SELECT doc_id AS id,
                    unnest(list_distinct(list_transform(
                      generate_series(1, greatest(len(l) - 2, 1)),
                      i -> array_to_string(
                             list_slice(l, i, i + 2), ' ')))) AS term
             FROM (SELECT doc_id,
                          string_split_regex(lower(trim(text)), '\s+')
                            AS l
                   FROM documents))
           WHERE term <> ''),
         bench AS (
           SELECT id + 1000000 AS bench_id, term FROM grams
           WHERE id % 17 = 0)
         SELECT g.id AS doc_id, b.bench_id, count(*) AS n_shared,
                min(g.term) AS example_gram
         FROM grams g JOIN bench b ON b.term = g.term
         GROUP BY 1, 2 ORDER BY doc_id, bench_id"""),

    // frontier interleave (X168): (round, slot) sort keys that fetch
    // every host's 1st URL before any host's 2nd with md5-rotated
    // host order per round — per-host politeness spacing as a sort
    // key, no scheduler state. Both windows and the rotation replay.
    Query("q195_frontier", (s, d) => {
      import s.implicits._
      val links = t(s, d, "documents")
        .select(concat(lit("h"), pmod($"doc_id", lit(37))).as("host"),
          concat(lit("https://h"), pmod($"doc_id", lit(37)),
            lit("/"), $"doc_id").as("url"),
          pmod($"doc_id" * 7, lit(11)).as("prio"))
      graft.ops.Frontier.interleaveByHost(links, priorityCol = "prio")
        .select($"url", $"host", $"round", $"slot")
        .orderBy($"url")
    },
      """WITH links AS (
           SELECT 'h' || (doc_id % 37) AS host,
                  'https://h' || (doc_id % 37) || '/' || doc_id AS url,
                  (doc_id * 7) % 11 AS prio
           FROM documents),
         r AS (
           SELECT url, host,
                  row_number() OVER (PARTITION BY host
                    ORDER BY prio DESC, url) AS round
           FROM links)
         SELECT url, host, round,
                md5(host || ':' || round::VARCHAR) AS slot
         FROM r ORDER BY url"""),

    // prefix completions (X169): the autocomplete table — per
    // character prefix, top-k queries by (count desc, query asc),
    // query log = each doc's first two tokens. Dedupe-first, ≤ L
    // prefix rows per distinct query, WindowGroupLimit rank.
    Query("q196_prefix_completions", (s, d) => {
      import s.implicits._
      val tf = graft.llmops.TextFuncs
      val qlog = t(s, d, "documents").select(
        array_join(slice(tf.tokens($"text"), 1, 2), " ").as("q"))
      graft.llmops.Keywords.prefixCompletions(qlog,
          maxPrefixLen = 6, k = 3)
        .select($"prefix", $"rank".cast("long").as("rank"),
          $"completion", $"n")
        .orderBy($"prefix", $"rank", $"completion")
    },
      """WITH ql AS (
           SELECT array_to_string(list_slice(
             string_split_regex(lower(trim(text)), '\s+'), 1, 2), ' ')
             AS q
           FROM documents),
         c AS (
           SELECT lower(trim(q)) AS q, count(*) AS n
           FROM ql WHERE length(lower(trim(q))) > 0 GROUP BY 1),
         p AS (
           SELECT q, n,
                  unnest(list_transform(
                    generate_series(1, least(length(q), 6)),
                    i -> substr(q, 1, i::INTEGER))) AS prefix
           FROM c),
         r AS (
           SELECT prefix, q, n,
                  rank() OVER (PARTITION BY prefix
                    ORDER BY n DESC, q) AS rank
           FROM p)
         SELECT prefix, rank, q AS completion, n
         FROM r WHERE rank <= 3
         ORDER BY prefix, rank, completion"""),

    // top session journeys (X170): ranked ordered sequences of each
    // session's first 4 event types — the q148 session cut + a
    // position window + two roll-ups + TakeOrdered; every stage
    // replays.
    Query("q197_session_paths", (s, d) => {
      import s.implicits._
      graft.ops.Paths.topSessionPaths(t(s, d, "events"),
        gapMillis = 1800000L, maxLen = 4, k = 15)
    },
      """WITH e AS (
           SELECT user_id, event_id, event_type, epoch_ms(ts) AS ms
           FROM events),
         nw AS (
           SELECT user_id, event_id, event_type, ms,
                  CASE WHEN lag(ms) OVER w IS NULL
                         OR ms - lag(ms) OVER w > 1800000
                       THEN 1 ELSE 0 END AS brk
           FROM e WINDOW w AS (PARTITION BY user_id
             ORDER BY ms, event_id)),
         s AS (
           SELECT user_id, event_id, event_type, ms,
                  sum(brk) OVER (PARTITION BY user_id
                    ORDER BY ms, event_id
                    ROWS UNBOUNDED PRECEDING) AS sid
           FROM nw),
         p AS (
           SELECT user_id, sid, event_type,
                  row_number() OVER (PARTITION BY user_id, sid
                    ORDER BY ms, event_id) AS pos
           FROM s),
         paths AS (
           SELECT user_id, sid,
                  string_agg(event_type, ' > ' ORDER BY pos) AS path
           FROM p WHERE pos <= 4 GROUP BY 1, 2),
         c AS (SELECT path, count(*) AS n_sessions
               FROM paths GROUP BY 1)
         SELECT path, n_sessions FROM c
         ORDER BY n_sessions DESC, path LIMIT 15"""),

    // skew report (X171): top heavy keys + exact global distribution
    // stats — the pre-join diagnostic for the X25 salting decision.
    Query("q198_skew_report", (s, d) => {
      import s.implicits._
      graft.ops.Profiling.skewReport(t(s, d, "events"), "user_id",
          k = 10)
        .withColumn("share", round($"share", 6))
        .withColumn("p99_n", round($"p99_n", 4))
        .orderBy($"n".desc, $"key")
    },
      """WITH c AS (
           SELECT user_id AS key, count(*) AS n
           FROM events GROUP BY 1),
         st AS (
           SELECT CAST(sum(n) AS BIGINT) AS n_rows,
                  count(*) AS n_keys, max(n) AS max_n,
                  quantile_cont(n, 0.99) AS p99_n
           FROM c),
         top AS (SELECT key, n FROM c ORDER BY n DESC, key LIMIT 10)
         SELECT t.key, t.n,
                round(t.n / st.n_rows::DOUBLE, 6) AS share,
                st.n_rows, st.n_keys, st.max_n,
                round(st.p99_n, 4) AS p99_n
         FROM top t CROSS JOIN st
         ORDER BY t.n DESC, t.key"""),

    // CDC latest-wins merge (X172): fold planted upserts + deletes
    // into the customer snapshot — one union + one max_by on the
    // key, the lakehouse MERGE as a relational aggregate. The oracle
    // replays resolution with a row_number over the same order key.
    Query("q199_cdc_merge", (s, d) => {
      import s.implicits._
      val cust = t(s, d, "customer")
      val snap = cust.select($"c_custkey", $"c_name", $"c_acctbal",
        lit(100L).as("v"))
      val ups = cust.filter(pmod($"c_custkey", lit(5)) === 0)
        .select($"c_custkey", concat($"c_name", lit("-v2")).as("c_name"),
          ($"c_acctbal" + 100).as("c_acctbal"), lit(200L).as("v"),
          lit("u").as("op"))
      val dels = cust.filter(pmod($"c_custkey", lit(11)) === 0)
        .select($"c_custkey", $"c_name", $"c_acctbal",
          lit(300L).as("v"), lit("d").as("op"))
      graft.ops.Merge.applyChanges(snap, ups.unionByName(dels),
          Seq("c_custkey"), "v")
        .orderBy($"c_custkey")
    },
      """WITH snap AS (
           SELECT c_custkey, c_name, c_acctbal,
                  100::BIGINT AS v, 'u' AS op, 0 AS origin
           FROM customer),
         ups AS (
           SELECT c_custkey, c_name || '-v2', c_acctbal + 100,
                  200::BIGINT, 'u', 1
           FROM customer WHERE c_custkey % 5 = 0),
         dels AS (
           SELECT c_custkey, c_name, c_acctbal,
                  300::BIGINT, 'd', 1
           FROM customer WHERE c_custkey % 11 = 0),
         allr AS (
           SELECT * FROM snap
           UNION ALL SELECT * FROM ups
           UNION ALL SELECT * FROM dels),
         w AS (
           SELECT *, row_number() OVER (PARTITION BY c_custkey
             ORDER BY v DESC, origin DESC, c_name DESC,
                      c_acctbal DESC, op DESC) AS rn
           FROM allr)
         SELECT c_custkey, c_name, c_acctbal, v
         FROM w WHERE rn = 1 AND op <> 'd'
         ORDER BY c_custkey"""),

    // personalized PageRank (X173): teleport mass returns to the
    // seed set only (TrustRank) — spam interlinking cannot
    // manufacture paths FROM the seeds. Same q80 graph, seeds =
    // nodes 0..9, 2 rounds unrolled by the oracle.
    Query("q200_personalized_pagerank", (s, d) => {
      import s.implicits._
      val edges = t(s, d, "documents")
        .select($"doc_id".as("src"),
          explode(array((0 until 3).map(k =>
            pmod($"doc_id" * 7919 + lit(k), lit(500))): _*)).as("dst"))
      val seeds = s.range(0, 10).select($"id".as("node"))
      graft.ops.PageRank.personalizedRanks(edges, seeds, iterations = 2)
        .filter($"node" < 60)
        .select($"node", round($"rank", 4).as("rank"))
        .orderBy($"node")
    },
      """WITH e AS (
           SELECT DISTINCT doc_id AS src, (doc_id * 7919 + k) % 500 AS dst
           FROM documents, (VALUES (0), (1), (2)) AS ks(k)),
         nodes AS (
           SELECT src AS node FROM e UNION SELECT dst FROM e),
         deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
         tele AS (
           SELECT node,
                  CASE WHEN node < 10 THEN 0.15 ELSE 0.0 END AS tp
           FROM nodes),
         r0 AS (SELECT node, tp AS rank FROM tele),
         c1 AS (SELECT e.dst AS node, sum(r0.rank / deg.deg) AS m
                FROM e JOIN deg USING (src) JOIN r0 ON r0.node = e.src
                GROUP BY e.dst),
         r1 AS (SELECT tele.node, tele.tp + 0.85 * coalesce(c1.m, 0)
                  AS rank
                FROM tele LEFT JOIN c1 ON c1.node = tele.node),
         c2 AS (SELECT e.dst AS node, sum(r1.rank / deg.deg) AS m
                FROM e JOIN deg USING (src) JOIN r1 ON r1.node = e.src
                GROUP BY e.dst),
         r2 AS (SELECT tele.node, tele.tp + 0.85 * coalesce(c2.m, 0)
                  AS rank
                FROM tele LEFT JOIN c2 ON c2.node = tele.node)
         SELECT node, round(rank, 4) AS rank
         FROM r2 WHERE node < 60 ORDER BY node""")
  )
}
