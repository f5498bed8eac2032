package graft
package queries

import org.apache.spark.sql.functions._

import graft.SparkEntry.{materialize, scratch, t}

/** Queries q251–q270, in number order: each body with its DuckDB
  * oracle and lifecycle flag (see [[Query]]). */
object Q251to270 {

  val all: Seq[Query] = Seq(
    // ops Cohen's kappa (X226): lang as rater A, a deterministically
    // perturbed copy as rater B (every 7th item disagrees to 'zz',
    // every 13th is unlabeled and must be excluded) — the
    // chance-corrected agreement arithmetic replays exactly.
    Query("q251_cohen_kappa", (s, d) => {
      import s.implicits._
      val items = t(s, d, "documents")
        .filter($"doc_id" < 500 && $"lang".isNotNull)
        .select($"doc_id", $"lang".as("rater_a"),
          when($"doc_id" % 13 === 0, lit(null).cast("string"))
            .otherwise(when($"doc_id" % 7 === 0, lit("zz"))
              .otherwise($"lang")).as("rater_b"))
      graft.ops.Labeling.cohenKappa(items, "rater_a", "rater_b")
    },
      // Cohen's kappa: marginal products over the label space; kappa
      // from the ROUNDED po/pe exactly as the engine computes it
      """WITH lab AS (
           SELECT lang AS a,
                  CASE WHEN doc_id % 7 = 0 THEN 'zz' ELSE lang END AS b
           FROM documents
           WHERE doc_id < 500 AND lang IS NOT NULL
             AND doc_id % 13 <> 0),
         base AS (
           SELECT count(*)::BIGINT AS n_items,
                  round(avg(CASE WHEN a = b THEN 1.0 ELSE 0.0
                    END)::DOUBLE, 4) AS po
           FROM lab),
         ma AS (SELECT a AS lbl, count(*) AS na FROM lab GROUP BY 1),
         mb AS (SELECT b AS lbl, count(*) AS nb FROM lab GROUP BY 1),
         pr AS (
           SELECT coalesce(sum(na * nb), 0)::BIGINT AS ab
           FROM ma JOIN mb USING (lbl)),
         f AS (
           SELECT n_items, po,
                  round(ab / (n_items * n_items)::DOUBLE, 4) AS pe
           FROM base, pr)
         SELECT n_items, po, pe,
                CASE WHEN pe < 1.0
                  THEN round((po - pe) / (1.0 - pe), 4) END AS kappa
         FROM f"""),

    // llmops ROUGE-N (X227): candidate = first 30 tokens (emptied for
    // every 17th doc — the zero-denominator path), reference = tokens
    // 11..40, so overlap is a real partial window; clipped bag
    // bigram counts replay from the same tokenization.
    Query("q252_rouge_n", (s, d) => {
      import s.implicits._
      val T = graft.llmops.TextFuncs
      val base = t(s, d, "documents")
        .filter($"doc_id" < 300 && $"text".isNotNull)
        .select($"doc_id",
          when($"doc_id" % 17 === 0, lit(""))
            .otherwise(concat_ws(" ", slice(T.tokens($"text"), 1, 30)))
            .as("candidate"),
          concat_ws(" ", slice(T.tokens($"text"), 11, 30))
            .as("reference"))
      graft.llmops.Rouge.rougeN(base, n = 2).orderBy($"doc_id")
    },
      // ROUGE-N: same tokenization, clipped bag bigrams, rounded
      // metrics in the same order (f1 from the rounded p/r)
      """WITH toks AS (
           SELECT doc_id,
                  list_filter(string_split_regex(lower(trim(
                    regexp_replace(text,
                    '([\x{0e00}-\x{0e7f}\x{0e80}-\x{0eff}\x{1000}-\x{109f}\x{1780}-\x{17ff}\x{3040}-\x{30ff}\x{3400}-\x{4dbf}\x{4e00}-\x{9fff}\x{f900}-\x{faff}])',
                    ' \1 ', 'g'))), '\s+'), t -> t <> '') AS tk
           FROM documents WHERE doc_id < 300 AND text IS NOT NULL),
         prs AS (
           SELECT doc_id,
                  CASE WHEN doc_id % 17 = 0 THEN []
                       ELSE tk[1:30] END AS ct,
                  tk[11:40] AS rt
           FROM toks),
         cg AS (
           SELECT doc_id, ct[i.i] || ' ' || ct[i.i + 1] AS g,
                  count(*) AS nc
           FROM prs, unnest(generate_series(1, len(ct) - 1)) AS i(i)
           GROUP BY 1, 2),
         rg AS (
           SELECT doc_id, rt[i.i] || ' ' || rt[i.i + 1] AS g,
                  count(*) AS nr
           FROM prs, unnest(generate_series(1, len(rt) - 1)) AS i(i)
           GROUP BY 1, 2),
         j AS (
           SELECT coalesce(cg.doc_id, rg.doc_id) AS doc_id,
                  coalesce(nc, 0) AS nc, coalesce(nr, 0) AS nr
           FROM cg FULL OUTER JOIN rg
             ON cg.doc_id = rg.doc_id AND cg.g = rg.g),
         ag AS (
           SELECT doc_id, sum(nc)::BIGINT AS n_cand,
                  sum(nr)::BIGINT AS n_ref,
                  sum(least(nc, nr))::BIGINT AS overlap
           FROM j GROUP BY 1),
         f AS (
           SELECT p.doc_id,
                  coalesce(n_cand, 0)::BIGINT AS n_cand,
                  coalesce(n_ref, 0)::BIGINT AS n_ref,
                  coalesce(overlap, 0)::BIGINT AS overlap
           FROM prs p LEFT JOIN ag ON p.doc_id = ag.doc_id),
         m AS (
           SELECT doc_id, n_cand, n_ref, overlap,
                  round(CASE WHEN n_cand > 0
                    THEN overlap / n_cand::DOUBLE ELSE 0 END, 4)
                    AS "precision",
                  round(CASE WHEN n_ref > 0
                    THEN overlap / n_ref::DOUBLE ELSE 0 END, 4)
                    AS recall
           FROM f)
         SELECT doc_id, n_cand, n_ref, overlap, "precision", recall,
                round(CASE WHEN "precision" + recall > 0
                  THEN 2.0 * "precision" * recall /
                       ("precision" + recall) ELSE 0 END, 4) AS f1
         FROM m ORDER BY doc_id"""),

    // llmops chat-transcript audit (X228): conversations synthesized
    // as real JSON (2-5 turns; every 5th breaks alternation, every
    // 7th has an empty opening turn, every 13th+1 opens with a
    // SYSTEM turn — unknown-role mass, every 19th+3 is a valid empty
    // transcript, every 23rd is malformed JSON), DUMPED, and
    // re-audited by DuckDB's own JSON functions — a cross-engine
    // parse, not a mirror of our parse.
    Query("q253_chat_audit", (s, d) => {
      import s.implicits._
      val T = graft.llmops.TextFuncs
      val base = t(s, d, "documents")
        .filter($"doc_id" < 60 && $"text".isNotNull)
      val toks = T.tokens($"text")
      val nT = ($"doc_id" % 4 + 2).cast("int")
      val turns = transform(sequence(lit(0), nT - 1), i => struct(
        when($"doc_id" % 13 === 1 && i === 0, lit("system"))
          .otherwise(when($"doc_id" % 5 === 0 && i === 1, lit("user"))
            .otherwise(when(i % 2 === 0, "user").otherwise("assistant")))
          .as("role"),
        when($"doc_id" % 7 === 0 && i === 0, lit(""))
          .otherwise(concat_ws(" ",
            slice(toks, i * lit(5) + 1, lit(4)))).as("content")))
      val convos = base.select($"doc_id".as("convo_id"),
        when($"doc_id" % 23 === 0, lit("{not json"))
          .when($"doc_id" % 19 === 3, lit("[]"))
          .otherwise(to_json(turns)).as("convo_json"))
      materialize(convos, "q253_convos")
      graft.llmops.Chat.transcriptAudit(convos).orderBy($"convo_id")
    },
      // chat audit: DuckDB's OWN JSON functions re-parse the dumped
      // transcripts — a cross-engine parse, not a mirror
      s"""WITH c AS (
           SELECT convo_id, convo_json,
                  json_valid(convo_json) AS parsed
           FROM read_parquet(
             '$scratch/q253_convos/*.parquet')),
         d AS (
           SELECT convo_id, i.i AS i,
                  json_extract_string(convo_json,
                    '$$[' || i.i || '].role') AS role,
                  json_extract_string(convo_json,
                    '$$[' || i.i || '].content') AS content
           FROM c, unnest(generate_series(0,
             CASE WHEN parsed
               THEN json_array_length(convo_json)::INT - 1
               ELSE -1 END)) AS i(i)),
         w AS (
           SELECT *, lag(role) OVER (PARTITION BY convo_id ORDER BY i)
                       AS prev
           FROM d),
         ag AS (
           SELECT convo_id,
                  count(*)::INT AS n_turns,
                  max(CASE WHEN i = 0 AND role = 'user'
                    THEN 1 ELSE 0 END) = 1 AS starts_with_user,
                  sum(CASE WHEN i > 0
                    AND role IS NOT DISTINCT FROM prev
                    THEN 1 ELSE 0 END) = 0 AS alternates,
                  sum(CASE WHEN content IS NULL OR content = ''
                    THEN 1 ELSE 0 END)::INT AS n_empty,
                  sum(CASE WHEN role = 'user' THEN length(content)
                    ELSE 0 END)::BIGINT AS user_chars,
                  sum(CASE WHEN role = 'assistant'
                    THEN length(content) ELSE 0 END)::BIGINT
                    AS assistant_chars,
                  sum(CASE WHEN role IS NULL
                    OR role NOT IN ('user', 'assistant')
                    THEN coalesce(length(content), 0) ELSE 0
                    END)::BIGINT AS other_chars,
                  sum(CASE WHEN role IS NULL
                    OR role NOT IN ('user', 'assistant')
                    THEN 1 ELSE 0 END)::INT AS n_unknown_role
           FROM w GROUP BY 1)
         SELECT c.convo_id, c.parsed,
                -- coalesce: a valid empty '[]' transcript has no turn
                -- rows, but audits as zero turns, not null
                CASE WHEN parsed THEN coalesce(n_turns, 0) END
                  AS n_turns,
                CASE WHEN parsed
                  THEN coalesce(starts_with_user, false) END
                  AS starts_with_user,
                CASE WHEN parsed THEN coalesce(alternates, true) END
                  AS alternates,
                CASE WHEN parsed THEN coalesce(n_empty, 0) END
                  AS n_empty,
                CASE WHEN parsed THEN coalesce(user_chars, 0) END
                  AS user_chars,
                CASE WHEN parsed THEN coalesce(assistant_chars, 0) END
                  AS assistant_chars,
                CASE WHEN parsed THEN coalesce(other_chars, 0) END
                  AS other_chars,
                CASE WHEN parsed THEN coalesce(n_unknown_role, 0) END
                  AS n_unknown_role
         FROM c LEFT JOIN ag USING (convo_id)
         ORDER BY convo_id"""),

    // llmops Burrows' Delta (X229): function-word z-score geometry
    // between the corpus sources; vocab head, dense grid with genuine
    // zeros, and population-sd z-scores all replay relationally.
    Query("q254_burrows_delta", (s, d) => {
      import s.implicits._
      graft.llmops.Stylometry.burrowsDelta(t(s, d, "documents"),
          k = 40, groupCol = "source")
        .orderBy($"group_a", $"group_b")
    },
      // Burrows' Delta: vocab head (count desc, term), dense grid with
      // genuine zeros, population-sd z-scores, pairwise mean |dz|
      """WITH tok AS (
           SELECT source AS g,
                  unnest(string_split_regex(lower(trim(regexp_replace(
                    text,
                    '([\x{0e00}-\x{0e7f}\x{0e80}-\x{0eff}\x{1000}-\x{109f}\x{1780}-\x{17ff}\x{3040}-\x{30ff}\x{3400}-\x{4dbf}\x{4e00}-\x{9fff}\x{f900}-\x{faff}])',
                    ' \1 ', 'g'))), '\s+')) AS w
           FROM documents
           WHERE text IS NOT NULL AND source IS NOT NULL),
         gw AS (
           SELECT g, w, count(*) AS n
           FROM tok WHERE w <> '' GROUP BY 1, 2),
         voc AS (
           SELECT w FROM (
             SELECT w, sum(n) AS tot,
                    row_number() OVER (ORDER BY sum(n) DESC, w) AS rk
             FROM gw GROUP BY w) WHERE rk <= 40),
         gt AS (SELECT g, sum(n) AS gtot FROM gw GROUP BY 1),
         grid AS (
           SELECT gt.g, voc.w,
                  coalesce(gw.n, 0) / gt.gtot::DOUBLE AS f
           FROM gt CROSS JOIN voc
           LEFT JOIN gw ON gw.g = gt.g AND gw.w = voc.w),
         st AS (
           SELECT w, avg(f) AS mu, stddev_pop(f) AS sd
           FROM grid GROUP BY 1),
         z AS (
           SELECT grid.g, grid.w,
                  CASE WHEN sd > 0 THEN (f - mu) / sd ELSE 0 END AS z
           FROM grid JOIN st USING (w))
         SELECT a.g AS group_a, b.g AS group_b,
                round(avg(abs(a.z - b.z)), 4) AS delta
         FROM z a JOIN z b ON a.w = b.w AND a.g < b.g
         GROUP BY 1, 2 ORDER BY 1, 2"""),

    // llmops split-leakage audit (X230): hash-banded train/val/test
    // assignment with planted near-copies of train docs labeled test
    // — the audit must count exactly the straddling near-dup pairs;
    // oracle replays the grouping from the dumped LSH edges.
    Query("q255_split_leakage", (s, d) => {
      import s.implicits._
      val docs0 = t(s, d, "documents").where($"text".isNotNull)
        .select($"doc_id", $"text")
      val base = docs0.withColumn("split",
        when($"doc_id" % 10 < 8, "train")
          .when($"doc_id" % 10 === 8, "val").otherwise("test"))
      val planted = docs0.filter($"doc_id" < 20 && $"doc_id" % 10 < 8)
        .select(($"doc_id" + 700000).as("doc_id"), $"text",
          lit("test").as("split"))
      val all = base.unionByName(planted)
      materialize(graft.llmops.Dedup.minhashPairs(all, threshold = 0.8)
        .select($"id_a", $"id_b"), "q255_edges")
      graft.llmops.Dedup.splitLeakage(all, threshold = 0.8)
        .orderBy($"split_a", $"split_b")
    },
      // split leakage: grouping replayed from the dumped LSH edges +
      // the same split derivation (planted copies carry id >= 700000)
      s"""WITH e AS (
           SELECT id_a, id_b FROM read_parquet(
             '$scratch/q255_edges/*.parquet')),
         ids AS (
           SELECT id_a AS id FROM e UNION SELECT id_b FROM e),
         sp AS (
           SELECT id,
                  CASE WHEN id >= 700000 THEN 'test'
                       WHEN id % 10 < 8 THEN 'train'
                       WHEN id % 10 = 8 THEN 'val'
                       ELSE 'test' END AS s
           FROM ids),
         p AS (
           SELECT least(sa.s, sb.s) AS split_a,
                  greatest(sa.s, sb.s) AS split_b
           FROM e JOIN sp sa ON sa.id = e.id_a
                  JOIN sp sb ON sb.id = e.id_b)
         SELECT split_a, split_b, count(*)::BIGINT AS n_pairs,
                split_a <> split_b AS straddling
         FROM p GROUP BY 1, 2 ORDER BY 1, 2"""),

    // llmops keep-policy exact dedup (X232): copies planted under
    // HIGHER ids must win under the keep-newest policy (the inverse
    // of q20's keep-lowest baseline) — struct-max argmax per content
    // group, replayed with a row_number window in the oracle.
    Query("q256_keep_policy_dedup", (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents").where($"text".isNotNull)
        .select($"doc_id", $"text")
      val dup = docs.unionByName(
        docs.filter($"doc_id" % 3 === 0)
          .select(($"doc_id" + 800000).as("doc_id"), $"text"))
      graft.llmops.Dedup.exactKeepBy(dup, orderCol = "doc_id")
        .select($"doc_id").orderBy($"doc_id")
    },
      // keep-policy dedup: max (order, id) per content group
      """WITH dup AS (
           SELECT doc_id, text FROM documents WHERE text IS NOT NULL
           UNION ALL
           SELECT doc_id + 800000, text FROM documents
           WHERE text IS NOT NULL AND doc_id % 3 = 0)
         SELECT max(doc_id) AS doc_id FROM dup
         GROUP BY md5(text) ORDER BY doc_id"""),

    // ops crawl politeness audit (X231): the events ledger read as
    // per-host fetches — consecutive-gap stats and floor violations
    // replay through the same lag window.
    Query("q257_politeness_audit", (s, d) => {
      import s.implicits._
      val fetches = t(s, d, "events")
        .select(concat(lit("h"), ($"user_id" % 40).cast("string"))
          .as("host"), $"ts")
      graft.ops.Recrawl.politenessAudit(fetches,
          minGapMillis = 60000L)
        .orderBy($"host")
    },
      // politeness audit: the same lag window over epoch-ms per host
      """WITH f AS (
           SELECT 'h' || (user_id % 40)::VARCHAR AS host,
                  epoch_ms(ts) AS ms
           FROM events),
         g AS (
           SELECT host, ms,
                  ms - lag(ms) OVER (PARTITION BY host ORDER BY ms)
                    AS gap
           FROM f),
         a AS (
           SELECT host, count(*)::BIGINT AS n_fetches,
                  count(gap)::BIGINT AS n_gaps,
                  min(gap)::BIGINT AS min_gap_ms,
                  round(avg(gap), 4) AS mean_gap_ms,
                  coalesce(sum(CASE WHEN gap < 60000 THEN 1
                    ELSE 0 END), 0)::BIGINT AS n_violations
           FROM g GROUP BY 1)
         SELECT host, n_fetches, n_gaps, min_gap_ms, mean_gap_ms,
                n_violations, n_violations = 0 AS ok
         FROM a ORDER BY host"""),

    // ops Krippendorff's alpha (X233): three raters in long format —
    // one perturbed every 7th item, one MISSING every 11th and
    // divergent every 13th — the coincidence-matrix arithmetic
    // (pairable units, D_o, D_e) replays exactly.
    Query("q258_krippendorff_alpha", (s, d) => {
      import s.implicits._
      val items = t(s, d, "documents")
        .filter($"doc_id" < 400 && $"lang".isNotNull)
        .select($"doc_id", explode(array(
          $"lang",
          when($"doc_id" % 7 === 0, lit("zz")).otherwise($"lang"),
          when($"doc_id" % 11 === 0, lit(null).cast("string"))
            .otherwise(when($"doc_id" % 13 === 0, lit("yy"))
              .otherwise($"lang")))).as("label"))
      graft.ops.Labeling.krippendorffAlpha(items, "doc_id", "label")
    },
      // Krippendorff: coincidence-matrix arithmetic; alpha from the
      // UNROUNDED D_o/D_e, displayed values 4dp
      """WITH lab AS (
           SELECT doc_id AS u, unnest([
             lang,
             CASE WHEN doc_id % 7 = 0 THEN 'zz' ELSE lang END,
             CASE WHEN doc_id % 11 = 0 THEN NULL
                  WHEN doc_id % 13 = 0 THEN 'yy'
                  ELSE lang END]) AS c
           FROM documents WHERE doc_id < 400 AND lang IS NOT NULL),
         l2 AS (SELECT u, c FROM lab WHERE c IS NOT NULL),
         nuc AS (SELECT u, c, count(*) AS nuc FROM l2 GROUP BY 1, 2),
         mu AS (SELECT u, sum(nuc) AS mu FROM nuc GROUP BY 1),
         units AS (
           SELECT nuc.u, nuc.c, nuc.nuc, mu.mu
           FROM nuc JOIN mu USING (u) WHERE mu >= 2),
         d AS (
           SELECT coalesce(sum(nuc * (mu - nuc) / (mu - 1)::DOUBLE),
                    0) AS donum,
                  coalesce(sum(nuc), 0)::BIGINT AS n
           FROM units),
         e AS (
           SELECT coalesce(sum(nc * nc), 0)::BIGINT AS nc2
           FROM (SELECT c, sum(nuc) AS nc FROM units GROUP BY 1)),
         f AS (
           SELECT n AS n_pairable,
                  CASE WHEN n >= 2 THEN donum / n END AS dov,
                  CASE WHEN n >= 2 THEN
                    (n * n - nc2)::DOUBLE / (n * (n - 1)) END AS dev
           FROM d, e)
         SELECT n_pairable, round(dov, 4) AS d_o, round(dev, 4) AS d_e,
                CASE WHEN dev > 0
                  THEN round(1.0 - dov / dev, 4) END AS alpha
         FROM f"""),

    // llmops ROUGE-L (X234): same candidate/reference windows as
    // q252 but graded by ORDER — the per-pair LCS kernel value is
    // dumped, and the oracle rebuilds token counts with its OWN
    // tokenizer and replays the metric arithmetic (the kernel itself
    // is spec-pinned against a reference recursion).
    Query("q259_rouge_l", (s, d) => {
      import s.implicits._
      val T = graft.llmops.TextFuncs
      val base = t(s, d, "documents")
        .filter($"doc_id" < 300 && $"text".isNotNull)
        .select($"doc_id",
          when($"doc_id" % 17 === 0, lit(""))
            .otherwise(concat_ws(" ", slice(T.tokens($"text"), 1, 30)))
            .as("candidate"),
          concat_ws(" ", slice(T.tokens($"text"), 11, 30))
            .as("reference"))
      val res = graft.llmops.Rouge.rougeL(base).orderBy($"doc_id")
      materialize(res.select($"doc_id", $"lcs"), "q259_lcs")
      res
    },
      // ROUGE-L: token counts from DuckDB's own tokenization, LCS from
      // the dumped kernel values, metric arithmetic replayed
      raw"""WITH toks AS (
           SELECT doc_id,
                  list_filter(string_split_regex(lower(trim(
                    regexp_replace(text,
                    '([\x{0e00}-\x{0e7f}\x{0e80}-\x{0eff}\x{1000}-\x{109f}\x{1780}-\x{17ff}\x{3040}-\x{30ff}\x{3400}-\x{4dbf}\x{4e00}-\x{9fff}\x{f900}-\x{faff}])',
                    ' \1 ', 'g'))), '\s+'), t -> t <> '') AS tk
           FROM documents WHERE doc_id < 300 AND text IS NOT NULL),
         prs AS (
           SELECT doc_id,
                  CASE WHEN doc_id % 17 = 0 THEN []
                       ELSE tk[1:30] END AS ct,
                  tk[11:40] AS rt
           FROM toks),
         l AS (
           SELECT doc_id, lcs FROM read_parquet(
             '$scratch/q259_lcs/*.parquet')),
         m AS (
           SELECT p.doc_id, len(ct)::BIGINT AS n_cand,
                  len(rt)::BIGINT AS n_ref, l.lcs::BIGINT AS lcs
           FROM prs p JOIN l ON p.doc_id = l.doc_id),
         r AS (
           SELECT doc_id, n_cand, n_ref, lcs,
                  round(CASE WHEN n_cand > 0
                    THEN lcs / n_cand::DOUBLE ELSE 0 END, 4)
                    AS "precision",
                  round(CASE WHEN n_ref > 0
                    THEN lcs / n_ref::DOUBLE ELSE 0 END, 4) AS recall
           FROM m)
         SELECT doc_id, n_cand, n_ref, lcs, "precision", recall,
                round(CASE WHEN "precision" + recall > 0
                  THEN 2.0 * "precision" * recall /
                       ("precision" + recall) ELSE 0 END, 4) AS f1
         FROM r ORDER BY doc_id"""),

    // ops weighted kappa (X235): 1..5 Likert scores from n_chars,
    // rater B one step high every 7th item and three every 11th
    // (clamped to the scale), unlabeled every 13th — the
    // distance-priced chance correction replays through the
    // marginal grid.
    Query("q260_weighted_kappa", (s, d) => {
      import s.implicits._
      val items = t(s, d, "documents")
        .filter($"doc_id" < 500 && $"n_chars".isNotNull)
        .select($"doc_id",
          ($"n_chars" % 5 + 1).cast("int").as("rater_a"))
        .withColumn("rater_b",
          when($"doc_id" % 13 === 0, lit(null).cast("int"))
            .otherwise(least(
              $"rater_a" + when($"doc_id" % 11 === 0, 3)
                .otherwise(when($"doc_id" % 7 === 0, 1).otherwise(0)),
              lit(5))))
      graft.ops.Labeling.weightedKappa(items, "rater_a", "rater_b")
    },
      // weighted kappa: observed/expected disagreement mass under the
      // span-normalized quadratic weight, marginal grid from the
      // confusion matrix
      """WITH lab AS (
           SELECT (n_chars % 5 + 1)::INT AS a,
                  least((n_chars % 5 + 1)
                    + CASE WHEN doc_id % 11 = 0 THEN 3
                           WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END,
                    5)::INT AS b
           FROM documents
           WHERE doc_id < 500 AND n_chars IS NOT NULL
             AND doc_id % 13 <> 0),
         base AS (
           SELECT count(*)::BIGINT AS n,
                  (max(greatest(a, b)) - min(least(a, b)))::DOUBLE
                    AS span
           FROM lab),
         dobs AS (
           SELECT coalesce(sum(CASE WHEN span > 0
             THEN ((a - b) / span) * ((a - b) / span)
             ELSE 0 END), 0) AS dnum
           FROM lab, base),
         ma AS (SELECT a AS v, count(*) AS na FROM lab GROUP BY 1),
         mb AS (SELECT b AS v, count(*) AS nb FROM lab GROUP BY 1),
         dexp AS (
           SELECT coalesce(sum(na::DOUBLE * nb * CASE WHEN span > 0
             THEN ((ma.v - mb.v) / span) * ((ma.v - mb.v) / span)
             ELSE 0 END), 0) AS enum
           FROM ma, mb, base),
         f AS (
           SELECT n, round(dnum / n, 4) AS d_o,
                  round(enum / (n::DOUBLE * n), 4) AS d_e
           FROM base, dobs, dexp)
         SELECT n AS n_items, d_o, d_e,
                CASE WHEN d_e > 0
                  THEN round(1.0 - d_o / d_e, 4) END AS kappa_w
         FROM f"""),

    // ops interval Krippendorff (X236): numeric 1..7 scores, rater 2
    // one step high every 7th item, rater 3 missing every 11th and
    // three steps off every 13th — the squared-difference coincidence
    // arithmetic (per-unit moment sums) replays exactly.
    Query("q261_alpha_interval", (s, d) => {
      import s.implicits._
      val base = ($"n_chars" % 7 + 1).cast("double")
      val items = t(s, d, "documents")
        .filter($"doc_id" < 400 && $"n_chars".isNotNull)
        .select($"doc_id", explode(array(
          base,
          base + when($"doc_id" % 7 === 0, 1.0).otherwise(0.0),
          when($"doc_id" % 11 === 0, lit(null).cast("double"))
            .otherwise(base + when($"doc_id" % 13 === 0, 3.0)
              .otherwise(0.0)))).as("score"))
      graft.ops.Labeling.krippendorffAlphaInterval(items,
        "doc_id", "score")
    },
      // interval Krippendorff: per-unit moment sums (the pairwise
      // squared differences collapse to 2(m*S2 - S1^2)), alpha from
      // the unrounded ratios
      """WITH lab AS (
           SELECT doc_id AS u, unnest([
             (n_chars % 7 + 1)::DOUBLE,
             (n_chars % 7 + 1)::DOUBLE
               + CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END,
             CASE WHEN doc_id % 11 = 0 THEN NULL
                  ELSE (n_chars % 7 + 1)::DOUBLE
                    + CASE WHEN doc_id % 13 = 0 THEN 3 ELSE 0 END
                  END]) AS v
           FROM documents WHERE doc_id < 400 AND n_chars IS NOT NULL),
         l2 AS (SELECT u, v FROM lab WHERE v IS NOT NULL),
         pu AS (
           SELECT u, count(*)::BIGINT AS m, sum(v) AS s1,
                  sum(v * v) AS s2
           FROM l2 GROUP BY 1 HAVING count(*) >= 2),
         g AS (
           SELECT coalesce(sum(m), 0)::BIGINT AS n,
                  coalesce(sum(2.0 * (m * s2 - s1 * s1) / (m - 1)), 0)
                    AS donum,
                  coalesce(sum(s1), 0) AS gs1,
                  coalesce(sum(s2), 0) AS gs2
           FROM pu),
         f AS (
           SELECT n AS n_pairable,
                  CASE WHEN n >= 2 THEN donum / n END AS dov,
                  CASE WHEN n >= 2 THEN
                    2.0 * (n * gs2 - gs1 * gs1) / (n * (n - 1)) END
                    AS dev
           FROM g)
         SELECT n_pairable, round(dov, 4) AS d_o, round(dev, 4) AS d_e,
                CASE WHEN dev > 0
                  THEN round(1.0 - dov / dev, 4) END AS alpha
         FROM f"""),

    // llmops actionable split leakage (X230): same planted
    // train→test near-copies as q255, but listing WHICH
    // (id, id, split, split) pairs straddle — the quarantine list;
    // oracle replays the pairing + split derivation from the dumped
    // LSH edges.
    Query("q262_leakage_pairs", (s, d) => {
      import s.implicits._
      val docs0 = t(s, d, "documents").where($"text".isNotNull)
        .select($"doc_id", $"text")
      val base = docs0.withColumn("split",
        when($"doc_id" % 10 < 8, "train")
          .when($"doc_id" % 10 === 8, "val").otherwise("test"))
      val planted = docs0.filter($"doc_id" < 20 && $"doc_id" % 10 < 8)
        .select(($"doc_id" + 700000).as("doc_id"), $"text",
          lit("test").as("split"))
      val all = base.unionByName(planted)
      materialize(graft.llmops.Dedup.minhashPairs(all, threshold = 0.8)
        .select($"id_a", $"id_b"), "q262_edges")
      graft.llmops.Dedup.splitLeakagePairs(all, threshold = 0.8)
        .orderBy($"id_a", $"id_b")
    },
      // actionable leakage: straddling pairs with splits in id order,
      // replayed from the dumped LSH edges
      s"""WITH e AS (
           SELECT id_a, id_b FROM read_parquet(
             '$scratch/q262_edges/*.parquet')),
         ids AS (
           SELECT id_a AS id FROM e UNION SELECT id_b FROM e),
         sp AS (
           SELECT id,
                  CASE WHEN id >= 700000 THEN 'test'
                       WHEN id % 10 < 8 THEN 'train'
                       WHEN id % 10 = 8 THEN 'val'
                       ELSE 'test' END AS s
           FROM ids)
         SELECT e.id_a, e.id_b, sa.s AS split_a, sb.s AS split_b
         FROM e JOIN sp sa ON sa.id = e.id_a
                JOIN sp sb ON sb.id = e.id_b
         WHERE sa.s <> sb.s
         ORDER BY e.id_a, e.id_b"""),

    // ops Fleiss' kappa (X237): a fixed 3-rater panel over lang
    // labels (rater 2 'zz' every 7th, rater 3 'yy' every 13th);
    // every 11th item gets a FOURTH assignment and must be dropped
    // from the panel arithmetic — pooled-marginal chance replay.
    Query("q263_fleiss_kappa", (s, d) => {
      import s.implicits._
      val r2 = when($"doc_id" % 7 === 0, lit("zz")).otherwise($"lang")
      val r3 = when($"doc_id" % 13 === 0, lit("yy")).otherwise($"lang")
      val items = t(s, d, "documents")
        .filter($"doc_id" < 400 && $"lang".isNotNull)
        .select($"doc_id", explode(
          when($"doc_id" % 11 === 0,
            array($"lang", r2, r3, lit("xx")))
            .otherwise(array($"lang", r2, r3))).as("label"))
      graft.ops.Labeling.fleissKappa(items, "doc_id", "label",
        raters = 3)
    },
      // Fleiss' kappa: pooled-marginal chance over the constant-panel
      // slice; off-panel items dropped and counted
      """WITH src AS (
           SELECT doc_id, lang,
                  CASE WHEN doc_id % 7 = 0 THEN 'zz' ELSE lang END
                    AS r2,
                  CASE WHEN doc_id % 13 = 0 THEN 'yy' ELSE lang END
                    AS r3
           FROM documents WHERE doc_id < 400 AND lang IS NOT NULL),
         lab AS (
           SELECT doc_id AS u,
                  unnest(CASE WHEN doc_id % 11 = 0
                    THEN [lang, r2, r3, 'xx']
                    ELSE [lang, r2, r3] END) AS c
           FROM src),
         nuc AS (SELECT u, c, count(*) AS nuc FROM lab GROUP BY 1, 2),
         mu AS (
           SELECT u, sum(nuc) AS m, sum(nuc * nuc) AS ss
           FROM nuc GROUP BY 1),
         kept AS (SELECT * FROM mu WHERE m = 3),
         base AS (
           SELECT count(*)::BIGINT AS n_items,
                  coalesce(avg((ss - m) / 6.0), 0) AS pbar
           FROM kept),
         drp AS (
           SELECT count(*)::BIGINT AS n_dropped FROM mu WHERE m <> 3),
         pe AS (
           SELECT coalesce(sum(nc * nc), 0)::BIGINT AS nc2 FROM (
             SELECT c, sum(nuc) AS nc
             FROM nuc JOIN kept USING (u) GROUP BY 1)),
         f AS (
           SELECT n_items, n_dropped,
                  CASE WHEN n_items > 0 THEN round(pbar, 4) END
                    AS p_bar,
                  CASE WHEN n_items > 0 THEN round(nc2 /
                    ((n_items * 3.0) * (n_items * 3.0)), 4) END AS p_e
           FROM base, drp, pe)
         SELECT n_items, n_dropped, p_bar, p_e,
                CASE WHEN p_e < 1.0
                  THEN round((p_bar - p_e) / (1.0 - p_e), 4) END
                  AS kappa
         FROM f"""),

    // ops politeness audit with fetch DURATIONS (X231): end-aware
    // gaps (start vs previous END) over the events ledger — long
    // fetches shrink gaps and overlapping fetches go negative,
    // violations the start-to-start q257 audit cannot see.
    Query("q264_politeness_overlap", (s, d) => {
      import s.implicits._
      val fetches = t(s, d, "events")
        .select(concat(lit("h"), ($"user_id" % 40).cast("string"))
          .as("host"), $"ts",
          ($"ts" + make_dt_interval(lit(0), lit(0), lit(0),
            ($"event_id" % 90).cast("double"))).as("end_ts"))
      graft.ops.Recrawl.politenessAudit(fetches,
          minGapMillis = 60000L, endCol = Some("end_ts"))
        .orderBy($"host")
    },
      // end-aware politeness: gaps run start vs previous END per host
      """WITH f AS (
           SELECT 'h' || (user_id % 40)::VARCHAR AS host,
                  epoch_ms(ts) AS ms,
                  epoch_ms(ts) + (event_id % 90) * 1000 AS ems
           FROM events),
         g AS (
           SELECT host, ms,
                  ms - lag(ems) OVER (PARTITION BY host
                    ORDER BY ms, ems) AS gap
           FROM f),
         a AS (
           SELECT host, count(*)::BIGINT AS n_fetches,
                  count(gap)::BIGINT AS n_gaps,
                  min(gap)::BIGINT AS min_gap_ms,
                  round(avg(gap), 4) AS mean_gap_ms,
                  coalesce(sum(CASE WHEN gap < 60000 THEN 1
                    ELSE 0 END), 0)::BIGINT AS n_violations
           FROM g GROUP BY 1)
         SELECT host, n_fetches, n_gaps, min_gap_ms, mean_gap_ms,
                n_violations, n_violations = 0 AS ok
         FROM a ORDER BY host"""),

    // ops Gwet's AC1 (X239): the same rater pair as q251 scored by
    // the prevalence-robust chance term — averaged marginals,
    // random-category gamma_e, AC1 from the rounded pair.
    Query("q265_gwet_ac1", (s, d) => {
      import s.implicits._
      val items = t(s, d, "documents")
        .filter($"doc_id" < 500 && $"lang".isNotNull)
        .select($"doc_id", $"lang".as("rater_a"),
          when($"doc_id" % 13 === 0, lit(null).cast("string"))
            .otherwise(when($"doc_id" % 7 === 0, lit("zz"))
              .otherwise($"lang")).as("rater_b"))
      graft.ops.Labeling.gwetAC1(items, "rater_a", "rater_b")
    },
      // Gwet's AC1: averaged marginals over the label union, the
      // random-category chance term, AC1 from the rounded pair
      """WITH lab AS (
           SELECT lang AS a,
                  CASE WHEN doc_id % 7 = 0 THEN 'zz' ELSE lang END AS b
           FROM documents
           WHERE doc_id < 500 AND lang IS NOT NULL
             AND doc_id % 13 <> 0),
         base AS (
           SELECT count(*)::BIGINT AS n,
                  coalesce(sum(CASE WHEN a = b THEN 1 ELSE 0 END),
                    0)::BIGINT AS ok
           FROM lab),
         ma AS (SELECT a AS lbl, count(*) AS na FROM lab GROUP BY 1),
         mb AS (SELECT b AS lbl, count(*) AS nb FROM lab GROUP BY 1),
         pis AS (
           SELECT lbl, coalesce(na, 0) + coalesce(nb, 0) AS tot
           FROM ma FULL OUTER JOIN mb USING (lbl)),
         g AS (
           SELECT count(*)::BIGINT AS k,
                  coalesce(sum((tot / (2.0 * n)) *
                    (1 - tot / (2.0 * n))), 0) AS sumpi
           FROM pis, base),
         f AS (
           SELECT n AS n_items,
                  round(CASE WHEN n > 0 THEN ok / n::DOUBLE
                    ELSE 0 END, 4) AS po,
                  CASE WHEN n > 0 AND k >= 2
                    THEN round(sumpi / (k - 1), 4) END AS gamma_e
           FROM base, g)
         SELECT n_items, po, gamma_e,
                CASE WHEN gamma_e < 1.0
                  THEN round((po - gamma_e) / (1.0 - gamma_e), 4) END
                  AS ac1
         FROM f"""),

    // ops ordinal Krippendorff (X240): the q261 scores read as RANKS
    // — the marginal-walking difference function (cumulative window,
    // label-pair grid, within-unit pairs) replays relationally.
    Query("q266_alpha_ordinal", (s, d) => {
      import s.implicits._
      val base = ($"n_chars" % 7 + 1).cast("int")
      val items = t(s, d, "documents")
        .filter($"doc_id" < 400 && $"n_chars".isNotNull)
        .select($"doc_id", explode(array(
          base,
          base + when($"doc_id" % 7 === 0, 1).otherwise(0),
          when($"doc_id" % 11 === 0, lit(null).cast("int"))
            .otherwise(base + when($"doc_id" % 13 === 0, 3)
              .otherwise(0)))).as("label"))
      graft.ops.Labeling.krippendorffAlphaOrdinal(items,
        "doc_id", "label")
    },
      // ordinal alpha: cumulative marginal walk, label-pair grid,
      // within-unit pairs; alpha from the unrounded ratios
      """WITH lab AS (
           SELECT doc_id AS u, unnest([
             (n_chars % 7 + 1)::DOUBLE,
             (n_chars % 7 + 1)::DOUBLE
               + CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END,
             CASE WHEN doc_id % 11 = 0 THEN NULL
                  ELSE (n_chars % 7 + 1)::DOUBLE
                    + CASE WHEN doc_id % 13 = 0 THEN 3 ELSE 0 END
                  END]) AS c
           FROM documents WHERE doc_id < 400 AND n_chars IS NOT NULL),
         l2 AS (SELECT u, c FROM lab WHERE c IS NOT NULL),
         nuc AS (SELECT u, c, count(*) AS nuc FROM l2 GROUP BY 1, 2),
         mu AS (SELECT u, sum(nuc) AS m FROM nuc GROUP BY 1),
         units AS (
           SELECT nuc.u, nuc.c, nuc.nuc, mu.m
           FROM nuc JOIN mu USING (u) WHERE m >= 2),
         marg AS (SELECT c, sum(nuc) AS nc FROM units GROUP BY 1),
         cum AS (
           SELECT c, nc, sum(nc) OVER (ORDER BY c) AS cm FROM marg),
         grid AS (
           SELECT a.c AS ca, b.c AS cb, a.nc AS nca, b.nc AS ncb,
                  ((b.cm - a.cm + a.nc)
                    - (a.nc + b.nc) / 2.0) *
                  ((b.cm - a.cm + a.nc)
                    - (a.nc + b.nc) / 2.0) AS d2
           FROM cum a JOIN cum b ON a.c < b.c),
         de AS (
           SELECT coalesce(sum(2.0 * nca * ncb * d2), 0) AS denum
           FROM grid),
         pr AS (
           SELECT coalesce(sum(2.0 * ua.nuc * ub.nuc * g.d2 /
             (ua.m - 1)), 0) AS donum
           FROM units ua JOIN units ub
             ON ua.u = ub.u AND ua.c < ub.c
           JOIN grid g ON g.ca = ua.c AND g.cb = ub.c),
         nn AS (SELECT coalesce(sum(nuc), 0)::BIGINT AS n FROM units),
         f AS (
           SELECT n AS n_pairable,
                  CASE WHEN n >= 2 THEN donum / n END AS dov,
                  CASE WHEN n >= 2
                    THEN denum / (n * (n - 1)) END AS dev
           FROM nn, pr, de)
         SELECT n_pairable, round(dov, 4) AS d_o, round(dev, 4) AS d_e,
                CASE WHEN dev > 0
                  THEN round(1.0 - dov / dev, 4) END AS alpha
         FROM f"""),

    // ops consensus labels (X241): 3-rater majority vote per item —
    // winning label, vote counts, support share; argmax replayed
    // with a row_number window in the oracle.
    Query("q267_consensus_labels", (s, d) => {
      import s.implicits._
      val items = t(s, d, "documents")
        .filter($"doc_id" < 400 && $"lang".isNotNull)
        .select($"doc_id", explode(array(
          $"lang",
          when($"doc_id" % 7 === 0, lit("zz")).otherwise($"lang"),
          when($"doc_id" % 13 === 0, lit("yy")).otherwise($"lang")))
          .as("label"))
      graft.ops.Labeling.consensusLabels(items, "doc_id", "label")
        .orderBy($"doc_id")
    },
      // consensus labels: the struct-argmax replayed with a row_number
      // window (count desc, label desc)
      """WITH lab AS (
           SELECT doc_id, unnest([
             lang,
             CASE WHEN doc_id % 7 = 0 THEN 'zz' ELSE lang END,
             CASE WHEN doc_id % 13 = 0 THEN 'yy' ELSE lang END]) AS c
           FROM documents WHERE doc_id < 400 AND lang IS NOT NULL),
         nuc AS (
           SELECT doc_id, c, count(*) AS n FROM lab GROUP BY 1, 2),
         top AS (
           SELECT doc_id, c AS consensus, n AS votes_top,
                  row_number() OVER (PARTITION BY doc_id
                    ORDER BY n DESC, c DESC) AS rk
           FROM nuc),
         tot AS (
           SELECT doc_id, sum(n)::BIGINT AS n_votes
           FROM nuc GROUP BY 1)
         SELECT t.doc_id, consensus, votes_top::BIGINT AS votes_top,
                n_votes,
                round(votes_top / n_votes::DOUBLE, 4) AS support
         FROM top t JOIN tot USING (doc_id)
         WHERE rk = 1 ORDER BY t.doc_id"""),

    // ops rater outliers (X241): five raters, one ('r5') diverging
    // on every 2nd item — its agreement-with-consensus z-score must
    // flag it while the healthy raters pass.
    Query("q268_rater_outliers", (s, d) => {
      import s.implicits._
      val items = t(s, d, "documents")
        .filter($"doc_id" < 400 && $"lang".isNotNull)
        .select($"doc_id", explode(array(
          struct(lit("r1").as("rater"), $"lang".as("label")),
          struct(lit("r2").as("rater"), $"lang".as("label")),
          struct(lit("r3").as("rater"), $"lang".as("label")),
          struct(lit("r4").as("rater"),
            when($"doc_id" % 7 === 0, lit("zz")).otherwise($"lang")
              .as("label")),
          struct(lit("r5").as("rater"),
            when($"doc_id" % 2 === 0, lit("qq")).otherwise($"lang")
              .as("label")))).as("rl"))
        .select($"doc_id", $"rl.rater".as("rater"),
          $"rl.label".as("label"))
      graft.ops.Labeling.raterOutliers(items, "doc_id", "rater",
          "label", zThresh = 1.5)
        .orderBy($"rater")
    },
      // rater outliers: agreement with the row_number consensus,
      // population z over raters, one-sided flag on the rounded z
      """WITH src AS (
           SELECT doc_id, lang,
                  CASE WHEN doc_id % 7 = 0 THEN 'zz' ELSE lang END
                    AS r4,
                  CASE WHEN doc_id % 2 = 0 THEN 'qq' ELSE lang END
                    AS r5
           FROM documents WHERE doc_id < 400 AND lang IS NOT NULL),
         lab AS (
           SELECT doc_id, u.rater, u.label FROM src,
           unnest([
             {'rater': 'r1', 'label': lang},
             {'rater': 'r2', 'label': lang},
             {'rater': 'r3', 'label': lang},
             {'rater': 'r4', 'label': r4},
             {'rater': 'r5', 'label': r5}]) AS t(u)),
         nuc AS (
           SELECT doc_id, label AS c, count(*) AS n
           FROM lab GROUP BY 1, 2),
         top AS (
           SELECT doc_id, c AS consensus,
                  row_number() OVER (PARTITION BY doc_id
                    ORDER BY n DESC, c DESC) AS rk
           FROM nuc),
         cons AS (SELECT doc_id, consensus FROM top WHERE rk = 1),
         per AS (
           SELECT rater, count(*)::BIGINT AS n_items,
                  avg(CASE WHEN label = consensus THEN 1.0
                    ELSE 0.0 END) AS rate
           FROM lab JOIN cons USING (doc_id)
           GROUP BY 1),
         st AS (
           SELECT avg(rate) AS mu, stddev_pop(rate) AS sd FROM per)
         SELECT rater, n_items, round(rate, 4) AS agree_rate,
                CASE WHEN sd > 0
                  THEN round((rate - mu) / sd, 4) END AS z,
                coalesce(CASE WHEN sd > 0
                  THEN round((rate - mu) / sd, 4) < -1.5 END, false)
                  AS outlier
         FROM per, st ORDER BY rater"""),

    // llmops BLEU-4 (X242): the q252 candidate/reference windows
    // scored by clipped multi-n precisions + brevity penalty — the
    // (id, n, gram) join and the rounded-component chain (nested
    // sqrt geometric mean) replay relationally.
    Query("q269_bleu", (s, d) => {
      import s.implicits._
      val T = graft.llmops.TextFuncs
      val base = t(s, d, "documents")
        .filter($"doc_id" < 300 && $"text".isNotNull)
        .select($"doc_id",
          when($"doc_id" % 17 === 0, lit(""))
            .otherwise(concat_ws(" ", slice(T.tokens($"text"), 1, 30)))
            .as("candidate"),
          concat_ws(" ", slice(T.tokens($"text"), 11, 30))
            .as("reference"))
      graft.llmops.GenEval.bleu(base).orderBy($"doc_id")
    },
      // BLEU-4: clipped multi-n precisions, brevity penalty, geometric
      // mean via nested sqrt from the rounded components
      """WITH toks AS (
           SELECT doc_id,
                  list_filter(string_split_regex(lower(trim(
                    regexp_replace(text,
                    '([\x{0e00}-\x{0e7f}\x{0e80}-\x{0eff}\x{1000}-\x{109f}\x{1780}-\x{17ff}\x{3040}-\x{30ff}\x{3400}-\x{4dbf}\x{4e00}-\x{9fff}\x{f900}-\x{faff}])',
                    ' \1 ', 'g'))), '\s+'), t -> t <> '') AS tk
           FROM documents WHERE doc_id < 300 AND text IS NOT NULL),
         prs AS (
           SELECT doc_id,
                  CASE WHEN doc_id % 17 = 0 THEN []
                       ELSE tk[1:30] END AS ct,
                  tk[11:40] AS rt
           FROM toks),
         cg AS (
           SELECT doc_id, n.n AS n,
                  array_to_string(ct[i.i:i.i + n.n - 1], ' ') AS g,
                  count(*) AS nc
           FROM prs,
                unnest(generate_series(1, 4)) AS n(n),
                unnest(generate_series(1,
                  CASE WHEN len(ct) >= n.n
                    THEN len(ct) - n.n + 1 ELSE 0 END)) AS i(i)
           GROUP BY 1, 2, 3),
         rg AS (
           SELECT doc_id, n.n AS n,
                  array_to_string(rt[i.i:i.i + n.n - 1], ' ') AS g,
                  count(*) AS nr
           FROM prs,
                unnest(generate_series(1, 4)) AS n(n),
                unnest(generate_series(1,
                  CASE WHEN len(rt) >= n.n
                    THEN len(rt) - n.n + 1 ELSE 0 END)) AS i(i)
           GROUP BY 1, 2, 3),
         j AS (
           SELECT coalesce(cg.doc_id, rg.doc_id) AS doc_id,
                  coalesce(cg.n, rg.n) AS n,
                  coalesce(nc, 0) AS nc, coalesce(nr, 0) AS nr
           FROM cg FULL OUTER JOIN rg
             ON cg.doc_id = rg.doc_id AND cg.n = rg.n AND cg.g = rg.g),
         pern AS (
           SELECT doc_id, n,
                  sum(least(nc, nr))::BIGINT AS ov,
                  sum(nc)::BIGINT AS cn, sum(nr)::BIGINT AS rn
           FROM j GROUP BY 1, 2),
         wide AS (
           SELECT doc_id,
                  coalesce(max(CASE WHEN n = 1 THEN cn END),
                    0)::BIGINT AS n_cand,
                  coalesce(max(CASE WHEN n = 1 THEN rn END),
                    0)::BIGINT AS n_ref,
                  round(coalesce(max(CASE WHEN n = 1 THEN
                    CASE WHEN cn > 0 THEN ov / cn::DOUBLE ELSE 0 END
                    END), 0), 4) AS p1,
                  round(coalesce(max(CASE WHEN n = 2 THEN
                    CASE WHEN cn > 0 THEN ov / cn::DOUBLE ELSE 0 END
                    END), 0), 4) AS p2,
                  round(coalesce(max(CASE WHEN n = 3 THEN
                    CASE WHEN cn > 0 THEN ov / cn::DOUBLE ELSE 0 END
                    END), 0), 4) AS p3,
                  round(coalesce(max(CASE WHEN n = 4 THEN
                    CASE WHEN cn > 0 THEN ov / cn::DOUBLE ELSE 0 END
                    END), 0), 4) AS p4
           FROM pern GROUP BY 1),
         w2 AS (
           SELECT *, round(CASE WHEN n_cand = 0 THEN 0
             WHEN n_cand >= n_ref THEN 1
             ELSE exp(1 - n_ref / n_cand::DOUBLE) END, 4) AS bp
           FROM wide),
         f AS (
           SELECT doc_id, n_cand, n_ref, p1, p2, p3, p4, bp,
                  round(bp * sqrt(sqrt(p1 * p2 * p3 * p4)), 4) AS bleu
           FROM w2)
         SELECT p.doc_id,
                coalesce(n_cand, 0)::BIGINT AS n_cand,
                coalesce(n_ref, 0)::BIGINT AS n_ref,
                coalesce(p1, 0.0) AS p1, coalesce(p2, 0.0) AS p2,
                coalesce(p3, 0.0) AS p3, coalesce(p4, 0.0) AS p4,
                coalesce(bp, 0.0) AS bp, coalesce(bleu, 0.0) AS bleu
         FROM prs p LEFT JOIN f USING (doc_id)
         ORDER BY p.doc_id"""),

    // llmops chrF2 (X242): the same pairs scored on character
    // n-grams over whitespace-stripped text — macro-averaged P/R,
    // recall-weighted F; tokenization-robust by construction.
    Query("q270_chrf", (s, d) => {
      import s.implicits._
      val T = graft.llmops.TextFuncs
      val base = t(s, d, "documents")
        .filter($"doc_id" < 300 && $"text".isNotNull)
        .select($"doc_id",
          when($"doc_id" % 17 === 0, lit(""))
            .otherwise(concat_ws(" ", slice(T.tokens($"text"), 1, 30)))
            .as("candidate"),
          concat_ws(" ", slice(T.tokens($"text"), 11, 30))
            .as("reference"))
      graft.llmops.GenEval.chrF(base).orderBy($"doc_id")
    },
      // chrF2: character n-grams over whitespace-stripped text,
      // macro-averaged P/R, recall-weighted F from the rounded pair
      """WITH toks AS (
           SELECT doc_id,
                  list_filter(string_split_regex(lower(trim(
                    regexp_replace(text,
                    '([\x{0e00}-\x{0e7f}\x{0e80}-\x{0eff}\x{1000}-\x{109f}\x{1780}-\x{17ff}\x{3040}-\x{30ff}\x{3400}-\x{4dbf}\x{4e00}-\x{9fff}\x{f900}-\x{faff}])',
                    ' \1 ', 'g'))), '\s+'), t -> t <> '') AS tk
           FROM documents WHERE doc_id < 300 AND text IS NOT NULL),
         prs AS (
           SELECT doc_id,
                  CASE WHEN doc_id % 17 = 0 THEN ''
                       ELSE array_to_string(tk[1:30], '') END AS cs,
                  array_to_string(tk[11:40], '') AS rs
           FROM toks),
         cg AS (
           SELECT doc_id, n.n AS n, substring(cs, i.i, n.n) AS g,
                  count(*) AS nc
           FROM prs,
                unnest(generate_series(1, 6)) AS n(n),
                unnest(generate_series(1,
                  CASE WHEN length(cs) >= n.n
                    THEN length(cs) - n.n + 1 ELSE 0 END)) AS i(i)
           GROUP BY 1, 2, 3),
         rg AS (
           SELECT doc_id, n.n AS n, substring(rs, i.i, n.n) AS g,
                  count(*) AS nr
           FROM prs,
                unnest(generate_series(1, 6)) AS n(n),
                unnest(generate_series(1,
                  CASE WHEN length(rs) >= n.n
                    THEN length(rs) - n.n + 1 ELSE 0 END)) AS i(i)
           GROUP BY 1, 2, 3),
         j AS (
           SELECT coalesce(cg.doc_id, rg.doc_id) AS doc_id,
                  coalesce(cg.n, rg.n) AS n,
                  coalesce(nc, 0) AS nc, coalesce(nr, 0) AS nr
           FROM cg FULL OUTER JOIN rg
             ON cg.doc_id = rg.doc_id AND cg.n = rg.n AND cg.g = rg.g),
         pern AS (
           SELECT doc_id, n,
                  sum(least(nc, nr))::BIGINT AS ov,
                  sum(nc)::BIGINT AS cn, sum(nr)::BIGINT AS rn
           FROM j GROUP BY 1, 2),
         wide AS (
           SELECT doc_id,
                  round(sum(CASE WHEN cn > 0
                    THEN ov / cn::DOUBLE ELSE 0 END) / 6, 4) AS chr_p,
                  round(sum(CASE WHEN rn > 0
                    THEN ov / rn::DOUBLE ELSE 0 END) / 6, 4) AS chr_r
           FROM pern GROUP BY 1),
         f AS (
           SELECT doc_id, chr_p, chr_r,
                  round(CASE WHEN 4 * chr_p + chr_r > 0
                    THEN 5 * chr_p * chr_r / (4 * chr_p + chr_r)
                    ELSE 0 END, 4) AS chrf2
           FROM wide)
         SELECT p.doc_id, coalesce(chr_p, 0.0) AS chr_p,
                coalesce(chr_r, 0.0) AS chr_r,
                coalesce(chrf2, 0.0) AS chrf2
         FROM prs p LEFT JOIN f USING (doc_id)
         ORDER BY p.doc_id""")
  )
}
