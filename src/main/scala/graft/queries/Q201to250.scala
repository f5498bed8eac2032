package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkEntry.{materialize, materializing, scratch, t}

/** Queries q201–q250, in number order: each body with its DuckDB
  * oracle and lifecycle flag (see [[Query]]). */
object Q201to250 {

  val all: Seq[Query] = Seq(
    // per-source rank normalization (X174): percent_rank within
    // source, derived from per-(source, value) cumulative counts
    // (no per-group raw-row window). The ORACLE uses DuckDB's native
    // percent_rank — the engine-native definition cross-validates
    // the relational derivation.
    Query("q201_rank_normalize", (s, d) => {
      import s.implicits._
      val tf = graft.llmops.TextFuncs
      val scored = t(s, d, "documents")
        .select($"doc_id", $"source",
          tf.qualityScore($"text").as("q"))
      graft.llmops.Binning.rankNormalize(scored, "q", "source")
        .select($"doc_id", $"source", round($"q", 4).as("q"),
          round($"rank_norm", 6).as("rank_norm"))
        .orderBy($"doc_id")
    },
      """WITH q AS (
           SELECT doc_id, source,
             string_split_regex(lower(trim(text)), '\s+') AS toks,
             length(text) AS n,
             length(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g'))
               AS np
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
                    ELSE list_sum(list_transform(toks,
                      w -> length(w)))::double / len(toks) END)
                     BETWEEN 2.0 AND 12.0
                   THEN 0.25 ELSE 0.0 END) +
             (CASE WHEN (CASE WHEN n = 0 THEN 0.0
                    ELSE np::double / n END) <= 0.1
                   THEN 0.25 ELSE 0.0 END) AS q
           FROM q)
         SELECT doc_id, source, round(q, 4) AS q,
                round(CASE WHEN count(*) OVER (PARTITION BY source) > 1
                      THEN percent_rank() OVER (PARTITION BY source
                             ORDER BY q)
                      ELSE 0.0 END, 6) AS rank_norm
         FROM r ORDER BY doc_id"""),

    // per-shard export manifest (X175): row count + order-free
    // XOR/SUM fingerprints per shard — the transfer receipt for the
    // q144 export, replayed slice for slice.
    Query("q202_shard_manifest", (s, d) => {
      import s.implicits._
      val export = t(s, d, "documents")
        .select(pmod(conv(substring(md5(
            concat($"doc_id".cast("string"), lit(":shard"))), 1, 4),
            16, 10).cast("long"), lit(16)).as("shard"),
          $"doc_id", $"text")
      graft.llmops.TrainExport.shardManifest(export, "shard",
          Seq("doc_id", "text"))
        .orderBy($"shard")
    },
      """WITH ex AS (
           SELECT ('0x' || substr(md5(doc_id::VARCHAR || ':shard'),
                    1, 4))::BIGINT % 16 AS shard,
                  md5(concat_ws(chr(1), CAST(doc_id AS VARCHAR), text))
                    AS hh
           FROM documents),
         p AS (
           SELECT shard,
                  ('0x' || substr(hh, 9, 12))::BIGINT AS h48,
                  ('0x' || substr(hh, 21, 8))::BIGINT AS h32
           FROM ex)
         SELECT shard, count(*) AS n_rows, bit_xor(h48) AS xor48,
                CAST(sum(h32) AS BIGINT) AS sum32
         FROM p GROUP BY 1 ORDER BY shard"""),

    // cross-source distinct overlap (X176): exact pairwise source
    // Jaccard of text sets from per-(hash, source) distincts — the
    // mirror-detection companion of q192's multiplicity-weighted
    // matrix. A planted mirror source overlaps every origin.
    Query("q203_source_overlap", (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val planted = docs.select($"source", $"text")
        .unionByName(docs.filter(pmod($"doc_id", lit(4)) === 0)
          .select(lit("mirror").as("source"), $"text"))
      graft.llmops.Dedup.crossSourceOverlapMatrix(planted)
        .withColumn("jaccard", round($"jaccard", 6))
        .orderBy($"source_a", $"source_b")
    },
      """WITH planted AS (
           SELECT source, text FROM documents
           UNION ALL
           SELECT 'mirror', text FROM documents WHERE doc_id % 4 = 0),
         hs AS (SELECT DISTINCT md5(text) AS h, source FROM planted),
         tot AS (SELECT source, count(*) AS n FROM hs GROUP BY 1),
         inter AS (
           SELECT a.source AS source_a, b.source AS source_b,
                  count(*) AS n_common
           FROM hs a JOIN hs b ON a.h = b.h AND a.source < b.source
           GROUP BY 1, 2)
         SELECT i.source_a, i.source_b, ta.n AS n_a, tb.n AS n_b,
                i.n_common,
                round(i.n_common
                      / (ta.n + tb.n - i.n_common)::DOUBLE, 6)
                  AS jaccard
         FROM inter i
         JOIN tot ta ON ta.source = i.source_a
         JOIN tot tb ON tb.source = i.source_b
         ORDER BY source_a, source_b"""),

    // functional-dependency audit (X177): does l_orderkey determine
    // l_returnflag (it doesn't — lines of one order return
    // independently), ranked violations with global counts attached.
    // Exact distinct counts: the contract is exact, a sketch would
    // report phantom violations.
    Query("q204_fd_audit", (s, d) => {
      import s.implicits._
      graft.ops.Profiling.fdViolations(t(s, d, "lineitem"),
          Seq("l_orderkey"), "l_returnflag", k = 20)
        .orderBy($"n_rhs_values".desc, $"l_orderkey")
    },
      """WITH g AS (
           SELECT l_orderkey,
                  count(DISTINCT l_returnflag) AS n_rhs_values,
                  count(*) AS n_rows
           FROM lineitem GROUP BY 1),
         st AS (
           SELECT count(*) AS n_groups,
                  CAST(sum(CASE WHEN n_rhs_values > 1
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_violating
           FROM g),
         v AS (
           SELECT * FROM g WHERE n_rhs_values > 1
           ORDER BY n_rhs_values DESC, l_orderkey LIMIT 20)
         SELECT v.l_orderkey, v.n_rhs_values, v.n_rows,
                st.n_groups, st.n_violating
         FROM v CROSS JOIN st
         ORDER BY n_rhs_values DESC, l_orderkey"""),

    // recrawl scheduling (X178): per-URL change-rate estimate from a
    // fetch history (hash-change count over observation span) and
    // the clamped next-fetch time — static pages back off to the max
    // interval, movers poll at span/changes. One lag window + one
    // groupBy; every number integer-exact and replayed.
    Query("q205_recrawl", (s, d) => {
      import s.implicits._
      val hist = t(s, d, "events").select(
        concat(lit("u"), pmod($"user_id", lit(500))).as("url"),
        $"ts", $"event_type".as("content_hash"))
      graft.ops.Recrawl.schedule(hist, minIntervalMillis = 3600000L,
          maxIntervalMillis = 2592000000L)
        .orderBy($"url")
    },
      """WITH o AS (
           SELECT 'u' || (user_id % 500) AS url, epoch_ms(ts) AS ms,
                  event_type AS h
           FROM events),
         c AS (
           SELECT url, ms, h,
                  CASE WHEN lag(h) OVER w IS NOT NULL
                         AND lag(h) OVER w <> h
                       THEN 1 ELSE 0 END AS chg
           FROM o WINDOW w AS (PARTITION BY url ORDER BY ms, h)),
         a AS (
           SELECT url, count(*) AS n_obs,
                  CAST(sum(chg) AS BIGINT) AS n_changes,
                  max(ms) - min(ms) AS span_ms, max(ms) AS last_ms
           FROM c GROUP BY 1),
         i AS (
           SELECT url, n_obs, n_changes, span_ms,
                  least(greatest(
                    CASE WHEN n_changes > 0 THEN span_ms // n_changes
                         ELSE 2592000000 END,
                    3600000), 2592000000) AS interval_ms,
                  last_ms
           FROM a)
         SELECT url, n_obs, n_changes, span_ms, interval_ms,
                last_ms + interval_ms AS next_fetch_ms
         FROM i ORDER BY url"""),

    // head+tail truncation (X179): budget-keep both context ends with
    // a marker; under-budget docs pass bit-identical (the md5 proves
    // it). Pure scalar projection; the oracle re-derives the
    // truncated string and hashes it.
    Query("q206_truncate_tokens", (s, d) => {
      import s.implicits._
      val tf = graft.llmops.TextFuncs
      t(s, d, "documents").select($"doc_id",
          tf.tokenCount($"text").cast("long").as("n_tokens"),
          md5(tf.truncateTokens($"text", 40, 10)).as("trunc_md5"))
        .orderBy($"doc_id")
    },
      """WITH tkn AS (
           SELECT doc_id, text,
                  string_split_regex(trim(text), '\s+') AS toks,
                  CASE WHEN length(trim(text)) = 0 THEN 0
                       ELSE len(string_split_regex(lower(trim(text)),
                                '\s+')) END AS n_tokens
           FROM documents)
         SELECT doc_id, n_tokens,
                md5(CASE WHEN length(trim(text)) = 0 THEN text
                         WHEN len(toks) <= 50 THEN text
                         ELSE array_to_string(
                                list_slice(toks, 1, 40), ' ')
                              || ' ... ' ||
                              array_to_string(
                                list_slice(toks, -10, -1), ' ')
                    END) AS trunc_md5
         FROM tkn ORDER BY doc_id"""),

    // ops label-propagation communities (X180): the synchronous,
    // deterministic LPA variant over the q80 synthetic link graph —
    // per round, every node adopts its neighbors' most frequent
    // previous-round label (tie → smallest). Two rounds; the oracle
    // unrolls both as join + count + argmax, no recursion needed.
    Query("q207_label_propagation", (s, d) => {
      import s.implicits._
      val edges = t(s, d, "documents")
        .select($"doc_id".as("src"),
          explode(array((0 until 3).map(k =>
            pmod($"doc_id" * 7919 + lit(k), lit(500))): _*)).as("dst"))
      graft.ops.Communities.labelPropagation(edges, iterations = 2)
        .orderBy($"node")
    },
      // synchronous LPA, 2 rounds unrolled: vote = most frequent
      // neighbor label, tie -> smallest, isolated keep their own
      """WITH e0 AS (
           SELECT DISTINCT doc_id AS src, (doc_id * 7919 + k) % 500 AS dst
           FROM documents, (VALUES (0), (1), (2)) AS ks(k)),
         canon AS (
           SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
           FROM e0 WHERE src <> dst),
         sym AS (SELECT u, v FROM canon
                 UNION ALL SELECT v, u FROM canon),
         nodes AS (SELECT DISTINCT u AS node FROM sym),
         l0 AS (SELECT node, node AS label FROM nodes),
         v1 AS (SELECT s.u AS node, l.label, count(*) AS n
                FROM sym s JOIN l0 l ON l.node = s.v GROUP BY 1, 2),
         w1 AS (SELECT node, label FROM (
                  SELECT node, label, row_number() OVER (
                    PARTITION BY node ORDER BY n DESC, label ASC) AS rk
                  FROM v1) WHERE rk = 1),
         l1 AS (SELECT n.node, coalesce(w1.label, n.node) AS label
                FROM nodes n LEFT JOIN w1 USING (node)),
         v2 AS (SELECT s.u AS node, l.label, count(*) AS n
                FROM sym s JOIN l1 l ON l.node = s.v GROUP BY 1, 2),
         w2 AS (SELECT node, label FROM (
                  SELECT node, label, row_number() OVER (
                    PARTITION BY node ORDER BY n DESC, label ASC) AS rk
                  FROM v2) WHERE rk = 1)
         SELECT n.node, coalesce(w2.label, n.node) AS label
         FROM nodes n LEFT JOIN w2 USING (node)
         ORDER BY node"""),

    // ops multi-source BFS distances (X181): min hop count from the
    // seed set {doc_id < 5} within 3 hops, undirected; unreachable
    // nodes absent. Oracle: recursive min-dist closure capped at the
    // same depth.
    Query("q208_bfs_distances", (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val edges = docs
        .select($"doc_id".as("src"),
          explode(array((0 until 3).map(k =>
            pmod($"doc_id" * 7919 + lit(k), lit(500))): _*)).as("dst"))
      val seeds = docs.filter($"doc_id" < 5).select($"doc_id".as("node"))
      graft.ops.Bfs.distances(edges, seeds, maxDepth = 3)
        .orderBy($"node")
    },
      """WITH RECURSIVE e0 AS (
           SELECT DISTINCT doc_id AS src, (doc_id * 7919 + k) % 500 AS dst
           FROM documents, (VALUES (0), (1), (2)) AS ks(k)),
         fwd AS (SELECT src AS u, dst AS v FROM e0 WHERE src <> dst),
         sym AS (SELECT u, v FROM fwd UNION SELECT v, u FROM fwd),
         walk(node, dist) AS (
           SELECT doc_id, 0 FROM documents WHERE doc_id < 5
           UNION
           SELECT s.v, walk.dist + 1
           FROM walk JOIN sym s ON s.u = walk.node
           WHERE walk.dist < 3)
         SELECT node, min(dist) AS dist FROM walk
         GROUP BY node ORDER BY node"""),

    // ops first/last-touch attribution (X182): per-channel conversion
    // credit under both models, one RANGE window per user — never a
    // conversions×touches self-join. Oracle mirrors the window with
    // the (ms, id) order encoded as ms*100000+event_id (valid at
    // oracle scale; the engine side uses a struct, scale-safe).
    Query("q209_attribution", (s, d) => {
      import s.implicits._
      graft.ops.Attribution.report(t(s, d, "events"),
          touchTypes = Seq("view", "click"), conversionType = "purchase",
          lookbackMillis = 7L * 24 * 3600 * 1000)
        .orderBy($"model", $"touch_type")
    },
      // first/last touch via the same RANGE window; (ms, id) order
      // encoded as ms*100000+event_id (event_id < 100000 at oracle SF)
      """WITH ev AS (
           SELECT event_id, user_id, event_type, epoch_ms(ts) AS ms
           FROM events),
         coded AS (
           SELECT *, CASE WHEN event_type IN ('view', 'click')
                          THEN ms * 100000 + event_id END AS tcode
           FROM ev),
         pick AS (
           SELECT event_id, event_type,
                  min(tcode) OVER w AS fcode,
                  max(tcode) OVER w AS lcode
           FROM coded
           WINDOW w AS (PARTITION BY user_id ORDER BY ms
             RANGE BETWEEN 604800000 PRECEDING AND CURRENT ROW)),
         conv AS (SELECT * FROM pick WHERE event_type = 'purchase'),
         credit AS (
           SELECT 'first' AS model,
                  coalesce(t.event_type, '(none)') AS touch_type
           FROM conv LEFT JOIN ev t ON t.event_id = conv.fcode % 100000
           UNION ALL
           SELECT 'last' AS model,
                  coalesce(t.event_type, '(none)') AS touch_type
           FROM conv LEFT JOIN ev t ON t.event_id = conv.lcode % 100000),
         agg AS (
           SELECT model, touch_type, count(*) AS conversions
           FROM credit GROUP BY model, touch_type)
         SELECT model, touch_type, conversions,
                round(conversions / sum(conversions)
                  OVER (PARTITION BY model), 4) AS share
         FROM agg ORDER BY model, touch_type"""),

    // ops basket co-occurrence lift (X183): event types co-occurring
    // in the same (user, hour) basket vs independence — distinct
    // presence semantics, two shuffles total.
    Query("q210_basket_lift", (s, d) => {
      import s.implicits._
      graft.ops.Baskets.pairLift(t(s, d, "events"),
          struct($"user_id", date_trunc("hour", $"ts")))
        .orderBy($"item_a", $"item_b")
    },
      """WITH bi AS (
           SELECT DISTINCT (user_id, date_trunc('hour', ts)) AS b,
                  event_type AS it
           FROM events),
         nb AS (SELECT count(DISTINCT b) AS n FROM bi),
         tot AS (SELECT it, count(*) AS n FROM bi GROUP BY it),
         p AS (SELECT l.it AS item_a, r.it AS item_b, count(*) AS n_ab
               FROM bi l JOIN bi r ON l.b = r.b AND l.it < r.it
               GROUP BY 1, 2)
         SELECT item_a, item_b, ta.n AS n_a, tb.n AS n_b, p.n_ab,
                round(p.n_ab / (SELECT n FROM nb)::DOUBLE, 4) AS support,
                round(p.n_ab * (SELECT n FROM nb)::DOUBLE
                  / (ta.n * tb.n), 4) AS lift
         FROM p
         JOIN tot ta ON ta.it = p.item_a
         JOIN tot tb ON tb.it = p.item_b
         ORDER BY item_a, item_b"""),

    // ops recrawl content drift (X184): normalized edit distance
    // between consecutive fetches of the same URL (capped comparison
    // window), one lag window per url — the how-much refinement of
    // q205's hash-level change rate. History synthesized from
    // documents: 50 URLs, versions ordered by doc_id.
    Query("q211_content_drift", (s, d) => {
      import s.implicits._
      val hist = t(s, d, "documents").select(
        concat($"source", lit("/"), ($"doc_id" % 50).cast("string"))
          .as("url"),
        $"doc_id".as("ts"), $"text") // version counter as event time
      graft.ops.Recrawl.contentDrift(hist, maxChars = 200)
        .orderBy($"url", $"ts")
    },
      """WITH hist AS (
           SELECT source || '/' || (doc_id % 50)::VARCHAR AS url,
                  doc_id AS ts,
                  substring(text, 1, 200) AS t
           FROM documents),
         lagged AS (
           SELECT url, ts,
                  lag(ts) OVER w AS prev_ts,
                  lag(t) OVER w AS prev_t, t
           FROM hist
           WINDOW w AS (PARTITION BY url ORDER BY ts))
         SELECT url, ts, prev_ts,
                CASE WHEN prev_t IS NOT NULL THEN
                  round(levenshtein(prev_t, t) /
                    greatest(length(prev_t), length(t), 1)::DOUBLE, 4)
                END AS drift
         FROM lagged ORDER BY url, ts"""),

    // ops FK integrity audit (X185): orphan/null/dup-parent counts
    // for the two referential edges a TPC-H-ish pipeline joins across
    // — the pre-join data incident report, slim key projections only.
    Query("q212_fk_audit", (s, d) => {
      import s.implicits._
      val P = graft.ops.Profiling
      P.fkAudit(t(s, d, "lineitem"), t(s, d, "orders"),
          "l_orderkey", "o_orderkey", "lineitem->orders")
        .unionByName(P.fkAudit(t(s, d, "orders"), t(s, d, "customer"),
          "o_custkey", "c_custkey", "orders->customer"))
        .orderBy($"relation")
    },
      """WITH rel AS (
           SELECT 'lineitem->orders' AS relation,
                  (SELECT count(*) FROM lineitem) AS child_rows,
                  (SELECT count(*) FROM lineitem
                   WHERE l_orderkey IS NULL) AS null_keys,
                  (SELECT count(*) FROM lineitem
                   WHERE l_orderkey IS NOT NULL
                     AND l_orderkey NOT IN
                       (SELECT o_orderkey FROM orders
                        WHERE o_orderkey IS NOT NULL)) AS orphans,
                  (SELECT count(DISTINCT o_orderkey) FROM orders) AS parent_keys,
                  (SELECT count(*) FROM (
                     SELECT o_orderkey FROM orders GROUP BY o_orderkey
                     HAVING count(*) > 1)) AS parent_dup_keys
           UNION ALL
           SELECT 'orders->customer',
                  (SELECT count(*) FROM orders),
                  (SELECT count(*) FROM orders WHERE o_custkey IS NULL),
                  (SELECT count(*) FROM orders
                   WHERE o_custkey IS NOT NULL
                     AND o_custkey NOT IN
                       (SELECT c_custkey FROM customer
                        WHERE c_custkey IS NOT NULL)),
                  (SELECT count(DISTINCT c_custkey) FROM customer),
                  (SELECT count(*) FROM (
                     SELECT c_custkey FROM customer GROUP BY c_custkey
                     HAVING count(*) > 1)))
         SELECT relation, child_rows, null_keys, orphans,
                round(orphans / greatest(child_rows - null_keys, 1)::DOUBLE,
                  4) AS orphan_rate,
                parent_keys, parent_dup_keys
         FROM rel ORDER BY relation"""),

    // llmops winsorize (X186): per-source outlier clamp of the length
    // column at the (p05, p95) band — exact interpolated percentiles,
    // rows preserved, thresholds exposed for audit.
    Query("q213_winsorize", (s, d) => {
      import s.implicits._
      graft.llmops.Binning.winsorize(
          t(s, d, "documents").select($"doc_id", $"source", $"n_chars"),
          "n_chars", "source", lo = 0.05, hi = 0.95)
        .select($"doc_id", $"source", $"n_chars",
          round($"winsorized_lo", 4).as("lo"),
          round($"winsorized_hi", 4).as("hi"), $"winsorized")
        .orderBy($"doc_id")
    },
      """WITH bands AS (
           SELECT source,
                  quantile_cont(n_chars, 0.05) AS blo,
                  quantile_cont(n_chars, 0.95) AS bhi
           FROM documents GROUP BY source)
         SELECT doc_id, d.source, n_chars,
                round(blo, 4) AS lo, round(bhi, 4) AS hi,
                round(least(greatest(n_chars::DOUBLE, blo), bhi), 4)
                  AS winsorized
         FROM documents d JOIN bands b ON b.source = d.source
         ORDER BY doc_id"""),

    // llmops calibration report (X187): is the q97 quality model's
    // prob-0.8 right 80% of the time? Reliability bins + ECE over the
    // bounded prCurve construction; the scored table is the dumped
    // deterministic intermediate, the binning/ECE arithmetic replays.
    Query("q214_calibration", (s, d) => {
      import s.implicits._
      val Q = graft.llmops.QualityModel
      val docs = t(s, d, "documents")
      val labeled = docs.withColumn("label",
        (graft.llmops.TextFuncs.qualityScore($"text") >= 1.0).cast("int"))
      val (w, b) = Q.train(labeled)
      val scored = Q.score(docs, w, b)
        .join(labeled.select($"doc_id", $"label"), Seq("doc_id"))
      if (materializing)
        materialize(scored.select($"doc_id", round($"prob", 6).as("prob"),
          $"label"), "q214_scored")
      // bin on the SAME 6dp-rounded probs the oracle replays from the
      // dump — binning unrounded values risks a boundary flake when a
      // prob sits within 5e-7 of a bin edge
      Q.calibrationReport(scored.withColumn("prob", round($"prob", 6)),
          nBins = 10)
        .orderBy($"bin_lo")
    },
      // calibration: binning + ECE replayed from the dumped scored table
      s"""WITH s AS (
           SELECT least(floor(prob * 10), 9)::INT AS bin,
                  prob, label
           FROM read_parquet('$scratch/q214_scored/*.parquet')),
         b AS (
           SELECT bin, count(*) AS n, avg(prob) AS avg_prob,
                  avg(label::DOUBLE) AS frac_pos
           FROM s GROUP BY bin),
         t AS (
           SELECT sum(n) AS total,
                  sum(abs(avg_prob - frac_pos) * n) AS gapsum
           FROM b)
         SELECT bin / 10.0 AS bin_lo, n,
                round(avg_prob, 4) AS avg_prob,
                round(frac_pos, 4) AS frac_pos,
                round(abs(avg_prob - frac_pos), 4) AS gap,
                round(abs(avg_prob - frac_pos) * n / t.total, 4)
                  AS ece_contrib,
                round(t.gapsum / t.total, 4) AS ece
         FROM b, t ORDER BY bin_lo"""),

    // llmops LSH recall audit (X188): the LSH tier's REALIZED recall
    // against the exact SSJoin ground truth in the same n-gram
    // Jaccard space, plus the S-curve's expected recall — the
    // measurement behind every "deduped at threshold t" claim. The
    // LSH pair set is dumped; the oracle recomputes the exact side
    // (q171's SQL) and the audit arithmetic independently.
    Query("q215_lsh_recall_audit", (s, d) => {
      import s.implicits._
      // the audit's own recipe, exercised literally: measure realized
      // recall on a deterministic ~50% slice (the exact side is the
      // q171 price — paying it for the full corpus buys nothing the
      // slice doesn't already prove about the plan)
      val docs = t(s, d, "documents")
        .filter(substring(md5($"text"), 1, 2) < "80")
      // pin: the LSH pipeline feeds the dump and both audit joins
      val lsh = graft.llmops.Dedup.ngramJaccardPairs(docs,
        n = 3, threshold = 0.5).localCheckpoint(false)
      materialize(lsh.select($"id_a", $"id_b"), "q215_lsh_pairs")
      graft.llmops.Dedup.lshRecallAudit(docs, lsh,
        threshold = 0.5, n = 3)
    }, {
      // LSH recall audit: exact side = q171's SSJoin SQL at 0.5; LSH
      // side = the dumped pair set; expected recall = the proposal
      // split's S-curve averaged over true pairs
      val p = graft.llmops.LshPlan.plan(0.375)
      s"""WITH tf AS (
           SELECT id, term FROM (
             SELECT doc_id AS id,
                    unnest(list_distinct(list_transform(
                      generate_series(1, greatest(len(l) - 2, 1)),
                      i -> array_to_string(
                             list_slice(l, i, i + 2), ' ')))) AS term
             FROM (SELECT doc_id,
                          string_split_regex(lower(trim(text)), '\\s+')
                            AS l
                   FROM documents
                   WHERE substring(md5(text), 1, 2) < '80'))
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
         nsz AS (SELECT id, count(*) AS n FROM tf GROUP BY 1),
         exact AS (
           SELECT i.id_a, i.id_b,
                  i.i::DOUBLE / (na.n + nb.n - i.i) AS jaccard
           FROM inter i
           JOIN nsz na ON na.id = i.id_a
           JOIN nsz nb ON nb.id = i.id_b
           WHERE i.i::DOUBLE / (na.n + nb.n - i.i)
                   >= CAST(0.5 AS DOUBLE)),
         lsh AS (
           SELECT id_a, id_b
           FROM read_parquet('$scratch/q215_lsh_pairs/*.parquet')),
         ex AS (
           SELECT count(*) AS n_exact,
                  coalesce(sum(1.0 - pow(1.0 - pow(jaccard,
                    ${p.rowsPerBand}.0), ${p.bands}.0)), 0.0) AS expsum
           FROM exact),
         hits AS (
           SELECT count(*) AS n_common
           FROM exact e JOIN lsh l
             ON l.id_a = e.id_a AND l.id_b = e.id_b),
         fnd AS (SELECT count(*) AS n_lsh FROM lsh)
         SELECT ex.n_exact, fnd.n_lsh, hits.n_common,
                round(CASE WHEN ex.n_exact > 0
                  THEN hits.n_common / ex.n_exact::DOUBLE
                  ELSE 1.0 END, 4) AS recall,
                round(CASE WHEN fnd.n_lsh > 0
                  THEN hits.n_common / fnd.n_lsh::DOUBLE
                  ELSE 1.0 END, 4) AS precision,
                round(CASE WHEN ex.n_exact > 0
                  THEN ex.expsum / ex.n_exact ELSE 1.0 END, 4)
                  AS expected_recall
         FROM ex, hits, fnd"""
    }),

    // ops sample-representativeness audit (X189): Pearson chi-square
    // goodness-of-fit of the md5-gated deterministic sample against
    // the source's category mix, per category — the receipt behind
    // every sampler's "distribution-preserving" claim.
    Query("q216_sample_audit", (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val sample = docs.filter(
        substring(md5($"text"), 1, 2) < "40") // ~25% deterministic slice
      graft.ops.Profiling.sampleAudit(docs, sample, "source")
        .orderBy($"category")
    },
      """WITH smp AS (
           SELECT source FROM documents
           WHERE substring(md5(text), 1, 2) < '40'),
         src AS (
           SELECT source AS category, count(*) AS n_source
           FROM documents GROUP BY 1),
         sm AS (
           SELECT source AS category, count(*) AS n_sample
           FROM smp GROUP BY 1),
         j AS (
           SELECT coalesce(src.category, sm.category) AS category,
                  coalesce(n_source, 0) AS n_source,
                  coalesce(n_sample, 0) AS n_sample
           FROM src FULL OUTER JOIN sm USING (category)),
         t AS (SELECT sum(n_source) AS ns, sum(n_sample) AS np FROM j),
         e AS (
           SELECT category, n_source, n_sample,
                  n_source * t.np / t.ns::DOUBLE AS expected,
                  CASE WHEN n_source * t.np / t.ns::DOUBLE > 0
                    THEN pow(n_sample - n_source * t.np / t.ns::DOUBLE, 2)
                         / (n_source * t.np / t.ns::DOUBLE)
                    ELSE pow(n_sample::DOUBLE, 2) END AS contrib
           FROM j, t),
         c AS (SELECT sum(contrib) AS chi2, count(*) AS k FROM e)
         SELECT category, n_source, n_sample,
                round(expected, 4) AS expected,
                round(contrib, 4) AS contrib,
                round(c.chi2, 4) AS chi2,
                (c.k - 1) AS dof
         FROM e, c ORDER BY category"""),

    // llmops BM25F (X190): title/body fields fold into one weighted
    // tf BEFORE saturation (per-field BM25 sums saturate k1 once per
    // field — the known-wrong formulation). Fields derived: first 10
    // tokens as title (w=2, b=0.5), rest as body (w=1, b=0.75).
    Query("q217_bm25f", (s, d) => {
      import s.implicits._
      val B = graft.llmops.Bm25
      val toks = graft.llmops.TextFuncs.tokens($"text")
      val fielded = t(s, d, "documents").select($"doc_id",
        array_join(slice(toks, 1, 10), " ").as("title"),
        array_join(slice(toks, lit(11),
          greatest(size(toks) - 10, lit(0))), " ").as("body"))
      B.topKFielded(fielded,
          Seq(B.Field("title", 2.0, 0.5), B.Field("body", 1.0, 0.75)),
          Seq("vector", "window", "merge", "stream"), k = 20)
        .select($"doc_id", $"n_terms_hit", $"score")
        .orderBy($"doc_id")
    },
      // BM25F: fields fold into weighted tf before saturation; idf over
      // whole-document presence; Lucene (k1+1) numerator like q103
      """WITH base AS (
           SELECT doc_id,
                  string_split_regex(lower(trim(text)), '\s+') AS l
           FROM documents),
         f AS (
           SELECT doc_id,
                  array_to_string(list_slice(l, 1, 10), ' ') AS title,
                  CASE WHEN len(l) > 10
                       THEN array_to_string(list_slice(l, 11, len(l)), ' ')
                       ELSE '' END AS body
           FROM base),
         fl AS (
           SELECT doc_id, 0 AS fi, title AS ft FROM f
           UNION ALL
           SELECT doc_id, 1, body FROM f),
         toks AS (
           SELECT doc_id, fi,
                  CASE WHEN length(trim(ft)) = 0 THEN []::VARCHAR[]
                       ELSE string_split_regex(ft, '\s+') END AS tl
           FROM fl),
         stats AS (
           SELECT fi, avg(len(tl)::DOUBLE) AS avgdl FROM toks GROUP BY fi),
         n AS (SELECT count(*)::DOUBLE AS n FROM documents),
         q AS (SELECT unnest(['vector', 'window', 'merge', 'stream']) AS term),
         posts AS (
           SELECT t.doc_id, t.fi, u.term,
                  count(*)::DOUBLE AS tf, any_value(len(t.tl))::DOUBLE AS dl
           FROM toks t, unnest(t.tl) AS u(term)
           WHERE u.term IN (SELECT term FROM q) AND u.term <> ''
           GROUP BY 1, 2, 3),
         wtf AS (
           SELECT p.doc_id, p.term,
                  sum(CASE WHEN p.fi = 0
                        THEN 2.0 * p.tf / (1.0 - 0.5 + 0.5 * p.dl / s.avgdl)
                        ELSE 1.0 * p.tf / (1.0 - 0.75 + 0.75 * p.dl / s.avgdl)
                      END) AS wtf
           FROM posts p JOIN stats s ON s.fi = p.fi
           GROUP BY 1, 2),
         dfx AS (
           SELECT term, count(DISTINCT doc_id)::DOUBLE AS df
           FROM posts GROUP BY term),
         idf AS (
           SELECT term, ln(1.0 + (n.n - df + 0.5) / (df + 0.5)) AS idf
           FROM dfx, n),
         scored AS (
           SELECT w.doc_id, count(*) AS n_terms_hit,
                  sum(i.idf * w.wtf * 2.2 / (w.wtf + 1.2)) AS score
           FROM wtf w JOIN idf i USING (term)
           GROUP BY w.doc_id)
         SELECT doc_id, n_terms_hit, round(score, 4) AS score
         FROM (SELECT *, row_number() OVER (
                 ORDER BY round(score, 4) DESC, doc_id) AS rk
               FROM scored)
         WHERE rk <= 20 ORDER BY doc_id"""),

    // llmops margin-ordered multi-probe LSH ANN (X191): probe count
    // independent of plane count — 8 planes, 4 probes (the all-flips
    // q36 set would be 9). Buckets and probe sequences dumped; the
    // oracle replays candidate join + cosine + top-k.
    Query("q218_multiprobe_ann", (s, d) => {
      import s.implicits._
      val V = graft.llmops.VectorFuncs
      val emb = t(s, d, "embeddings")
      val q = emb.filter($"vec_id" < 5)
        .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
      materialize(emb.select($"vec_id",
        V.rhpBucket($"embedding", 8).as("bucket")), "q218_cb")
      materialize(V.lshMultiProbes(q, 8, 4)
        .select($"query_id", $"bucket"), "q218_qb")
      V.lshMultiProbeTopK(emb, q, k = 5, planes = 8, nprobe = 4)
        .select($"query_id", $"vec_id", round($"sim", 4).as("sim"), $"rk")
        .orderBy($"query_id", $"rk")
    },
      s"""WITH scored AS (
           SELECT q.query_id, c.vec_id,
                  list_cosine_similarity(ce.embedding::DOUBLE[], qe.embedding::DOUBLE[]) AS sim
           FROM read_parquet('$scratch/q218_cb/*.parquet') c
           JOIN read_parquet('$scratch/q218_qb/*.parquet') q USING (bucket)
           JOIN embeddings ce ON ce.vec_id = c.vec_id
           JOIN embeddings qe ON qe.vec_id = q.query_id),
         ranked AS (
           SELECT query_id, vec_id, sim,
                  row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rk
           FROM scored)
         SELECT query_id, vec_id, round(sim, 4) AS sim, rk::INTEGER AS rk
         FROM ranked WHERE rk <= 5 ORDER BY query_id, rk"""),

    // llmops semantic decontamination (X192): corpus vectors within
    // cosine 0.97 of any benchmark vector are contamination — the
    // embedding-space axis n-gram/bloom decontamination cannot see.
    // IVF-asymmetric (corpus indexes once, the small benchmark probes),
    // NO bucket caps (recall obligation). Output = the evidence table.
    Query("q219_semantic_decontam", (s, d) => {
      import s.implicits._
      val I = graft.llmops.Ivf
      val emb = t(s, d, "embeddings")
      val bench = emb.filter($"vec_id" < 25)
      val cents = I.kmeansCentroids(emb, nlist = 16, iters = 2)
      if (materializing) {
        materialize(emb.where($"embedding".isNotNull).select($"vec_id",
          element_at(I.nearest_centroids($"embedding", cents, 1), 1)
            .as("list_id")), "q219_assigned")
        materialize(bench.where($"embedding".isNotNull).select(
          $"vec_id".as("bench_id"),
          explode(I.nearest_centroids($"embedding", cents, 2))
            .as("list_id")), "q219_probes")
      }
      graft.llmops.Dedup.semanticContaminationEvidence(emb, bench,
          threshold = 0.97, cents, nprobe = 2)
        .orderBy($"corpus_id", $"bench_id")
    },
      s"""SELECT a.vec_id AS corpus_id, p.bench_id,
                round(list_cosine_similarity(ce.embedding::DOUBLE[],
                  qe.embedding::DOUBLE[]), 4) AS sim
         FROM read_parquet('$scratch/q219_assigned/*.parquet') a
         JOIN read_parquet('$scratch/q219_probes/*.parquet') p USING (list_id)
         JOIN embeddings ce ON ce.vec_id = a.vec_id
         JOIN embeddings qe ON qe.vec_id = p.bench_id
         WHERE list_cosine_similarity(ce.embedding::DOUBLE[],
                 qe.embedding::DOUBLE[]) >= 0.97
         ORDER BY corpus_id, bench_id"""),

    // llmops TextRank keywords (X193): per-document PageRank over the
    // word co-occurrence graph, all documents as ONE edge table keyed
    // (doc, term) — the graph counterpart of q189's RAKE. Two
    // synchronous rounds, unrolled relationally by the oracle.
    Query("q220_textrank", (s, d) => {
      import s.implicits._
      graft.llmops.Keywords.textrankKeywords(
          t(s, d, "documents").filter($"doc_id" < 40),
          k = 3, windowSize = 2, iterations = 2)
        .orderBy($"doc_id", $"rk")
    },
      // TextRank: positions via generate_series, window-2 co-occurrence
      // edges, two unrolled PageRank rounds keyed (doc, term)
      """WITH base AS (
           SELECT doc_id AS id,
                  string_split_regex(lower(trim(text)), '\s+') AS l
           FROM documents WHERE doc_id < 40),
         toks AS (
           SELECT id, i AS pos, l[i] AS term
           FROM base, unnest(generate_series(1, len(l))) AS g(i)
           WHERE length(l[i]) >= 3),
         e0 AS (
           SELECT DISTINCT id, least(a, b) AS u, greatest(a, b) AS v
           FROM (
             SELECT x.id, x.term AS a, y.term AS b
             FROM toks x JOIN toks y
               ON y.id = x.id AND y.pos = x.pos + 1 AND x.term <> y.term
             UNION ALL
             SELECT x.id, x.term, y.term
             FROM toks x JOIN toks y
               ON y.id = x.id AND y.pos = x.pos + 2 AND x.term <> y.term)),
         sym AS (SELECT id, u, v FROM e0
                 UNION ALL SELECT id, v, u FROM e0),
         deg AS (SELECT id, u, count(*)::DOUBLE AS deg
                 FROM sym GROUP BY 1, 2),
         nodes AS (SELECT id, u AS term FROM deg),
         c1 AS (SELECT s.id, s.v AS term, sum(1.0 / d.deg) AS m
                FROM sym s JOIN deg d ON d.id = s.id AND d.u = s.u
                GROUP BY 1, 2),
         r1 AS (SELECT n.id, n.term,
                       0.15 + 0.85 * coalesce(c1.m, 0) AS r
                FROM nodes n LEFT JOIN c1 USING (id, term)),
         c2 AS (SELECT s.id, s.v AS term, sum(r1.r / d.deg) AS m
                FROM sym s
                JOIN deg d ON d.id = s.id AND d.u = s.u
                JOIN r1 ON r1.id = s.id AND r1.term = s.u
                GROUP BY 1, 2),
         r2 AS (SELECT n.id, n.term,
                       0.15 + 0.85 * coalesce(c2.m, 0) AS r
                FROM nodes n LEFT JOIN c2 USING (id, term))
         SELECT id AS doc_id, rk::INTEGER AS rk, term, rank FROM (
           SELECT id, term, round(r, 4) AS rank,
                  row_number() OVER (PARTITION BY id
                    ORDER BY round(r, 4) DESC, term) AS rk
           FROM r2)
         WHERE rk <= 3 ORDER BY doc_id, rk"""),

    // llmops keyed pseudonymization (X194): identifiers hash to
    // stable pseudonyms that still join/aggregate; per-user activity
    // survives with the identity unlinkable without the key.
    Query("q221_pseudonymize", (s, d) => {
      import s.implicits._
      graft.llmops.Privacy.pseudonymize(t(s, d, "events"),
          Seq("user_id"), key = "rotate-2026")
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_events"))
        .orderBy($"n_events".desc, $"user_id")
        .limit(20)
    },
      """SELECT md5('rotate-2026:' || user_id::VARCHAR) AS user_id,
                count(*) AS n_events
         FROM events GROUP BY 1
         ORDER BY n_events DESC, user_id LIMIT 20"""),

    // llmops k-anonymity audit (X195): how identifying are the
    // quasi-identifier columns in combination — the release-decision
    // row (classes smaller than k, and how many rows sit in them).
    Query("q222_k_anonymity", (s, d) => {
      import s.implicits._
      graft.llmops.Privacy.kAnonymityAudit(
        t(s, d, "documents")
          .withColumn("len_bucket", floor($"n_chars" / 200)),
        Seq("source", "lang", "len_bucket"), k = 5)
    },
      """WITH cls AS (
           SELECT source, lang, floor(n_chars / 200) AS len_bucket,
                  count(*) AS n
           FROM documents GROUP BY 1, 2, 3)
         SELECT 5 AS k, sum(n)::BIGINT AS n_rows, count(*) AS n_classes,
                min(n) AS min_class_size,
                sum(CASE WHEN n < 5 THEN 1 ELSE 0 END)::BIGINT
                  AS violating_classes,
                sum(CASE WHEN n < 5 THEN n ELSE 0 END)::BIGINT
                  AS violating_rows,
                round(sum(CASE WHEN n < 5 THEN n ELSE 0 END)
                  / sum(n)::DOUBLE, 4) AS violating_row_rate
         FROM cls"""),

    // llmops Heaps'-law vocabulary growth (X196): vocab size at
    // nested deterministic corpus prefixes + the fitted exponent —
    // what more data buys, and whether the corpus is saturating.
    Query("q223_heaps_profile", (s, d) => {
      import s.implicits._
      graft.llmops.Vocab.heapsProfile(t(s, d, "documents"))
        .orderBy($"fraction")
    },
      """WITH m AS (SELECT max(doc_id) AS mx FROM documents),
         f AS (SELECT unnest([0.125, 0.25, 0.5, 1.0]::DOUBLE[]) AS fr),
         ck AS (SELECT fr, ceil((m.mx + 1) * fr) AS cut FROM f, m),
         tok AS (
           SELECT doc_id,
                  unnest(string_split_regex(lower(trim(text)), '\s+')) AS t
           FROM documents),
         tok2 AS (SELECT doc_id, t FROM tok WHERE t <> ''),
         per AS (
           SELECT ck.fr AS fraction,
                  count(DISTINCT tk.doc_id) AS n_docs,
                  count(*) AS n_tokens,
                  count(DISTINCT tk.t) AS vocab
           FROM ck JOIN tok2 tk ON tk.doc_id < ck.cut
           GROUP BY ck.fr),
         frst AS (SELECT n_tokens AS n0, vocab AS v0 FROM per
                  ORDER BY fraction LIMIT 1)
         SELECT fraction, n_docs, n_tokens, vocab,
                round(CASE WHEN per.n_tokens > frst.n0
                  THEN (ln(vocab) - ln(frst.v0))
                       / (ln(n_tokens) - ln(frst.n0))
                  ELSE 0.0 END, 4) AS beta
         FROM per, frst ORDER BY fraction"""),

    // llmops exact phrase search (X198): positional postings,
    // adjacency as slim (doc, pos+offset) equi-joins pruned to the
    // phrase terms — never a substring scan; overlapping occurrences
    // count (the positional semantics, which the oracle replays).
    Query("q224_phrase_search", (s, d) => {
      import s.implicits._
      graft.llmops.Phrase.phraseTopK(t(s, d, "documents"),
          Seq("table", "hash"), k = 15)
        .orderBy($"doc_id")
    },
      // phrase search: positional adjacency replay (overlap-correct),
      // never a substring count
      """WITH base AS (
           SELECT doc_id AS id,
                  string_split_regex(lower(trim(text)), '\s+') AS l
           FROM documents),
         toks AS (
           SELECT id, i AS pos, l[i] AS term
           FROM base, unnest(generate_series(1, len(l))) AS g(i)
           WHERE l[i] IN ('table', 'hash')),
         starts AS (
           SELECT a.id, a.pos AS start
           FROM toks a JOIN toks b
             ON b.id = a.id AND b.pos = a.pos + 1
           WHERE a.term = 'table' AND b.term = 'hash'),
         occ AS (SELECT id, count(*) AS n_occurrences
                 FROM starts GROUP BY id),
         lens AS (
           SELECT doc_id AS id,
                  CASE WHEN length(trim(text)) = 0 THEN 0
                       ELSE len(string_split_regex(lower(trim(text)),
                            '\s+')) END::BIGINT AS n_tokens
           FROM documents)
         SELECT id AS doc_id, n_occurrences, n_tokens FROM (
           SELECT o.id, o.n_occurrences, lens.n_tokens,
                  row_number() OVER (
                    ORDER BY o.n_occurrences DESC, o.id) AS rk
           FROM occ o JOIN lens ON lens.id = o.id)
         WHERE rk <= 15 ORDER BY doc_id"""),

    // llmops log-odds distinctive terms (X197, Monroe et al.
    // "Fightin' Words"): per-source terms scored by the z-statistic
    // of their prior-shrunk log-odds vs the rest of the corpus —
    // skewed AND supported, unlike raw-ratio scores.
    Query("q225_distinctive_terms", (s, d) => {
      import s.implicits._
      graft.llmops.TextFuncs.distinctiveTerms(t(s, d, "documents"),
          "source", k = 5)
        .orderBy($"group", $"rk")
    },
      """WITH cnt AS (
           SELECT source AS grp, t AS term, count(*) AS y FROM (
             SELECT source,
                    unnest(string_split_regex(lower(trim(text)), '\s+'))
                      AS t
             FROM documents)
           WHERE t <> '' GROUP BY 1, 2),
         gt AS (SELECT grp, sum(y) AS ng FROM cnt GROUP BY grp),
         tt AS (SELECT term, sum(y) AS yg FROM cnt GROUP BY term),
         gl AS (SELECT sum(y) AS nn, count(DISTINCT term) AS vv FROM cnt),
         sc AS (
           SELECT c.grp, c.term, c.y, (tt.yg - c.y) AS yr,
                  round((ln((c.y + 0.01) /
                          (gt.ng + 0.01 * gl.vv - c.y - 0.01)) -
                         ln((tt.yg - c.y + 0.01) /
                          (gl.nn - gt.ng + 0.01 * gl.vv
                           - (tt.yg - c.y) - 0.01))) /
                        sqrt(1.0 / (c.y + 0.01) +
                             1.0 / (tt.yg - c.y + 0.01)), 4) AS z
           FROM cnt c
           JOIN gt ON gt.grp = c.grp
           JOIN tt ON tt.term = c.term
           CROSS JOIN gl
           WHERE c.y >= 2)
         SELECT grp AS "group", rk::INTEGER AS rk, term,
                y AS n_group, yr::BIGINT AS n_rest, z
         FROM (SELECT *, row_number() OVER (PARTITION BY grp
                 ORDER BY z DESC, term) AS rk FROM sc)
         WHERE rk <= 5 ORDER BY "group", rk"""),

    // ops community-quality report (X199): Newman modularity +
    // conductance for the q207 LPA labeling over the q80 graph —
    // the evaluation half a clustering needs before anyone acts on
    // it. Oracle replays the two LPA rounds AND the report arithmetic.
    Query("q226_community_report", (s, d) => {
      import s.implicits._
      val edges = t(s, d, "documents")
        .select($"doc_id".as("src"),
          explode(array((0 until 3).map(k =>
            pmod($"doc_id" * 7919 + lit(k), lit(500))): _*)).as("dst"))
      val labels = graft.ops.Communities.labelPropagation(edges,
        iterations = 2)
      graft.ops.Communities.communityReport(edges, labels)
        .orderBy($"label")
    },
      // community report: the q207 LPA replay feeding the modularity /
      // conductance arithmetic over the labeled canonical edge list
      """WITH e0 AS (
           SELECT DISTINCT doc_id AS src, (doc_id * 7919 + k) % 500 AS dst
           FROM documents, (VALUES (0), (1), (2)) AS ks(k)),
         canon AS (
           SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
           FROM e0 WHERE src <> dst),
         symm AS (SELECT u, v FROM canon
                  UNION ALL SELECT v, u FROM canon),
         nodes AS (SELECT DISTINCT u AS node FROM symm),
         l0 AS (SELECT node, node AS label FROM nodes),
         v1 AS (SELECT s.u AS node, l.label, count(*) AS n
                FROM symm s JOIN l0 l ON l.node = s.v GROUP BY 1, 2),
         w1 AS (SELECT node, label FROM (
                  SELECT node, label, row_number() OVER (
                    PARTITION BY node ORDER BY n DESC, label ASC) AS rk
                  FROM v1) WHERE rk = 1),
         l1 AS (SELECT n.node, coalesce(w1.label, n.node) AS label
                FROM nodes n LEFT JOIN w1 USING (node)),
         v2 AS (SELECT s.u AS node, l.label, count(*) AS n
                FROM symm s JOIN l1 l ON l.node = s.v GROUP BY 1, 2),
         w2 AS (SELECT node, label FROM (
                  SELECT node, label, row_number() OVER (
                    PARTITION BY node ORDER BY n DESC, label ASC) AS rk
                  FROM v2) WHERE rk = 1),
         lab AS (SELECT n.node, coalesce(w2.label, n.node) AS label
                 FROM nodes n LEFT JOIN w2 USING (node)),
         le AS (
           SELECT c.u, c.v, lu.label AS lu, lv.label AS lv
           FROM canon c
           JOIN lab lu ON lu.node = c.u
           JOIN lab lv ON lv.node = c.v),
         m AS (SELECT count(*)::DOUBLE AS m FROM le),
         intra AS (SELECT lu AS label, count(*) AS intra_edges
                   FROM le WHERE lu = lv GROUP BY 1),
         cuts AS (SELECT label, count(*) AS cut_edges FROM (
                    SELECT lu AS label FROM le WHERE lu <> lv
                    UNION ALL
                    SELECT lv FROM le WHERE lu <> lv) GROUP BY 1),
         vol AS (SELECT label, count(*) AS degree_sum FROM (
                   SELECT lu AS label FROM le
                   UNION ALL SELECT lv FROM le) GROUP BY 1),
         sizes AS (SELECT label, count(*) AS n_nodes
                   FROM lab GROUP BY 1),
         per AS (
           SELECT s.label, s.n_nodes,
                  coalesce(i.intra_edges, 0) AS intra_edges,
                  coalesce(c.cut_edges, 0) AS cut_edges,
                  coalesce(v.degree_sum, 0) AS degree_sum
           FROM sizes s
           LEFT JOIN intra i USING (label)
           LEFT JOIN cuts c USING (label)
           LEFT JOIN vol v USING (label)),
         q AS (
           SELECT round(sum(intra_edges / m.m -
                    pow(degree_sum / (2.0 * m.m), 2)), 4) + 0.0
             AS modularity
           FROM per, m)
         SELECT per.label, per.n_nodes, per.intra_edges, per.cut_edges,
                per.degree_sum,
                CASE WHEN per.cut_edges = 0 THEN 0.0
                     ELSE round(per.cut_edges /
                       least(per.degree_sum::DOUBLE,
                             2.0 * m.m - per.degree_sum), 4)
                END AS conductance,
                round(per.intra_edges / m.m -
                  pow(per.degree_sum / (2.0 * m.m), 2), 4) + 0.0
                  AS contribution,
                q.modularity
         FROM per, m, q ORDER BY per.label"""),

    // ops concentration report (X200): Gini + top-decile share of
    // per-user event mass, per event type — the load-shape numbers
    // behind host caps and abuse decisions.
    Query("q227_concentration", (s, d) => {
      import s.implicits._
      graft.ops.Profiling.concentrationReport(t(s, d, "events"),
          "event_type", "user_id", lit(1L))
        .orderBy($"group")
    },
      """WITH per AS (
           SELECT event_type AS grp, user_id AS k,
                  count(*)::DOUBLE AS x
           FROM events GROUP BY 1, 2),
         ranked AS (
           SELECT grp, k, x, row_number() OVER (
             PARTITION BY grp ORDER BY x, k) AS i
           FROM per),
         agg AS (
           SELECT grp, count(*) AS n_keys, sum(x) AS total,
                  sum(i * x) AS ix
           FROM ranked GROUP BY grp),
         dec AS (
           SELECT r.grp, sum(r.x) AS topx
           FROM ranked r JOIN agg a ON a.grp = r.grp
           WHERE r.i > a.n_keys - ceil(a.n_keys / 10.0)
           GROUP BY r.grp)
         SELECT a.grp AS "group", a.n_keys,
                a.total::BIGINT AS total,
                round(CASE WHEN a.n_keys > 1
                  THEN 2.0 * a.ix / (a.n_keys * a.total)
                       - (a.n_keys + 1.0) / a.n_keys
                  ELSE 0.0 END, 4) AS gini,
                round(coalesce(d.topx, 0) / a.total, 4) AS top10_share
         FROM agg a LEFT JOIN dec d ON d.grp = a.grp
         ORDER BY "group""""),

    // ops two-proportion A/B z-test (X201): deterministic hash
    // assignment, pooled z, one aggregation — did arm b purchase
    // more? (On hash-split uniform data the honest answer is "no",
    // and the test must SAY no: z small, significant false.)
    Query("q228_ab_test", (s, d) => {
      import s.implicits._
      graft.ops.Experiments.abTest(t(s, d, "events"),
        conversionType = "purchase", salt = "exp1")
    },
      """WITH units AS (
           SELECT user_id,
                  max(CASE WHEN event_type = 'purchase' THEN 1
                      ELSE 0 END) AS conv,
                  CASE WHEN substring(md5('exp1:' || min(user_id)::VARCHAR),
                         1, 2) < '80' THEN 'a' ELSE 'b' END AS arm
           FROM events GROUP BY user_id),
         arms AS (
           SELECT arm, count(*) AS n, sum(conv)::BIGINT AS conv
           FROM units GROUP BY arm),
         ab AS (
           SELECT a.n AS n_a, b.n AS n_b,
                  a.conv AS conv_a, b.conv AS conv_b,
                  a.conv / a.n::DOUBLE AS ra, b.conv / b.n::DOUBLE AS rb,
                  (a.conv + b.conv) / (a.n + b.n)::DOUBLE AS p
           FROM (SELECT * FROM arms WHERE arm = 'a') a,
                (SELECT * FROM arms WHERE arm = 'b') b),
         z AS (
           SELECT *, sqrt(p * (1.0 - p) *
                    (1.0 / n_a + 1.0 / n_b)) AS se
           FROM ab)
         SELECT n_a, n_b, conv_a, conv_b,
                round(ra, 4) AS rate_a, round(rb, 4) AS rate_b,
                round(rb - ra, 4) AS lift,
                CASE WHEN se > 0 THEN round((rb - ra) / se, 4)
                     ELSE 0.0 END AS z,
                (abs(CASE WHEN se > 0 THEN round((rb - ra) / se, 4)
                      ELSE 0.0 END) >= 1.96) AS significant
         FROM z"""),

    // llmops semantic chunking (X203): chunk where the TOPIC moves —
    // consecutive planted sentences embed (md5-hash buckets) and a
    // boundary opens where rounded cosine < 0.3. Sentences planted
    // q131-style so the oracle replays segmentation + embedding +
    // drift + reassembly end to end.
    Query("q229_semantic_chunks", (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents").filter($"doc_id" % 6 === 3)
        .select($"doc_id", concat(
          lit("Alpha beta gamma delta one. "),
          lit("Alpha beta gamma two doc"), $"doc_id", lit(" delta. "),
          lit("Omega sigma tau upsilon three. "),
          lit("Omega sigma tau four "), $"source", lit(" upsilon."))
          .as("text"))
      graft.llmops.Chunking.semanticChunks(docs, dim = 64, minSim = 0.3)
        .select($"doc_id", $"chunk_idx", $"n_sentences",
          md5($"chunk_text").as("chunk_md5"))
        .orderBy($"doc_id", $"chunk_idx")
    },
      // semantic chunking: planted sentences -> md5-hash embeddings ->
      // sparse cosine via bucket join -> drift boundaries -> reassembly
      """WITH s AS (
           SELECT doc_id, 0 AS pos,
                  'Alpha beta gamma delta one.' AS s
           FROM documents WHERE doc_id % 6 = 3
           UNION ALL
           SELECT doc_id, 1,
                  'Alpha beta gamma two doc' || doc_id || ' delta.'
           FROM documents WHERE doc_id % 6 = 3
           UNION ALL
           SELECT doc_id, 2, 'Omega sigma tau upsilon three.'
           FROM documents WHERE doc_id % 6 = 3
           UNION ALL
           SELECT doc_id, 3,
                  'Omega sigma tau four ' || source || ' upsilon.'
           FROM documents WHERE doc_id % 6 = 3),
         tok AS (
           SELECT doc_id, pos,
                  unnest(string_split_regex(lower(trim(s)), '\s+')) AS t
           FROM s),
         hb AS (
           SELECT doc_id, pos,
                  CAST(('0x' || substr(md5(t), 1, 8))::BIGINT % 64
                       AS INTEGER) AS bucket,
                  CASE WHEN substr(md5(t), 9, 1) < '8'
                       THEN 1 ELSE -1 END AS sgn
           FROM tok WHERE t <> ''),
         bv AS (
           SELECT doc_id, pos, bucket, sum(sgn)::DOUBLE AS v
           FROM hb GROUP BY 1, 2, 3),
         nrm AS (
           SELECT doc_id, pos, sqrt(sum(v * v)) AS n
           FROM bv GROUP BY 1, 2),
         sim AS (
           SELECT a.doc_id, b.pos AS pos,
                  round(sum(a.v * b.v) / (na.n * nb.n), 4) AS sim
           FROM bv a
           JOIN bv b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
                    AND b.bucket = a.bucket
           JOIN nrm na ON na.doc_id = a.doc_id AND na.pos = a.pos
           JOIN nrm nb ON nb.doc_id = b.doc_id AND nb.pos = b.pos
           GROUP BY a.doc_id, b.pos, na.n, nb.n),
         cut AS (
           SELECT s.doc_id, s.pos, s.s,
                  CASE WHEN sim.sim IS NULL OR sim.sim < 0.3
                       THEN 1 ELSE 0 END AS c
           FROM s LEFT JOIN sim
             ON sim.doc_id = s.doc_id AND sim.pos = s.pos),
         idx AS (
           SELECT doc_id, pos, s,
                  (sum(c) OVER (PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - 1)::INTEGER AS chunk_idx
           FROM cut)
         SELECT doc_id, chunk_idx,
                CAST(count(*) AS INTEGER) AS n_sentences,
                md5(string_agg(s, ' ' ORDER BY pos)) AS chunk_md5
         FROM idx GROUP BY doc_id, chunk_idx
         ORDER BY doc_id, chunk_idx"""),

    // llmops PCA contract (X204, the q89 estimate-contract pattern):
    // fit top-4 components of the embeddings, dump the model; both
    // engines then verify the CONTRACTS — unit norms, orthogonality,
    // per-component explained variance equal to the variance of the
    // projected coordinate (the eigenvalue identity), descending.
    Query("q230_pca_contract", (s, d) => {
      import s.implicits._
      val P = graft.llmops.Pca
      val emb = t(s, d, "embeddings").where($"embedding".isNotNull)
      val m = P.fit(emb, k = 4)
      if (materializing) {
        val comps = for {
          c <- m.components.indices; i <- 0 until m.d
        } yield (c, i, m.components(c)(i))
        materialize(comps.toDF("component", "idx", "w"), "q230_components")
        materialize(m.mean.zipWithIndex.map(p => (p._2, p._1))
          .toSeq.toDF("idx", "m"), "q230_mean")
        materialize(m.explained.zipWithIndex.map(p => (p._2, p._1))
          .toSeq.toDF("component", "explained"), "q230_explained")
      }
      // coordinate variance in DOUBLE (the float32 projection would
      // truncate the 4th decimal the oracle compares) — ONE kernel
      // call per row, one scan for all k coordinates
      val coordStats = emb
        .select(P.projection($"embedding", m, asFloat = false).as("pc"))
        .select(posexplode($"pc").as(Seq("component", "coord")))
        .groupBy($"component")
        .agg((avg($"coord" * $"coord") - pow(avg($"coord"), 2.0))
          .as("coord_var"))
      val model = m.components.indices.map { c =>
        val norm = math.sqrt(m.components(c).map(x => x * x).sum)
        val maxCross = m.components.indices.filter(_ != c).map { o =>
          math.abs(m.components(c).zip(m.components(o))
            .map(p => p._1 * p._2).sum)
        }.max
        (c, m.explained(c), norm, maxCross)
      }.toDF("component", "explained", "norm", "max_cross")
      coordStats.join(model, Seq("component"))
        .select($"component",
          round($"explained", 4).as("explained"),
          round($"coord_var", 4).as("coord_var"),
          (abs($"coord_var" - $"explained") <=
            greatest(lit(1e-4), $"explained" * 0.01)).as("var_ok"),
          (abs($"norm" - 1.0) < 1e-6).as("norm_ok"),
          ($"max_cross" < 1e-6).as("orth_ok"))
        .orderBy($"component")
    },
      // PCA contract: coordinate variance, norms, and cross-dots all
      // recomputed in SQL from the dumped model + raw embeddings
      s"""WITH comp AS (
           SELECT component, idx, w
           FROM read_parquet('$scratch/q230_components/*.parquet')),
         mn AS (
           SELECT idx, m
           FROM read_parquet('$scratch/q230_mean/*.parquet')),
         ex AS (
           SELECT component, explained
           FROM read_parquet('$scratch/q230_explained/*.parquet')),
         ev AS (
           SELECT vec_id, i - 1 AS idx, embedding[i]::DOUBLE AS x
           FROM (SELECT vec_id, embedding FROM embeddings
                 WHERE embedding IS NOT NULL) e,
                unnest(generate_series(1, len(embedding))) AS g(i)),
         coords AS (
           SELECT c.component, ev.vec_id,
                  sum((ev.x - mn.m) * c.w) AS coord
           FROM ev
           JOIN mn ON mn.idx = ev.idx
           JOIN comp c ON c.idx = ev.idx
           GROUP BY 1, 2),
         cv AS (
           SELECT component,
                  avg(coord * coord) - avg(coord) * avg(coord)
                    AS coord_var
           FROM coords GROUP BY component),
         norms AS (
           SELECT component, sqrt(sum(w * w)) AS norm
           FROM comp GROUP BY component),
         cross_d AS (
           SELECT a.component,
                  max(abs(d.dot)) AS max_cross
           FROM (SELECT DISTINCT component FROM comp) a
           JOIN (SELECT x.component AS ca, y.component AS cb,
                        sum(x.w * y.w) AS dot
                 FROM comp x JOIN comp y
                   ON x.idx = y.idx AND x.component <> y.component
                 GROUP BY 1, 2) d ON d.ca = a.component
           GROUP BY a.component)
         SELECT ex.component,
                round(ex.explained, 4) AS explained,
                round(cv.coord_var, 4) AS coord_var,
                (abs(cv.coord_var - ex.explained) <=
                   greatest(1e-4, ex.explained * 0.01)) AS var_ok,
                (abs(norms.norm - 1.0) < 1e-6) AS norm_ok,
                (cross_d.max_cross < 1e-6) AS orth_ok
         FROM ex
         JOIN cv USING (component)
         JOIN norms USING (component)
         JOIN cross_d USING (component)
         ORDER BY component"""),

    // llmops PCA->ANN composition (X205): search in the top-4-of-8
    // PCA subspace against the FULL-EIGENBASIS centered-dot exact
    // top-5 — an apples-to-apples truncation measurement (rotating
    // into the full eigenbasis preserves centered dots exactly, so
    // the ONLY approximation is the discarded spectrum, whose
    // captured-variance fraction rides along as the predicted
    // effectiveness). The q89 metric family: score_ratio under the
    // exact similarity, recall as diagnostic.
    Query("q231_pca_ann", (s, d) => {
      import s.implicits._
      val P = graft.llmops.Pca
      val emb = t(s, d, "embeddings").where($"embedding".isNotNull)
        .localCheckpoint(false)
      val m = P.fit(emb, k = 8) // full basis; search truncates to 4
      val kept = 4
      val explainedFrac = {
        val tot = m.explained.sum
        if (tot > 0) m.explained.take(kept).sum / tot else 1.0
      }
      if (materializing) {
        val comps = for {
          c <- m.components.indices; i <- 0 until m.d
        } yield (c, i, m.components(c)(i))
        materialize(comps.toDF("component", "idx", "w"), "q231_components")
        materialize(m.mean.zipWithIndex.map(p => (p._2, p._1))
          .toSeq.toDF("idx", "m"), "q231_mean")
        materialize(m.explained.zipWithIndex.map(p => (p._2, p._1))
          .toSeq.toDF("component", "explained"), "q231_explained")
      }
      // centered coordinates in DOUBLE (the q230 discipline), via the
      // centered mat-vec kernel — one call per row, not a k×d tree
      def coords(df: org.apache.spark.sql.DataFrame, idAs: String,
                 prefix: String) = {
        df.select($"vec_id".as(idAs),
            P.projection($"embedding", m, asFloat = false).as("__pc"))
          .select((col(idAs) +: (0 until m.k).map(c =>
            element_at($"__pc", c + 1).as(s"$prefix$c"))): _*)
      }
      val corpus = coords(emb, "vec_id", "c").localCheckpoint(false)
      val queries = coords(emb.filter($"vec_id" < 5), "query_id", "q")
      def simOver(n: Int) = (0 until n).map(c =>
        col(s"c$c") * col(s"q$c")).reduce(_ + _)
      val scored = corpus.crossJoin(broadcast(queries))
        .filter($"vec_id" =!= $"query_id")
        .withColumn("sim_r", round(simOver(kept), 6))
        .withColumn("sim_full", round(simOver(m.k), 6))
        .localCheckpoint(false)
      def top5(simCol: String) = scored
        .groupBy($"query_id")
        .agg(graft.llmops.TopK.topK($"vec_id", col(simCol), 5).as("topk"))
        .select($"query_id", explode($"topk").as("t"))
        .select($"query_id", $"t._1".as("vec_id"))
      val picks = top5("sim_r")
      val exact = top5("sim_full")
      val trueDots = scored.select($"query_id", $"vec_id", $"sim_full")
      val sApprox = picks.join(trueDots, Seq("query_id", "vec_id"))
        .groupBy($"query_id").agg(sum($"sim_full").as("sa"))
      val sExact = exact.join(trueDots, Seq("query_id", "vec_id"))
        .groupBy($"query_id").agg(sum($"sim_full").as("se"))
      val hits = exact.join(picks, Seq("query_id", "vec_id"))
        .groupBy($"query_id").agg(count(lit(1)).as("h"))
      sExact
        .join(hits, Seq("query_id"), "left")
        .join(sApprox, Seq("query_id"), "left")
        .select($"query_id",
          coalesce($"h", lit(0L)).as("n_hits"),
          (coalesce($"h", lit(0L)) / 5.0).as("recall"),
          round(coalesce($"sa", lit(0.0)) / $"se", 4).as("score_ratio"),
          round(lit(explainedFrac), 4).as("explained_frac"),
          (round(coalesce($"sa", lit(0.0)) / $"se", 4) >= 0.3)
            .as("ratio_ok"))
        .orderBy($"query_id")
    },
      // PCA->ANN: centered coords from the dumped full eigenbasis;
      // picks over the first 4 components, exact over all 8, the
      // captured-spectrum fraction from the dumped eigenvalues
      s"""WITH comp AS (
           SELECT component, idx, w
           FROM read_parquet('$scratch/q231_components/*.parquet')),
         mn AS (
           SELECT idx, m
           FROM read_parquet('$scratch/q231_mean/*.parquet')),
         ex AS (
           SELECT component, explained
           FROM read_parquet('$scratch/q231_explained/*.parquet')),
         ef AS (
           SELECT round(
             sum(CASE WHEN component < 4 THEN explained ELSE 0 END)
               / sum(explained), 4) AS explained_frac
           FROM ex),
         ev AS (
           SELECT vec_id, i - 1 AS idx, embedding[i]::DOUBLE AS x
           FROM (SELECT vec_id, embedding FROM embeddings
                 WHERE embedding IS NOT NULL) e,
                unnest(generate_series(1, len(embedding))) AS g(i)),
         coords AS (
           SELECT c.component, ev.vec_id,
                  sum((ev.x - mn.m) * c.w) AS coord
           FROM ev
           JOIN mn ON mn.idx = ev.idx
           JOIN comp c ON c.idx = ev.idx
           GROUP BY 1, 2),
         sims AS (
           SELECT qc.vec_id AS query_id, cc.vec_id,
                  round(sum(CASE WHEN qc.component < 4
                    THEN qc.coord * cc.coord ELSE 0 END), 6) AS sim_r,
                  round(sum(qc.coord * cc.coord), 6) AS sim_full
           FROM coords qc
           JOIN coords cc ON cc.component = qc.component
           WHERE qc.vec_id < 5 AND cc.vec_id <> qc.vec_id
           GROUP BY 1, 2),
         picks AS (
           SELECT query_id, vec_id FROM (
             SELECT query_id, vec_id, row_number() OVER (
               PARTITION BY query_id ORDER BY sim_r DESC, vec_id) AS rk
             FROM sims) WHERE rk <= 5),
         exact AS (
           SELECT query_id, vec_id, sim_full FROM (
             SELECT query_id, vec_id, sim_full, row_number() OVER (
               PARTITION BY query_id ORDER BY sim_full DESC, vec_id) AS rk
             FROM sims) WHERE rk <= 5),
         sa AS (
           SELECT p.query_id, sum(s.sim_full) AS sa
           FROM picks p JOIN sims s
             ON s.query_id = p.query_id AND s.vec_id = p.vec_id
           GROUP BY 1),
         se AS (SELECT query_id, sum(sim_full) AS se
                FROM exact GROUP BY 1),
         h AS (
           SELECT e.query_id, count(*) AS h
           FROM exact e JOIN picks p
             ON p.query_id = e.query_id AND p.vec_id = e.vec_id
           GROUP BY 1)
         SELECT se.query_id,
                coalesce(h.h, 0) AS n_hits,
                coalesce(h.h, 0) / 5.0 AS recall,
                round(coalesce(sa.sa, 0) / se.se, 4) AS score_ratio,
                ef.explained_frac,
                (round(coalesce(sa.sa, 0) / se.se, 4) >= 0.3) AS ratio_ok
         FROM se
         LEFT JOIN h USING (query_id)
         LEFT JOIN sa USING (query_id), ef
         ORDER BY query_id"""),

    // llmops pluggable word segmentation (X206): the SAME BM25 batch
    // under the char-level default vs a dictionary (maximal-munch)
    // segmenter, over a planted-Thai corpus built so the ranking
    // FLIPS — decoy docs made of the reversed word share every
    // CODEPOINT with the query word (char-level cannot tell them
    // apart and ranks them higher on tf) but share no WORD (the
    // dictionary segmenter drops them entirely). The oracle mirrors
    // char-level with the q169 isolation regex and the dictionary
    // with a longest-word-first replace chain (exact greedy mirror on
    // the planted corpus).
    Query("q232_bm25_segmented", (s, d) => {
      import s.implicits._
      val Seg = graft.llmops.Segmenter
      val base = t(s, d, "documents").select($"doc_id", $"text")
      val planted = base.filter($"doc_id" < 20).select(
        ($"doc_id" + 970000).as("doc_id"),
        when($"doc_id" % 2 === 0,
          concat(lit("ข้อมูล"),
            repeat(lit("ทดสอบ"), ($"doc_id" % 3 + 1).cast("int"))))
          .otherwise(repeat(lit("มูลข้อ"), ($"doc_id" % 3 + 2).cast("int")))
          .as("text"))
      val docs = base.unionByName(planted)
      val queries = Seq((0L, "ข้อมูล"), (1L, "ทดสอบดี"))
        .toDF("query_id", "text")
      val dict = Seg.Dictionary(
        Set("ข้อมูล", "มูลข้อ", "ทดสอบ", "คุณภาพ", "ดี"))
      def side(tag: String, seg: graft.llmops.Segmenter) =
        graft.llmops.Bm25.topKBatch(docs, queries, k = 8, seg = seg)
          .withColumn("segmenter", lit(tag))
      side("char", Seg.CharLevel).unionByName(side("dict", dict))
        .select($"segmenter", $"query_id", $"rk", $"doc_id",
          $"n_terms_hit", $"score")
        .orderBy($"segmenter", $"query_id", $"rk")
    },
      // segmented BM25: char-level mirrored with the q169 isolation
      // regex; the dictionary segmenter mirrored with a longest-word-
      // first replace chain (exact greedy-maximal-munch mirror on the
      // planted corpus — the decoy word is replaced before the query
      // word so the straddling occurrence never matches, like greedy)
      """WITH w AS (SELECT
           chr(3586)||chr(3657)||chr(3629)||chr(3617)||chr(3641)||chr(3621) AS data_w,
           chr(3617)||chr(3641)||chr(3621)||chr(3586)||chr(3657)||chr(3629) AS rev_w,
           chr(3607)||chr(3604)||chr(3626)||chr(3629)||chr(3610) AS test_w,
           chr(3588)||chr(3640)||chr(3603)||chr(3616)||chr(3634)||chr(3614) AS qual_w,
           chr(3604)||chr(3637) AS good_w),
         docs2 AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 970000 AS doc_id,
                  CASE WHEN doc_id % 2 = 0
                    THEN (SELECT data_w FROM w) ||
                         repeat((SELECT test_w FROM w), (doc_id % 3 + 1)::int)
                    ELSE repeat((SELECT rev_w FROM w), (doc_id % 3 + 2)::int)
                  END AS text
           FROM documents WHERE doc_id < 20),
         segged AS (
           SELECT 'char' AS seg, doc_id, text,
                  regexp_replace(text,
                    '([\x{0e00}-\x{0e7f}\x{0e80}-\x{0eff}\x{1000}-\x{109f}\x{1780}-\x{17ff}\x{3040}-\x{30ff}\x{3400}-\x{4dbf}\x{4e00}-\x{9fff}\x{f900}-\x{faff}])',
                    ' \1 ', 'g') AS st
           FROM docs2
           UNION ALL
           SELECT 'dict', doc_id, text,
                  replace(replace(replace(replace(replace(text,
                    (SELECT rev_w FROM w), ' '||(SELECT rev_w FROM w)||' '),
                    (SELECT data_w FROM w), ' '||(SELECT data_w FROM w)||' '),
                    (SELECT test_w FROM w), ' '||(SELECT test_w FROM w)||' '),
                    (SELECT qual_w FROM w), ' '||(SELECT qual_w FROM w)||' '),
                    (SELECT good_w FROM w), ' '||(SELECT good_w FROM w)||' ')
           FROM docs2),
         tl AS (
           SELECT seg, doc_id,
                  string_split_regex(lower(trim(st)), '\s+') AS l,
                  CASE WHEN length(trim(text)) = 0 THEN 0
                       ELSE len(string_split_regex(lower(trim(st)), '\s+'))
                  END AS dl
           FROM segged),
         stats AS (
           SELECT seg, count(*)::DOUBLE AS n, avg(dl::DOUBLE) AS avgdl
           FROM tl GROUP BY 1),
         qdocs AS (
           SELECT 0 AS qid, (SELECT data_w FROM w) AS text
           UNION ALL
           SELECT 1, (SELECT test_w FROM w)||(SELECT good_w FROM w)),
         qsegged AS (
           SELECT 'char' AS seg, qid,
                  regexp_replace(text,
                    '([\x{0e00}-\x{0e7f}\x{0e80}-\x{0eff}\x{1000}-\x{109f}\x{1780}-\x{17ff}\x{3040}-\x{30ff}\x{3400}-\x{4dbf}\x{4e00}-\x{9fff}\x{f900}-\x{faff}])',
                    ' \1 ', 'g') AS st
           FROM qdocs
           UNION ALL
           SELECT 'dict', qid,
                  replace(replace(replace(replace(replace(text,
                    (SELECT rev_w FROM w), ' '||(SELECT rev_w FROM w)||' '),
                    (SELECT data_w FROM w), ' '||(SELECT data_w FROM w)||' '),
                    (SELECT test_w FROM w), ' '||(SELECT test_w FROM w)||' '),
                    (SELECT qual_w FROM w), ' '||(SELECT qual_w FROM w)||' '),
                    (SELECT good_w FROM w), ' '||(SELECT good_w FROM w)||' ')
           FROM qdocs),
         q AS (
           SELECT DISTINCT seg, qid, term FROM (
             SELECT seg, qid,
                    unnest(string_split_regex(lower(trim(st)), '\s+')) AS term
             FROM qsegged)
           WHERE term <> ''),
         posts AS (SELECT seg, doc_id, dl, unnest(l) AS term FROM tl),
         tf AS (
           SELECT p.seg, p.doc_id, p.term, count(*)::BIGINT AS tf,
                  max(p.dl)::DOUBLE AS dl
           FROM posts p JOIN (SELECT DISTINCT seg, term FROM q) u
             ON u.seg = p.seg AND u.term = p.term
           GROUP BY 1, 2, 3),
         df AS (SELECT seg, term, count(*)::DOUBLE AS df
                FROM tf GROUP BY 1, 2),
         idf AS (
           SELECT df.seg, df.term,
                  ln(1.0 + (s.n - df.df + 0.5) / (df.df + 0.5)) AS idf
           FROM df JOIN stats s ON s.seg = df.seg),
         contrib AS (
           SELECT q.seg, q.qid, tf.doc_id,
                  idf.idf * (tf.tf * (1.2 + 1)) /
                    (tf.tf + 1.2 * (1.0 - 0.75 +
                      0.75 * tf.dl / s.avgdl)) AS c
           FROM tf
           JOIN idf ON idf.seg = tf.seg AND idf.term = tf.term
           JOIN q ON q.seg = tf.seg AND q.term = tf.term
           JOIN stats s ON s.seg = tf.seg),
         sc AS (
           SELECT seg, qid, doc_id, count(*)::BIGINT AS n_terms_hit,
                  round(sum(c), 4) AS score
           FROM contrib GROUP BY 1, 2, 3),
         ranked AS (
           SELECT seg, qid, doc_id, n_terms_hit, score, row_number() OVER (
             PARTITION BY seg, qid ORDER BY score DESC, doc_id) AS rk
           FROM sc QUALIFY rk <= 8)
         SELECT seg AS segmenter, qid::BIGINT AS query_id,
                rk::INTEGER AS rk, doc_id, n_terms_hit, score
         FROM ranked ORDER BY segmenter, query_id, rk"""),

    // io versioned corpus-table roots (X207): publish two snapshots of
    // a documents slice under one versioned root, then read CURRENT
    // through the pointer and audit v1→v2 with SnapshotDiff — the
    // oracle rebuilds both snapshots from the base table, so it checks
    // that the pointer genuinely resolved to v2 (stats equality) and
    // that the diff classified every key correctly.
    Query("q233_versioned_root", (s, d) => {
      import s.implicits._
      val VT = graft.io.VersionedTable
      val root = s"$scratch/q233_root"
      VT.drop(s, root) // deterministic v1/v2 numbering per run
      val docs = t(s, d, "documents")
        .select($"doc_id", $"source", $"n_chars")
      VT.publish(docs.filter($"doc_id" % 7 =!= 0), root) // v1
      VT.publish(
        docs.filter($"doc_id" % 11 =!= 0)
          .withColumn("n_chars", $"n_chars" +
            when($"doc_id" % 5 === 0, 1).otherwise(0)),
        root) // v2
      val cur = VT.readCurrent(s, root)
      val curStats = cur.agg(
          count(lit(1)).as("current_rows"),
          sum($"n_chars").cast("long").as("current_n_chars"))
        .withColumn("current_version",
          lit(VT.currentVersion(s, root).get))
      VT.diff(s, root, 1, 2, "doc_id")
        .groupBy($"status").agg(count(lit(1)).as("n_keys"))
        .crossJoin(broadcast(curStats))
        .select($"status", $"n_keys", $"current_version",
          $"current_rows", $"current_n_chars")
        .orderBy($"status")
    },
      // versioned root: both snapshots rebuilt from the base table, so
      // the compare proves the pointer resolved to v2 and the diff
      // classified every key
      """WITH v1 AS (
           SELECT doc_id, source, n_chars FROM documents
           WHERE doc_id % 7 <> 0),
         v2 AS (
           SELECT doc_id, source,
                  n_chars + CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END
                    AS n_chars
           FROM documents WHERE doc_id % 11 <> 0),
         st AS (
           SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
                  CASE WHEN a.doc_id IS NULL THEN 'added'
                       WHEN b.doc_id IS NULL THEN 'removed'
                       WHEN a.source = b.source AND a.n_chars = b.n_chars
                         THEN 'unchanged'
                       ELSE 'changed' END AS status
           FROM v1 a FULL JOIN v2 b ON b.doc_id = a.doc_id),
         cs AS (
           SELECT count(*)::BIGINT AS current_rows,
                  sum(n_chars)::BIGINT AS current_n_chars,
                  2 AS current_version
           FROM v2)
         SELECT st.status, count(*)::BIGINT AS n_keys,
                cs.current_version, cs.current_rows, cs.current_n_chars
         FROM st, cs
         GROUP BY 1, 3, 4, 5
         ORDER BY st.status"""),

    // llmops l-diversity audit (X208): the homogeneity attack
    // k-anonymity (q222) misses — classes with too few DISTINCT
    // sensitive values disclose by membership alone. Same release-
    // dashboard shape as q222; NULL sensitive counts as a value
    // (plain GROUP BY at both levels, not count(DISTINCT)).
    Query("q234_l_diversity", (s, d) => {
      import s.implicits._
      graft.llmops.Privacy.lDiversityAudit(
        t(s, d, "documents")
          .withColumn("len_bucket", floor($"n_chars" / 500)),
        Seq("source", "len_bucket"), "lang", l = 2)
    },
      // l-diversity: two-level GROUP BY (NULL sensitive = its own
      // group), same dashboard arithmetic as q222
      """WITH perv AS (
           SELECT source, floor(n_chars / 500) AS len_bucket, lang,
                  count(*) AS n
           FROM documents GROUP BY 1, 2, 3),
         cls AS (
           SELECT source, len_bucket, sum(n) AS rws, count(*) AS dv
           FROM perv GROUP BY 1, 2)
         SELECT 2 AS l, sum(rws)::BIGINT AS n_rows,
                count(*) AS n_classes,
                min(dv) AS min_distinct_sensitive,
                sum(CASE WHEN dv < 2 THEN 1 ELSE 0 END)::BIGINT
                  AS violating_classes,
                sum(CASE WHEN dv < 2 THEN rws ELSE 0 END)::BIGINT
                  AS violating_rows,
                round(sum(CASE WHEN dv < 2 THEN rws ELSE 0 END)
                  / sum(rws)::DOUBLE, 4) AS violating_row_rate
         FROM cls"""),

    // llmops embedding isotropy / effective-rank report (X209): is
    // the embedding's variance spread across directions (healthy) or
    // collapsed onto a few (the anisotropy pathology)? Full-spectrum
    // PCA fit + one norms aggregate; the trace identity
    // (Σλ = E‖x‖² − ‖μ‖²) audits the power iteration's own spectrum
    // against the raw data.
    Query("q235_isotropy", (s, d) => {
      import s.implicits._
      val P = graft.llmops.Pca
      val emb = t(s, d, "embeddings").where($"embedding".isNotNull)
      if (materializing) {
        val d0 = emb.select(size($"embedding")).head().getInt(0)
        val m = P.fit(emb, k = d0) // the report's own full spectrum
        materialize(m.explained.zipWithIndex.map(p => (p._2, p._1))
          .toSeq.toDF("component", "explained"), "q235_explained")
        materialize(m.mean.zipWithIndex.map(p => (p._2, p._1))
          .toSeq.toDF("idx", "m"), "q235_mean")
      }
      P.isotropyReport(emb)
    },
      // isotropy: spectrum stats replayed from the dumped eigenvalues;
      // norms, centroid, and the trace identity recomputed exactly from
      // the raw embeddings — the trace check audits the fit itself
      s"""WITH ex AS (
           SELECT component, explained
           FROM read_parquet('$scratch/q235_explained/*.parquet')),
         mn AS (
           SELECT idx, m
           FROM read_parquet('$scratch/q235_mean/*.parquet')),
         pernorm AS (
           SELECT vec_id, sqrt(sum(x * x)) AS nrm, sum(x * x) AS sq
           FROM (SELECT vec_id, embedding[i]::DOUBLE AS x
                 FROM (SELECT vec_id, embedding FROM embeddings
                       WHERE embedding IS NOT NULL) e,
                      unnest(generate_series(1, len(embedding))) AS g(i))
           GROUP BY vec_id),
         nm AS (
           SELECT count(*)::BIGINT AS n_vectors,
                  avg(nrm) AS mean_norm, avg(sq) AS mean_sq_norm
           FROM pernorm),
         ag AS (
           SELECT sum(explained) AS tot,
                  sum(explained * explained) AS ss,
                  max(CASE WHEN component = 0 THEN explained END) AS l1
           FROM ex),
         cn AS (SELECT sqrt(sum(m * m)) AS centroid_norm FROM mn),
         dm AS (SELECT max(len(embedding))::INTEGER AS dim
                FROM embeddings WHERE embedding IS NOT NULL)
         SELECT nm.n_vectors, dm.dim,
                round(ag.tot, 4) AS total_var,
                round(ag.l1 / ag.tot, 4) AS top1_share,
                round(ag.tot * ag.tot / ag.ss, 4) AS participation_ratio,
                round(ag.tot * ag.tot / ag.ss / dm.dim, 4)
                  AS effective_rank_frac,
                round(cn.centroid_norm, 4) AS centroid_norm,
                round(nm.mean_norm, 4) AS mean_norm,
                (abs(ag.tot - (nm.mean_sq_norm -
                   cn.centroid_norm * cn.centroid_norm)) <=
                 greatest(1e-4, (nm.mean_sq_norm -
                   cn.centroid_norm * cn.centroid_norm) * 0.01))
                  AS trace_ok
         FROM nm, ag, cn, dm"""),

    // llmops dehyphenation / line-wrap repair (X210): plant wraps
    // into clean text deterministically, then verify the repairs
    // restore the original — per-doc booleans, both engines running
    // the identical RE2-safe regex chain.
    Query("q236_dehyphenate", (s, d) => {
      import s.implicits._
      val T = graft.llmops.TextFuncs
      val docs = t(s, d, "documents").filter($"doc_id" < 200)
        .select($"doc_id", $"text")
      docs
        .withColumn("wrapped", regexp_replace($"text", "er", "-\ner"))
        .withColumn("broken", regexp_replace($"text", "\\. ", ".\n"))
        .select($"doc_id",
          ((length($"wrapped") - length($"text")) / 2).cast("long")
            .as("n_wraps"),
          (T.dehyphenate($"wrapped") === $"text").as("dehyph_restores"),
          (T.unwrapLines($"broken") === $"text").as("unwrap_restores"))
        .orderBy($"doc_id")
    },
      // dehyphenation: identical plant + identical RE2 repair chain in
      // both engines; the booleans assert restoration per doc
      """WITH base AS (
           SELECT doc_id, text FROM documents WHERE doc_id < 200),
         planted AS (
           SELECT doc_id, text,
                  regexp_replace(text, 'er', '-' || chr(10) || 'er', 'g')
                    AS wrapped,
                  regexp_replace(text, '\. ', '.' || chr(10), 'g')
                    AS broken
           FROM base)
         SELECT doc_id,
                ((length(wrapped) - length(text)) / 2)::BIGINT AS n_wraps,
                (regexp_replace(wrapped,
                   '(\p{L})-[ \t]*\n[ \t]*(\p{L})', '\1\2', 'g') = text)
                  AS dehyph_restores,
                (regexp_replace(regexp_replace(broken,
                   '(\p{L})-[ \t]*\n[ \t]*(\p{L})', '\1\2', 'g'),
                   '([^\n])\n([^\n])', '\1 \2', 'g') = text)
                  AS unwrap_restores
         FROM planted ORDER BY doc_id"""),

    // llmops PSI drift report (X211): document-length distribution of
    // a deterministically shifted "current" snapshot binned by the
    // reference's exact deciles — the numeric-axis drift verdict next
    // to q216's categorical χ².
    Query("q237_psi_drift", (s, d) => {
      import s.implicits._
      val base = t(s, d, "documents").select($"doc_id", $"n_chars")
      val ref = base.filter($"doc_id" % 2 === 0).select($"n_chars".as("v"))
      val cur = base.filter($"doc_id" % 2 =!= 0)
        .select(($"n_chars" + ($"doc_id" % 7) * 40).as("v"))
      graft.llmops.Binning.psiReport(ref, cur, "v", bins = 10)
        .orderBy($"bin")
    },
      // PSI: reference deciles (exact interpolated, 6dp), bin = count
      // of edges strictly below the value, clamped-log contributions
      """WITH refv AS (
           SELECT n_chars::DOUBLE AS v FROM documents
           WHERE doc_id % 2 = 0 AND n_chars IS NOT NULL),
         curv AS (
           SELECT (n_chars + (doc_id % 7) * 40)::DOUBLE AS v
           FROM documents WHERE doc_id % 2 <> 0 AND n_chars IS NOT NULL),
         ed AS (
           SELECT list_transform(
             quantile_cont(v, [0.1, 0.2, 0.3, 0.4, 0.5,
                               0.6, 0.7, 0.8, 0.9]),
             x -> round(x, 6)) AS el
           FROM refv),
         b AS (SELECT unnest(generate_series(0, 9)) AS bin),
         rc AS (
           SELECT (SELECT count(*) FROM ed, unnest(ed.el) AS t(e)
                   WHERE e < v) AS bin, count(*) AS n_ref
           FROM refv GROUP BY 1),
         cc AS (
           SELECT (SELECT count(*) FROM ed, unnest(ed.el) AS t(e)
                   WHERE e < v) AS bin, count(*) AS n_cur
           FROM curv GROUP BY 1),
         j AS (
           SELECT b.bin, coalesce(rc.n_ref, 0)::BIGINT AS n_ref,
                  coalesce(cc.n_cur, 0)::BIGINT AS n_cur
           FROM b LEFT JOIN rc ON rc.bin = b.bin
                  LEFT JOIN cc ON cc.bin = b.bin),
         p AS (
           SELECT bin, n_ref, n_cur,
                  n_ref / (sum(n_ref) OVER ())::DOUBLE AS p_ref,
                  n_cur / (sum(n_cur) OVER ())::DOUBLE AS p_cur
           FROM j),
         c AS (
           SELECT *, (p_cur - p_ref) *
                  ln(greatest(p_cur, 1e-6) / greatest(p_ref, 1e-6))
                    AS contrib
           FROM p)
         SELECT c.bin::INTEGER AS bin,
                CASE WHEN c.bin > 0 THEN ed.el[c.bin] END AS lo,
                CASE WHEN c.bin < 9 THEN ed.el[c.bin + 1] END AS hi,
                c.n_ref, c.n_cur,
                round(c.p_ref, 4) AS p_ref, round(c.p_cur, 4) AS p_cur,
                round(c.contrib, 4) AS contrib,
                round(sum(c.contrib) OVER (), 4) AS psi
         FROM c, ed ORDER BY bin"""),

    // llmops Good-Turing unseen mass (X212): P(next token is a new
    // type) ≈ N1/N per source — the point-in-time under-sampling
    // probe next to q223's diachronic Heaps profile.
    Query("q238_good_turing", (s, d) => {
      import s.implicits._
      graft.llmops.Vocab.goodTuringReport(t(s, d, "documents"))
        .orderBy($"source")
    },
      // Good-Turing: the q169 tokenizer mirror feeding one term-count
      // table, then pure arithmetic
      """WITH tok AS (
           SELECT source,
                  unnest(string_split_regex(lower(trim(regexp_replace(text,
                    '([\x{0e00}-\x{0e7f}\x{0e80}-\x{0eff}\x{1000}-\x{109f}\x{1780}-\x{17ff}\x{3040}-\x{30ff}\x{3400}-\x{4dbf}\x{4e00}-\x{9fff}\x{f900}-\x{faff}])',
                    ' \1 ', 'g'))), '\s+')) AS t
           FROM documents),
         tc AS (
           SELECT source, t, count(*) AS c
           FROM tok WHERE t <> '' GROUP BY 1, 2)
         SELECT source, sum(c)::BIGINT AS n_tokens, count(*) AS vocab,
                sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::BIGINT
                  AS singletons,
                sum(CASE WHEN c = 2 THEN 1 ELSE 0 END)::BIGINT
                  AS doubletons,
                round(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                  / sum(c)::DOUBLE, 4) AS unseen_mass,
                round(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                  / count(*)::DOUBLE, 4) AS singleton_share,
                CASE WHEN sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) > 0
                  THEN round(2.0 * sum(CASE WHEN c = 2 THEN 1 ELSE 0 END)
                    / sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::DOUBLE, 4)
                END AS gt_singleton_discount
         FROM tc GROUP BY source ORDER BY source"""),

    // llmops Luhn-gated card redaction (X213): four planted card
    // constants per doc (two valid, one valid-with-separators, one
    // Luhn-failing) — the oracle re-runs the candidate regex AND the
    // mod-10 checksum digit by digit, then verifies the redaction via
    // occurrence-count length arithmetic.
    Query("q239_card_redaction", (s, d) => {
      import s.implicits._
      val T = graft.llmops.TextFuncs
      val cards = array(lit("4111111111111111"),
        lit("4111 1111 1111 1111"), lit("5500-0055-5555-5559"),
        lit("4111111111111112"))
      val planted = t(s, d, "documents")
        .filter($"doc_id" < 100 && $"text".isNotNull)
        .select($"doc_id", concat($"text", lit(" card: "),
          element_at(cards, ($"doc_id" % 4 + 1).cast("int"))).as("t2"))
      planted.select($"doc_id",
          size(T.cardCandidates($"t2")).as("n_candidates"),
          size(T.validCards($"t2")).as("n_valid"),
          length(T.redactCards($"t2")).as("redacted_len"),
          (size(split(T.redactCards($"t2"), "<CARD>", -1)) - 1)
            .as("n_tags"))
        .orderBy($"doc_id")
    },
      // card redaction: candidate regex + digit-by-digit Luhn replayed;
      // redaction pinned by occurrence-count length arithmetic (replace
      // is literal-string replace-all in both engines)
      """WITH planted AS (
           SELECT doc_id, text || ' card: ' ||
                  (['4111111111111111', '4111 1111 1111 1111',
                    '5500-0055-5555-5559', '4111111111111112'])
                    [(doc_id % 4 + 1)::int] AS t2
           FROM documents WHERE doc_id < 100 AND text IS NOT NULL),
         cands AS (
           SELECT doc_id, t2,
                  unnest(regexp_extract_all(t2,
                    '\b\d(?:[ -]?\d){12,18}\b')) AS raw
           FROM planted),
         luhn AS (
           SELECT doc_id, t2, raw,
                  (length(regexp_replace(raw, '[ -]', '', 'g'))
                     BETWEEN 13 AND 19) AND
                  ((SELECT sum(CASE WHEN g.i % 2 = 0 THEN
                      CASE WHEN substring(reverse(regexp_replace(raw,
                             '[ -]', '', 'g')), g.i, 1)::INT * 2 > 9
                        THEN substring(reverse(regexp_replace(raw,
                             '[ -]', '', 'g')), g.i, 1)::INT * 2 - 9
                        ELSE substring(reverse(regexp_replace(raw,
                             '[ -]', '', 'g')), g.i, 1)::INT * 2 END
                    ELSE substring(reverse(regexp_replace(raw,
                           '[ -]', '', 'g')), g.i, 1)::INT END)
                    FROM unnest(generate_series(1,
                      length(regexp_replace(raw, '[ -]', '', 'g'))))
                      AS g(i)) % 10 = 0) AS ok
           FROM cands),
         vdist AS (SELECT DISTINCT doc_id, t2, raw FROM luhn WHERE ok),
         vocc AS (
           SELECT doc_id,
                  length(regexp_extract_all(t2, '\b' || raw || '\b'))
                    AS occ,
                  length(raw) AS lr
           FROM vdist),
         rem AS (
           SELECT doc_id, sum(occ * (lr - 6)) AS removed,
                  sum(occ) AS tags
           FROM vocc GROUP BY 1),
         pc AS (SELECT doc_id, count(*) AS nc FROM cands GROUP BY 1),
         pv AS (SELECT doc_id, count(*) AS nv
                FROM luhn WHERE ok GROUP BY 1)
         SELECT p.doc_id,
                coalesce(pc.nc, 0)::INTEGER AS n_candidates,
                coalesce(pv.nv, 0)::INTEGER AS n_valid,
                (length(p.t2) - coalesce(rem.removed, 0))::INTEGER
                  AS redacted_len,
                coalesce(rem.tags, 0)::INTEGER AS n_tags
         FROM planted p
         LEFT JOIN pc USING (doc_id)
         LEFT JOIN pv USING (doc_id)
         LEFT JOIN rem USING (doc_id)
         ORDER BY p.doc_id"""),

    // llmops embedding-outlier report (X214): plant one vector scaled
    // 100x and ask for the top-10 centroid-distance z-scores — the
    // pre-index hygiene pass, exact and fully replayed in SQL.
    Query("q240_embedding_outliers", (s, d) => {
      import s.implicits._
      val base = t(s, d, "embeddings").where($"embedding".isNotNull)
        .select($"vec_id", $"embedding")
      val planted = base.unionByName(
        base.filter($"vec_id" === 0).select(lit(990000L).as("vec_id"),
          transform($"embedding", x => (x * 100f).cast("float"))
            .as("embedding")))
      graft.llmops.VectorFuncs.embeddingOutliers(planted, k = 10)
    },
      // embedding outliers: centroid, distances, z-scores, and the
      // rounded-rank top-10 all recomputed exactly
      """WITH base AS (
           SELECT vec_id, embedding FROM embeddings
           WHERE embedding IS NOT NULL),
         pl AS (
           SELECT vec_id, embedding FROM base
           UNION ALL
           SELECT 990000::BIGINT,
                  list_transform(embedding, x -> (x * 100)::REAL)
           FROM base WHERE vec_id = 0),
         ev AS (
           SELECT vec_id, i - 1 AS idx, embedding[i]::DOUBLE AS x
           FROM pl, unnest(generate_series(1, len(embedding))) AS g(i)),
         mu AS (SELECT idx, avg(x) AS m FROM ev GROUP BY idx),
         dist AS (
           SELECT vec_id, sqrt(sum((x - m) * (x - m))) AS dist
           FROM ev JOIN mu USING (idx) GROUP BY vec_id),
         st AS (SELECT avg(dist) AS mu, stddev_pop(dist) AS sd
                FROM dist),
         z AS (
           SELECT vec_id, round(dist, 4) AS dist,
                  round(CASE WHEN st.sd > 0
                    THEN (dist - st.mu) / st.sd ELSE 0 END, 4) AS z
           FROM dist, st),
         r AS (
           SELECT vec_id, dist, z, row_number() OVER (
             ORDER BY z DESC, vec_id) AS rk
           FROM z QUALIFY rk <= 10)
         SELECT rk::INTEGER AS rk, vec_id, dist, z
         FROM r ORDER BY rk"""),

    // ops graph health report (X215): reciprocity + degree
    // assortativity over a synthetic link graph with a planted
    // reciprocal layer and self-loops — the whole-graph sanity
    // numbers next to the per-node PageRank/HITS/triangle family.
    Query("q241_graph_health", (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val fwd = docs.select($"doc_id".as("src"), explode(array(
        pmod($"doc_id" * 7919 + 1, lit(500)),
        pmod($"doc_id" + 3, lit(500)))).as("dst"))
      val recip = docs.filter($"doc_id" % 5 === 0)
        .select(pmod($"doc_id" + 3, lit(500)).as("src"),
          $"doc_id".as("dst"))
      val loops = docs.filter($"doc_id" % 97 === 0)
        .select($"doc_id".as("src"), $"doc_id".as("dst"))
      graft.ops.GraphStats.healthReport(
        fwd.unionByName(recip).unionByName(loops))
    },
      // graph health: distinct edges, reciprocity semi-join, and the
      // Pearson moment formula term by term
      """WITH raw AS (
           SELECT doc_id AS src, (doc_id * 7919 + 1) % 500 AS dst
           FROM documents
           UNION ALL
           SELECT doc_id, (doc_id + 3) % 500 FROM documents
           UNION ALL
           SELECT (doc_id + 3) % 500, doc_id FROM documents
           WHERE doc_id % 5 = 0
           UNION ALL
           SELECT doc_id, doc_id FROM documents WHERE doc_id % 97 = 0),
         e AS (SELECT DISTINCT src AS s, dst AS t FROM raw),
         ns AS (SELECT s, t FROM e WHERE s <> t),
         rcp AS (
           SELECT count(*) AS r FROM ns a
           WHERE EXISTS (SELECT 1 FROM ns b
                         WHERE b.s = a.t AND b.t = a.s)),
         outd AS (SELECT s, count(*) AS od FROM ns GROUP BY s),
         ind AS (SELECT t, count(*) AS id_ FROM ns GROUP BY t),
         pe AS (
           SELECT od::DOUBLE AS x, id_::DOUBLE AS y
           FROM ns JOIN outd USING (s) JOIN ind USING (t)),
         mom AS (
           SELECT count(*)::DOUBLE AS n, sum(x) AS sx, sum(y) AS sy,
                  sum(x * y) AS sxy, sum(x * x) AS sxx,
                  sum(y * y) AS syy
           FROM pe),
         cnt AS (
           SELECT count(*)::BIGINT AS n_edges,
                  sum(CASE WHEN s = t THEN 1 ELSE 0 END)::BIGINT
                    AS n_self_loops
           FROM e)
         SELECT cnt.n_edges, cnt.n_self_loops,
                round(CASE WHEN mom.n > 0
                  THEN rcp.r / mom.n ELSE 0 END, 4) AS reciprocity,
                round(CASE WHEN mom.n * mom.sxx - mom.sx * mom.sx > 0
                        AND mom.n * mom.syy - mom.sy * mom.sy > 0
                  THEN (mom.n * mom.sxy - mom.sx * mom.sy) /
                       sqrt((mom.n * mom.sxx - mom.sx * mom.sx) *
                            (mom.n * mom.syy - mom.sy * mom.sy))
                  END, 4) AS assortativity
         FROM cnt, rcp, mom"""),

    // streaming PSI twin, batch mode (X216): per-hour drift of the
    // events value distribution against a fixed reference — the q237
    // arithmetic as ONE streaming-legal windowed aggregate; the
    // streaming path is spec-pinned equal (EventStreamsSpec).
    Query("q242_psi_windows", (s, d) => {
      import s.implicits._
      graft.streaming.EventStreams.psiWindows(
          t(s, d, "events").select($"ts", $"value"),
          edges = Seq(5.0, 20.0, 100.0),
          refProps = Seq(0.4, 0.3, 0.2, 0.1),
          windowLen = "1 hour")
        .orderBy($"window_start")
    },
      // windowed PSI: hourly bins by the fixed reference edges, the
      // q237 clamped-log arithmetic per window
      """WITH ev AS (
           SELECT date_trunc('hour', ts) AS w, value,
                  (CASE WHEN value > 5.0 THEN 1 ELSE 0 END +
                   CASE WHEN value > 20.0 THEN 1 ELSE 0 END +
                   CASE WHEN value > 100.0 THEN 1 ELSE 0 END) AS bin
           FROM events WHERE value IS NOT NULL),
         wc AS (
           SELECT w, count(*) AS n,
                  sum(CASE WHEN bin = 0 THEN 1 ELSE 0 END) AS n0,
                  sum(CASE WHEN bin = 1 THEN 1 ELSE 0 END) AS n1,
                  sum(CASE WHEN bin = 2 THEN 1 ELSE 0 END) AS n2,
                  sum(CASE WHEN bin = 3 THEN 1 ELSE 0 END) AS n3
           FROM ev GROUP BY w)
         SELECT w AS window_start, n::BIGINT AS n,
                round(
                  (n0 / n::DOUBLE - 0.4) *
                    ln(greatest(n0 / n::DOUBLE, 1e-6) / 0.4) +
                  (n1 / n::DOUBLE - 0.3) *
                    ln(greatest(n1 / n::DOUBLE, 1e-6) / 0.3) +
                  (n2 / n::DOUBLE - 0.2) *
                    ln(greatest(n2 / n::DOUBLE, 1e-6) / 0.2) +
                  (n3 / n::DOUBLE - 0.1) *
                    ln(greatest(n3 / n::DOUBLE, 1e-6) / 0.1), 4) AS psi
         FROM wc ORDER BY window_start"""),

    // llmops fuzzy entity matching (X218): first-word "names" plus
    // planted 2↔3-character transposition twins — blocked JW pairs;
    // the oracle runs DuckDB's own jaro_winkler_similarity, so the
    // kernel's conventions (window, transpositions, 0.7 boost
    // threshold, prefix cap 4) are pinned against an independent
    // implementation, not a mirror of ours.
    Query("q243_fuzzy_pairs", (s, d) => {
      import s.implicits._
      val base = t(s, d, "documents")
        .filter($"doc_id" < 200 && $"text".isNotNull)
        .select($"doc_id",
          lower(element_at(split(trim($"text"), "\\s+"), 1)).as("name"))
        .filter(length($"name") >= 4)
      val twins = base.filter($"doc_id" < 30)
        .select(($"doc_id" + 980000).as("doc_id"),
          concat(substring($"name", 1, 1), substring($"name", 3, 1),
            substring($"name", 2, 1), expr("substring(name, 4)"))
            .as("name"))
      graft.llmops.Fuzzy.jaroWinklerPairs(base.unionByName(twins),
          threshold = 0.85, idCol = "doc_id", nameCol = "name")
        .orderBy($"id_a", $"id_b")
    },
      // fuzzy pairs: DuckDB's OWN jaro_winkler_similarity judges the
      // kernel — an independent implementation, not a mirror
      """WITH base AS (
           SELECT doc_id,
                  lower(string_split_regex(trim(text), '\s+')[1]) AS name
           FROM documents WHERE doc_id < 200 AND text IS NOT NULL),
         b2 AS (SELECT doc_id, name FROM base WHERE length(name) >= 4),
         twins AS (
           SELECT doc_id + 980000 AS doc_id,
                  substring(name, 1, 1) || substring(name, 3, 1) ||
                  substring(name, 2, 1) || substring(name, 4) AS name
           FROM b2 WHERE doc_id < 30),
         al AS (SELECT * FROM b2 UNION ALL SELECT * FROM twins),
         slim AS (
           SELECT doc_id, name, unnest(list_distinct([
                    concat(substring(name, 1, 1), '_',
                      (length(name) // 4)::VARCHAR),
                    concat(substring(name, 1, 1), '_',
                      ((length(name) + 1) // 4)::VARCHAR)])) AS blk
           FROM al),
         pairs AS (
           SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                  a.name AS name_a, b.name AS name_b,
                  round(jaro_winkler_similarity(a.name, b.name), 4) AS jw
           FROM slim a JOIN slim b
             ON b.blk = a.blk AND a.doc_id < b.doc_id)
         SELECT id_a, id_b, name_a, name_b, jw
         FROM pairs WHERE jw >= 0.85
         ORDER BY id_a, id_b"""),

    // ops single change-point (X219): per event type, the bucket after
    // which the hourly level shifted most (least-squares two-segment
    // criterion); cumsums, segment means, and the earliest-argmax all
    // replay relationally.
    Query("q244_change_point", (s, d) => {
      import s.implicits._
      graft.ops.Anomaly.changePoint(t(s, d, "events"),
          bucketMillis = 3600000L)
        .orderBy($"event_type")
    },
      // change point: cumsums + two-segment means + earliest argmax
      """WITH c AS (
           SELECT event_type, epoch_ms(ts) // 3600000 AS bucket,
                  count(*) AS n
           FROM events GROUP BY 1, 2),
         w AS (
           SELECT event_type, bucket, n,
                  row_number() OVER pw AS idx,
                  sum(n) OVER (PARTITION BY event_type ORDER BY bucket
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS cum,
                  count(*) OVER (PARTITION BY event_type) AS t,
                  sum(n) OVER (PARTITION BY event_type) AS tot
           FROM c
           WINDOW pw AS (PARTITION BY event_type ORDER BY bucket)),
         s AS (
           SELECT event_type, bucket, idx,
                  t - idx AS n_after,
                  cum / idx::DOUBLE AS mb,
                  (tot - cum) / (t - idx)::DOUBLE AS ma,
                  round(idx * (t - idx) / t::DOUBLE *
                    (cum / idx::DOUBLE -
                     (tot - cum) / (t - idx)::DOUBLE) ^ 2, 4) AS score
           FROM w WHERE idx < t),
         pick AS (
           SELECT event_type, bucket AS split_bucket,
                  idx AS n_before, n_after,
                  round(mb, 4) AS mean_before, round(ma, 4) AS mean_after,
                  score, row_number() OVER (PARTITION BY event_type
                    ORDER BY score DESC, bucket) AS rk
           FROM s QUALIFY rk = 1)
         SELECT event_type, split_bucket, n_before::BIGINT AS n_before,
                n_after::BIGINT AS n_after, mean_before, mean_after,
                score
         FROM pick ORDER BY event_type"""),

    // io column-profile drift (X220): two published snapshots with a
    // removed column, an added column, and a null-rate shift — the
    // schema-level companion of q233's row diff.
    Query("q245_profile_drift", (s, d) => {
      import s.implicits._
      val VT = graft.io.VersionedTable
      val root = s"$scratch/q245_root"
      VT.drop(s, root)
      val docs = t(s, d, "documents")
      VT.publish(docs.select($"doc_id", $"source", $"lang", $"n_chars"),
        root) // v1
      VT.publish(docs.select($"doc_id", $"source",
        when($"doc_id" % 13 =!= 0, $"lang").as("lang"),
        floor($"n_chars" / 500).as("len_bucket")), root) // v2
      VT.profileDrift(s, root, 1, 2).orderBy($"col_name")
    },
      // profile drift: null rates per column recomputed from the same
      // derivations; presence booleans by construction
      """WITH n AS (SELECT count(*)::DOUBLE AS c FROM documents)
         SELECT * FROM (
           SELECT 'doc_id' AS col_name, TRUE AS in_from, TRUE AS in_to,
                  round((SELECT sum(CASE WHEN doc_id IS NULL THEN 1
                    ELSE 0 END) FROM documents) / n.c, 4)
                    AS null_rate_from,
                  round((SELECT sum(CASE WHEN doc_id IS NULL THEN 1
                    ELSE 0 END) FROM documents) / n.c, 4)
                    AS null_rate_to,
                  0.0 AS null_rate_delta
           FROM n
           UNION ALL
           SELECT 'source', TRUE, TRUE,
                  round((SELECT sum(CASE WHEN source IS NULL THEN 1
                    ELSE 0 END) FROM documents) / n.c, 4),
                  round((SELECT sum(CASE WHEN source IS NULL THEN 1
                    ELSE 0 END) FROM documents) / n.c, 4),
                  0.0
           FROM n
           UNION ALL
           SELECT 'lang', TRUE, TRUE,
                  round((SELECT sum(CASE WHEN lang IS NULL THEN 1
                    ELSE 0 END) FROM documents) / n.c, 4),
                  round((SELECT sum(CASE WHEN lang IS NULL OR
                    doc_id % 13 = 0 THEN 1 ELSE 0 END)
                    FROM documents) / n.c, 4),
                  round((SELECT sum(CASE WHEN lang IS NULL OR
                    doc_id % 13 = 0 THEN 1 ELSE 0 END)
                    FROM documents) / n.c -
                    (SELECT sum(CASE WHEN lang IS NULL THEN 1
                    ELSE 0 END) FROM documents) / n.c, 4)
           FROM n
           UNION ALL
           SELECT 'n_chars', TRUE, FALSE,
                  round((SELECT sum(CASE WHEN n_chars IS NULL THEN 1
                    ELSE 0 END) FROM documents) / n.c, 4),
                  NULL, NULL
           FROM n
           UNION ALL
           SELECT 'len_bucket', FALSE, TRUE, NULL,
                  round((SELECT sum(CASE WHEN n_chars IS NULL THEN 1
                    ELSE 0 END) FROM documents) / n.c, 4),
                  NULL
           FROM n)
         ORDER BY col_name"""),

    // llmops soft dedup (X221): near-dup families down-weighted to
    // 1/|cluster| instead of dropped — LSH proposes, CC labels, the
    // oracle replays the clustering from the dumped edges (q69
    // machinery) and the weight arithmetic exactly.
    Query("q246_soft_dedup", (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      materialize(graft.llmops.Dedup.minhashPairs(docs, threshold = 0.7)
        .select($"id_a", $"id_b"), "q246_edges")
      graft.llmops.Dedup.softWeights(docs, threshold = 0.7)
        .orderBy($"doc_id")
    },
      // soft dedup: CC from the dumped LSH edges (the q69 recursive
      // CTE), singleton fallback, exact weight arithmetic
      s"""WITH RECURSIVE sym AS (
           SELECT id_a AS u, id_b AS v
           FROM read_parquet('$scratch/q246_edges/*.parquet')
           UNION
           SELECT id_b, id_a
           FROM read_parquet('$scratch/q246_edges/*.parquet')),
         nodes AS (SELECT DISTINCT u AS id FROM sym),
         walk(id, comp) AS (
           SELECT id, id FROM nodes
           UNION
           SELECT sym.v, walk.comp FROM walk JOIN sym ON sym.u = walk.id),
         labels AS (SELECT id, min(comp) AS component FROM walk GROUP BY id),
         lab2 AS (
           SELECT d.doc_id, coalesce(l.component, d.doc_id) AS cluster_id
           FROM documents d LEFT JOIN labels l ON l.id = d.doc_id),
         sz AS (SELECT cluster_id, count(*) AS cluster_size
                FROM lab2 GROUP BY 1)
         SELECT doc_id, cluster_id, cluster_size,
                round(1.0 / cluster_size, 4) AS weight
         FROM lab2 JOIN sz USING (cluster_id)
         ORDER BY doc_id"""),

    // llmops entity resolution end-to-end (X222): the q243 fuzzy
    // pairs → connected components → canonical record per entity;
    // oracle replays CC from the dumped pairs and rebuilds the name
    // table from the same derivation.
    Query("q247_entity_clusters", (s, d) => {
      import s.implicits._
      val base = t(s, d, "documents")
        .filter($"doc_id" < 200 && $"text".isNotNull)
        .select($"doc_id",
          lower(element_at(split(trim($"text"), "\\s+"), 1)).as("name"))
        .filter(length($"name") >= 4)
      val twins = base.filter($"doc_id" < 30)
        .select(($"doc_id" + 980000).as("doc_id"),
          concat(substring($"name", 1, 1), substring($"name", 3, 1),
            substring($"name", 2, 1), expr("substring(name, 4)"))
            .as("name"))
      val named = base.unionByName(twins)
      materialize(graft.llmops.Fuzzy.jaroWinklerPairs(named, 0.85,
        "doc_id", "name").select($"id_a", $"id_b"), "q247_pairs")
      graft.llmops.Fuzzy.entityClusters(named, threshold = 0.85,
          idCol = "doc_id", nameCol = "name")
        .orderBy($"entity_id")
    },
      // entity clusters: CC from the dumped fuzzy pairs; the canonical
      // record is the min-id member
      raw"""WITH RECURSIVE base AS (
           SELECT doc_id,
                  lower(string_split_regex(trim(text), '\s+')[1]) AS name
           FROM documents WHERE doc_id < 200 AND text IS NOT NULL),
         b2 AS (SELECT doc_id, name FROM base WHERE length(name) >= 4),
         twins AS (
           SELECT doc_id + 980000 AS doc_id,
                  substring(name, 1, 1) || substring(name, 3, 1) ||
                  substring(name, 2, 1) || substring(name, 4) AS name
           FROM b2 WHERE doc_id < 30),
         al AS (SELECT * FROM b2 UNION ALL SELECT * FROM twins),
         sym AS (
           SELECT id_a AS u, id_b AS v
           FROM read_parquet('$scratch/q247_pairs/*.parquet')
           UNION
           SELECT id_b, id_a
           FROM read_parquet('$scratch/q247_pairs/*.parquet')),
         nodes AS (SELECT DISTINCT u AS id FROM sym),
         walk(id, comp) AS (
           SELECT id, id FROM nodes
           UNION
           SELECT sym.v, walk.comp FROM walk JOIN sym ON sym.u = walk.id),
         labels AS (SELECT id, min(comp) AS component FROM walk GROUP BY id),
         lab2 AS (
           SELECT al.doc_id AS id, al.name,
                  coalesce(l.component, al.doc_id) AS entity_id
           FROM al LEFT JOIN labels l ON l.id = al.doc_id),
         agg AS (
           SELECT entity_id, count(*) AS n_members,
                  array_to_string(list_sort(array_agg(id)), ',') AS members
           FROM lab2 GROUP BY 1)
         SELECT a.entity_id, a.n_members, c.name AS canonical_name,
                a.members
         FROM agg a JOIN lab2 c ON c.id = a.entity_id
         ORDER BY a.entity_id"""),

    // llmops term burstiness (X223): variance-to-mean dispersion of
    // per-doc counts, zeros in closed form — topical terms clump,
    // function words scatter; exact moment arithmetic replays.
    Query("q248_burstiness", (s, d) => {
      import s.implicits._
      graft.llmops.Vocab.burstinessReport(t(s, d, "documents"),
        k = 50, minDf = 5)
    },
      // burstiness: zeros-in-closed-form dispersion from the term-count
      // table; HUGEINT sums cast back
      """WITH n AS (SELECT count(*)::DOUBLE AS c FROM documents
                    WHERE text IS NOT NULL),
         tok AS (
           SELECT doc_id,
                  unnest(string_split_regex(lower(trim(regexp_replace(text,
                    '([\x{0e00}-\x{0e7f}\x{0e80}-\x{0eff}\x{1000}-\x{109f}\x{1780}-\x{17ff}\x{3040}-\x{30ff}\x{3400}-\x{4dbf}\x{4e00}-\x{9fff}\x{f900}-\x{faff}])',
                    ' \1 ', 'g'))), '\s+')) AS term
           FROM documents WHERE text IS NOT NULL),
         tf AS (
           SELECT doc_id, term, count(*) AS tf
           FROM tok WHERE term <> '' GROUP BY 1, 2),
         ag AS (
           SELECT term, count(*) AS df, sum(tf)::BIGINT AS total_tf,
                  sum(tf * tf)::BIGINT AS s2
           FROM tf GROUP BY term),
         f AS (
           SELECT term, df, total_tf,
                  round(total_tf / n.c, 6) AS mean_tf,
                  round((s2 / n.c - (total_tf / n.c) ^ 2) /
                    (total_tf / n.c), 4) AS vmr
           FROM ag, n WHERE df >= 5),
         r AS (
           SELECT *, row_number() OVER (ORDER BY vmr DESC, term) AS rk
           FROM f QUALIFY rk <= 50)
         SELECT term, df, total_tf, mean_tf, vmr
         FROM r ORDER BY vmr DESC, term"""),

    // llmops quote detection (X224): benchmark docs planted as real
    // 21-token quotes of corpus docs (plus framing) — the audit must
    // size each quote, not just flag overlap; islands replayed in SQL.
    Query("q249_quote_spans", (s, d) => {
      import s.implicits._
      val T = graft.llmops.TextFuncs
      val docs = t(s, d, "documents").where($"text".isNotNull)
        .select($"doc_id", $"text")
      val bench = docs.filter($"doc_id" < 10).select(
        ($"doc_id" + 990000).as("doc_id"),
        concat(lit("benchframe opens here "),
          concat_ws(" ", slice(T.tokens($"text"), 5, 21)),
          lit(" and benchframe closes")).as("text"))
      graft.llmops.Dedup.quoteSpans(docs, bench, n = 8,
          minSharedNgrams = 3)
        .orderBy($"corpus_id", $"ref_id")
    },
      // quote spans: positional grams, the decontam anchor join, and
      // gaps-and-islands replayed relationally
      """WITH ctk AS (
           SELECT doc_id,
                  string_split_regex(lower(trim(text)), '\s+') AS tk
           FROM documents WHERE text IS NOT NULL),
         cg AS (
           SELECT doc_id AS corpus_id, i - 1 AS pos,
                  array_to_string(tk[i : least(i + 7, len(tk))], ' ') AS g
           FROM ctk,
                unnest(generate_series(1, greatest(len(tk) - 7, 1)))
                  AS s(i)),
         btk AS (
           SELECT doc_id + 990000 AS ref_id,
                  string_split_regex(lower(trim(
                    'benchframe opens here ' ||
                    array_to_string(tk[5 : 25], ' ') ||
                    ' and benchframe closes')), '\s+') AS tk
           FROM ctk WHERE doc_id < 10),
         bg AS (
           SELECT DISTINCT ref_id,
                  array_to_string(tk[i : least(i + 7, len(tk))], ' ') AS g
           FROM btk,
                unnest(generate_series(1, greatest(len(tk) - 7, 1)))
                  AS s(i)),
         h AS (
           SELECT cg.corpus_id, bg.ref_id, cg.pos
           FROM cg JOIN bg USING (g)),
         isl AS (
           SELECT corpus_id, ref_id, pos,
                  pos - row_number() OVER (
                    PARTITION BY corpus_id, ref_id ORDER BY pos) AS grp
           FROM h),
         runs AS (
           SELECT corpus_id, ref_id, grp, count(*) AS run
           FROM isl GROUP BY 1, 2, 3),
         f AS (
           SELECT corpus_id, ref_id,
                  sum(run)::BIGINT AS shared_ngrams,
                  (max(run) + 7)::BIGINT AS max_quote_tokens
           FROM runs GROUP BY 1, 2)
         SELECT * FROM f WHERE shared_ngrams >= 3
         ORDER BY corpus_id, ref_id"""),

    // io incremental publish (X225): a full snapshot plus two append
    // versions whose manifests chain back to it — the current read
    // serves the whole chain, a pinned mid-chain read serves only its
    // ancestors, and the lineage string pins the manifest resolution.
    Query("q250_append_publish", (s, d) => {
      import s.implicits._
      val VT = graft.io.VersionedTable
      val root = s"$scratch/q250_root"
      VT.drop(s, root) // deterministic version numbering per run
      val docs = t(s, d, "documents")
        .select($"doc_id", $"source", $"n_chars")
      VT.publish(docs.filter($"doc_id" % 3 === 0), root)       // v1
      VT.publishAppend(docs.filter($"doc_id" % 3 === 1), root) // v2
      VT.publishAppend(docs.filter($"doc_id" % 3 === 2), root) // v3
      VT.readCurrent(s, root)
        .agg(count(lit(1)).as("rows_v3"),
          sum($"n_chars").cast("long").as("chars_v3"))
        .crossJoin(broadcast(VT.read(s, root, 2)
          .agg(count(lit(1)).as("rows_v2"))))
        .withColumn("lineage_v3",
          lit(VT.lineage(s, root, 3).mkString(">")))
    },
      // append publish: the three doc_id%3 slices partition documents,
      // so the current chain is the whole table and v2's chain drops
      // the %3=2 slice; the lineage string is fixed by construction
      """SELECT (SELECT count(*) FROM documents)::BIGINT AS rows_v3,
                (SELECT sum(n_chars) FROM documents)::BIGINT AS chars_v3,
                (SELECT count(*) FROM documents
                 WHERE doc_id % 3 <> 2)::BIGINT AS rows_v2,
                '3>2>1' AS lineage_v3""")
  )
}
