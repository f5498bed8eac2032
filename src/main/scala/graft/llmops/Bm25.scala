package graft.llmops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Okapi BM25 retrieval scoring (Robertson & Zaragoza 2009, the
  * Lucene/Elasticsearch default) — the retrieval primitive a
  * training-data pipeline uses for query-targeted decontamination
  * ("find the documents that could answer this benchmark question")
  * and relevance-weighted corpus probes, where pure n-gram overlap
  * (X35) is too literal and embedding ANN (X48+) needs a trained
  * encoder.
  *
  *   score(d, q) = Σ_{t∈q} idf(t) · tf(t,d)·(k1+1) /
  *                          (tf(t,d) + k1·(1 − b + b·dl(d)/avgdl))
  *   idf(t) = ln(1 + (N − df(t) + 0.5)/(df(t) + 0.5))   (Lucene form,
  *            always ≥ 0)
  *
  * Scale shape: the query's term set broadcasts FIRST, so the only
  * corpus-sized work is one tokenize/explode whose output is
  * immediately semi-joined down to (doc, query-term, tf) slim rows —
  * text never shuffles, and non-matching terms never leave their map
  * task. Document lengths and avgdl are one aggregation each
  * (map-side combinable); df counts only the filtered term rows. The
  * final top-k is a sort-limit = TakeOrdered (per-partition heaps,
  * k-row driver merge), not a global sort. Everything is pure
  * dataflow, so the q103 oracle replays every score relationally.
  *
  * Reference-analog note: the reference ranks crawl links by a fixed
  * keyword indicator count (`earnings_scraper.py:120-141`,
  * `config.py:47-52`); BM25 is that scoring idea done properly —
  * tf-saturated, length-normalized, rarity-weighted.
  */
object Bm25 {

  /** Per-document term frequencies over the whitespace tokenizer:
    * (id, term, tf). One explode + one agg, map-side combinable.
    */
  def termFreqs(docs: DataFrame, idCol: String = "doc_id",
                textCol: String = "text",
                seg: Segmenter = Segmenter.CharLevel): DataFrame =
    docs.select(col(idCol).as("id"),
        explode(TextFuncs.tokens(col(textCol), seg)).as("term"))
      .groupBy("id", "term").agg(count(lit(1)).as("tf"))

  // ------------------------------------------------------------------
  // The ONE scoring pipeline. Every BM25 path — single-query, batch,
  // weighted rescore, index-served — goes through these three blocks,
  // so the float-exact formulas (and the oracle/parity contracts that
  // pin them) cannot drift apart across copies.
  // ------------------------------------------------------------------

  /** Corpus statistics: (n, avgdl) in ONE aggregation pass. */
  private[llmops] def corpusStats(docs: DataFrame, textCol: String,
                                  seg: Segmenter = Segmenter.CharLevel)
      : DataFrame =
    docs.select(
        TextFuncs.tokenCount(col(textCol), seg).cast("double").as("dl"))
      .agg(count(lit(1)).cast("double").as("n"), avg(col("dl")).as("avgdl"))

  /** Slim posting rows for the given term set only: (id, term, tf, dl).
    * The broadcast semi-join runs inside the explode's map task, and
    * dl RIDES the posting rows (computed in the same scan) so no
    * corpus-sized length table ever needs joining back.
    */
  private[llmops] def corpusTf(docs: DataFrame, uniqTerms: DataFrame,
                               idCol: String, textCol: String,
                               seg: Segmenter = Segmenter.CharLevel)
      : DataFrame =
    docs.select(col(idCol).as("id"),
        TextFuncs.tokenCount(col(textCol), seg).cast("double").as("dl"),
        explode(TextFuncs.tokens(col(textCol), seg)).as("term"))
      .join(broadcast(uniqTerms), Seq("term"))
      .groupBy("id", "term")
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))

  /** (id, term, tf, dl) postings + (n, avgdl) stats →
    * (id, term, contrib): df from the postings themselves, Lucene-form
    * idf, tf-saturated length-normalized contribution.
    */
  private[llmops] def contribs(tf: DataFrame, stats: DataFrame,
                               k1: Double, b: Double): DataFrame = {
    val idf = docFreqs(tf).crossJoin(broadcast(stats.select(col("n"))))
      .select(col("term"), idfOf(col("n")))
    tf.join(broadcast(idf), Seq("term"))
      .crossJoin(broadcast(stats.select(col("avgdl"))))
      .withColumn("contrib", contribOf(col("avgdl"), k1, b))
  }

  /** [[contribs]] with (n, avgdl) known on the driver: they enter the
    * plan as literals, so it carries no stats stages and no cross
    * joins. df is `count(*) over (partition by term)` on the same
    * rows, not an aggregate joined back: tf and df come from one read
    * of `tf`, and a `tf` already hash-partitioned by `term` runs the
    * window with no exchange of its own. Same expressions, so the same
    * stats values give bit-identical contributions.
    */
  private[llmops] def contribs(tf: DataFrame, n: Double, avgdl: Double,
                               k1: Double, b: Double): DataFrame =
    tf.withColumn("df",
        count(lit(1)).over(Window.partitionBy(col("term"))).cast("double"))
      .withColumn("idf", idfOf(lit(n)))
      .withColumn("contrib", contribOf(lit(avgdl), k1, b))

  private def docFreqs(tf: DataFrame): DataFrame =
    tf.groupBy("term").agg(count(lit(1)).cast("double").as("df"))

  /** Lucene-form idf over a `df` column. */
  private def idfOf(n: Column): Column =
    log(lit(1.0) + (n - col("df") + 0.5) / (col("df") + 0.5)).as("idf")

  /** tf-saturated, length-normalized contribution over `idf`, `tf`, `dl`. */
  private def contribOf(avgdl: Column, k1: Double, b: Double): Column =
    col("idf") * (col("tf") * (k1 + 1)) /
      (col("tf") + lit(k1) * (lit(1.0) - b + lit(b) * col("dl") / avgdl))

  /** Shared per-query ranking tail: 4-decimal round → [[CollectTopK]]
    * bounded heap with `n_terms_hit` as its payload → dense rk. The
    * three top-k entry points (batch, RM3, index-served) must rank
    * IDENTICALLY for the cross-path parity specs to hold — they all
    * call this.
    *
    * `scored` is (queryIdCol, idCol, n_terms_hit, score) with one row
    * per (query, id); the result is (queryIdCol, rk, idCol,
    * n_terms_hit, score), idCol in its scored type, score rounded. The
    * heap carries `n_terms_hit`, so `scored` is read once: no join
    * back onto it, and no rank window over it.
    */
  private[llmops] def rankTail(scored: DataFrame, k: Int,
                               queryIdCol: String, idCol: String)
      : DataFrame =
    scored
      .groupBy(col(queryIdCol))
      .agg(TopK.topK(col(idCol), round(col("score"), 4),
        col("n_terms_hit"), k))
      .select(col(queryIdCol), posexplode(col("topk")))
      .select(col(queryIdCol), (col("pos") + 1).cast("int").as("rk"),
        col("col._1").cast(scored.schema(idCol).dataType).as(idCol),
        col("col._3").as("n_terms_hit"), col("col._2").as("score"))

  /** BM25 scores of every document matching ≥1 query term:
    * (id, n_terms_hit, score). `terms` is the analyzed query (it is
    * lowercased here to match the tokenizer); duplicates are ignored
    * (standard bag-of-words query semantics score each unique term
    * once at its tf).
    */
  def scores(docs: DataFrame, terms: Seq[String], k1: Double = 1.2,
             b: Double = 0.75, idCol: String = "doc_id",
             textCol: String = "text",
             seg: Segmenter = Segmenter.CharLevel): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val qTerms = terms.map(_.toLowerCase).distinct.toDF("term")
    contribs(corpusTf(docs, qTerms, idCol, textCol, seg),
        corpusStats(docs, textCol, seg), k1, b)
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_terms_hit"), sum(col("contrib")).as("score"))
      .withColumnRenamed("id", idCol)
  }

  /** Top-k by BM25, score rounded to 4 decimals with id tiebreak so
    * the ranking replays identically in any engine; executes as
    * TakeOrdered.
    */
  def topK(docs: DataFrame, terms: Seq[String], k: Int,
           k1: Double = 1.2, b: Double = 0.75,
           idCol: String = "doc_id", textCol: String = "text",
           seg: Segmenter = Segmenter.CharLevel)
      : DataFrame =
    scores(docs, terms, k1, b, idCol, textCol, seg)
      .withColumn("score", round(col("score"), 4))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)

  /** Multi-query BM25 in ONE dataflow — the bulk-evaluation shape
    * (10k benchmark questions against the corpus is 10k sequential
    * jobs under a per-query loop; here it is one). `queries` =
    * (queryIdCol numeric, queryTextCol string), tokenized with the
    * same whitespace analyzer as documents. The corpus-sized work —
    * tokenize/explode semi-joined down to slim posting rows, df, idf,
    * dl, per-term contributions — runs ONCE for the UNION of all query
    * terms (a term's tf/df/idf do not depend on which query asked);
    * the broadcast (query, term) map then fans each computed
    * contribution out to its queries, so |queries| costs one extra
    * broadcast join, not |queries| Spark jobs.
    *
    * Returns (queryIdCol as long, idCol, n_terms_hit, score); the
    * slice at any query id is bit-identical to [[scores]] with that
    * query's terms. Null query ids/texts drop (they cannot score).
    */
  def scoresBatch(docs: DataFrame, queries: DataFrame,
                  k1: Double = 1.2, b: Double = 0.75,
                  idCol: String = "doc_id", textCol: String = "text",
                  queryIdCol: String = "query_id",
                  queryTextCol: String = "text",
                  seg: Segmenter = Segmenter.CharLevel): DataFrame = {
    TopK.requireIntegralId(queries, queryIdCol, "Bm25.scoresBatch")
    // per-query distinct terms (bag-of-words query semantics, same as
    // `scores`); the term union drives the single corpus pass
    val qTerms = queryTerms(queries, queryIdCol, queryTextCol, seg)
    contribs(
        corpusTf(docs, qTerms.select(col("term")).distinct(),
          idCol, textCol, seg),
        corpusStats(docs, textCol, seg), k1, b)
      .join(broadcast(qTerms), Seq("term")) // fan out to asking queries
      .groupBy(col("__qid"), col("id"))
      .agg(count(lit(1)).as("n_terms_hit"), sum(col("contrib")).as("score"))
      .withColumnRenamed("__qid", queryIdCol)
      .withColumnRenamed("id", idCol)
  }

  /** Per-query distinct lowercased terms: (__qid, term); null ids and
    * texts drop (they cannot score).
    */
  private[llmops] def queryTerms(queries: DataFrame, queryIdCol: String,
                                 queryTextCol: String,
                                 seg: Segmenter = Segmenter.CharLevel)
      : DataFrame =
    queryTokens(queries, queryIdCol, queryTextCol, seg).distinct()

  /** [[queryTerms]] before its dedupe: one (__qid, term) row per query
    * token, for a caller that dedupes the collected rows itself.
    */
  private[llmops] def queryTokens(queries: DataFrame, queryIdCol: String,
                                  queryTextCol: String,
                                  seg: Segmenter = Segmenter.CharLevel)
      : DataFrame =
    queries
      .filter(col(queryIdCol).isNotNull && col(queryTextCol).isNotNull)
      .select(col(queryIdCol).cast("long").as("__qid"),
        explode(TextFuncs.tokens(col(queryTextCol), seg)).as("term"))
      .filter(col("term") =!= "")

  /** Per-query top-k over [[scoresBatch]] via the [[CollectTopK]]
    * bounded-heap aggregate — ≤ k candidates per partition per query
    * cross the exchange, the reduce side merges k-sorted lists; NO
    * rank window (which would funnel every scored row through
    * |queries| reducers). Score rounds to 4 decimals with id tiebreak
    * BEFORE ranking, so per-query slices are identical to [[topK]].
    * Returns (queryIdCol, rk, idCol, n_terms_hit, score).
    */
  def topKBatch(docs: DataFrame, queries: DataFrame, k: Int,
                k1: Double = 1.2, b: Double = 0.75,
                idCol: String = "doc_id", textCol: String = "text",
                queryIdCol: String = "query_id",
                queryTextCol: String = "text",
                seg: Segmenter = Segmenter.CharLevel): DataFrame = {
    TopK.requireIntegralId(docs, idCol, "Bm25.topKBatch")
    rankTail(scoresBatch(docs, queries, k1, b, idCol, textCol,
      queryIdCol, queryTextCol, seg), k, queryIdCol, idCol)
  }

  /** Weighted multi-query BM25: `qTermsW` = (__qid, term, w) rows;
    * score(d, q) = Σ_t w(q,t) · contrib(t, d). The corpus machinery is
    * [[scoresBatch]]'s (one pass for the union of all terms); only the
    * fan-out join carries the per-(query, term) weight. Used by the
    * RM3 expansion rescore; weights of 1 reduce to the unweighted
    * batch exactly.
    */
  private def scoresWeighted(docs: DataFrame, qTermsW: DataFrame,
                             k1: Double, b: Double,
                             idCol: String, textCol: String): DataFrame =
    contribs(
        corpusTf(docs, qTermsW.select(col("term")).distinct(),
          idCol, textCol),
        corpusStats(docs, textCol), k1, b)
      .join(broadcast(qTermsW), Seq("term"))
      .groupBy(col("__qid"), col("id"))
      .agg(count(lit(1)).as("n_terms_hit"),
        sum(col("w") * col("contrib")).as("score"))

  /** RM3 pseudo-relevance-feedback expansion (Abdul-Jaleel et al.,
    * TREC 2004 — the standard PRF baseline): per query, take the base
    * BM25 top `fbDocs` documents, estimate a relevance model over
    * their terms — p(t|R) ∝ Σ_d tf(t,d)/dl(d), i.e. summed
    * per-occurrence 1/dl, uniform doc prior — keep the top `fbTerms`
    * terms (weight desc, term tiebreak; weights rounded to 8 decimals
    * so the cut replays identically in any engine), and mix with the
    * original query at `origWeight`:
    *
    *   w(t) = origWeight·[t ∈ orig]/|orig| +
    *          (1−origWeight)·rel(t)/Σ_selected rel
    *
    * Returns the audit-friendly weighted term table
    * (queryIdCol, term, w) — feed it back via [[rm3TopK]], or inspect
    * what the expansion actually added. One dataflow end to end: the
    * feedback pass tokenizes ONLY the (broadcast-semi-joined) top
    * documents.
    */
  def rm3Terms(docs: DataFrame, queries: DataFrame,
               fbDocs: Int = 5, fbTerms: Int = 8,
               origWeight: Double = 0.5,
               k1: Double = 1.2, b: Double = 0.75,
               idCol: String = "doc_id", textCol: String = "text",
               queryIdCol: String = "query_id",
               queryTextCol: String = "text"): DataFrame = {
    require(fbDocs > 0 && fbTerms > 0, "fbDocs/fbTerms must be positive")
    require(origWeight >= 0 && origWeight <= 1, "origWeight in [0, 1]")
    val qTerms = queryTerms(queries, queryIdCol, queryTextCol)
    val top = topKBatch(docs, queries, fbDocs, k1, b, idCol, textCol,
        queryIdCol, queryTextCol)
      .select(col(queryIdCol).as("__qid"), col(idCol).as("id"))
      .localCheckpoint(false) // small: fbDocs·|queries| rows, read 3×
    val topIds = top.select(col("id")).distinct()
    // feedback term stats over ONLY the top documents (semi-join
    // before tokenize — the corpus never re-tokenizes here)
    val fdocs = docs
      .join(broadcast(topIds.withColumnRenamed("id", idCol)),
        Seq(idCol), "left_semi")
      .select(col(idCol).as("id"),
        TextFuncs.tokenCount(col(textCol)).cast("double").as("dl"),
        explode(TextFuncs.tokens(col(textCol))).as("term"))
      .filter(col("term") =!= "" && col("dl") > 0)
    val nTop = top.groupBy(col("__qid"))
      .agg(countDistinct(col("id")).cast("double").as("n_top"))
    val rel = fdocs.join(broadcast(top), Seq("id"))
      .groupBy(col("__qid"), col("term"))
      .agg(sum(lit(1.0) / col("dl")).as("relsum"))
      .join(broadcast(nTop), Seq("__qid"))
      .select(col("__qid"), col("term"),
        round(col("relsum") / col("n_top"), 8).as("rel"))
    val w = Window.partitionBy(col("__qid"))
      .orderBy(col("rel").desc, col("term"))
    val selected = rel.withColumn("__trk", row_number().over(w))
      .filter(col("__trk") <= fbTerms)
    val expansion = selected
      .join(selected.groupBy(col("__qid"))
        .agg(sum(col("rel")).as("rel_tot")), Seq("__qid"))
      .select(col("__qid"), col("term"),
        (lit(1.0 - origWeight) * col("rel") / col("rel_tot")).as("w"))
    val nOrig = qTerms.groupBy(col("__qid"))
      .agg(count(lit(1)).cast("double").as("n_orig"))
    val orig = qTerms.join(broadcast(nOrig), Seq("__qid"))
      .select(col("__qid"), col("term"),
        (lit(origWeight) / col("n_orig")).as("w"))
    orig.unionByName(expansion)
      .groupBy(col("__qid"), col("term"))
      .agg(sum(col("w")).as("w"))
      .withColumnRenamed("__qid", queryIdCol)
  }

  /** Top-k under the RM3-expanded weighted query ([[rm3Terms]] →
    * weighted rescore → 4-decimal round → bounded-heap rank). Returns
    * (queryIdCol, rk, idCol, n_terms_hit, score).
    */
  def rm3TopK(docs: DataFrame, queries: DataFrame, k: Int,
              fbDocs: Int = 5, fbTerms: Int = 8,
              origWeight: Double = 0.5,
              k1: Double = 1.2, b: Double = 0.75,
              idCol: String = "doc_id", textCol: String = "text",
              queryIdCol: String = "query_id",
              queryTextCol: String = "text"): DataFrame = {
    TopK.requireIntegralId(docs, idCol, "Bm25.rm3TopK")
    val qw = rm3Terms(docs, queries, fbDocs, fbTerms, origWeight, k1, b,
        idCol, textCol, queryIdCol, queryTextCol)
      .withColumnRenamed(queryIdCol, "__qid")
      .localCheckpoint(false) // tiny; cuts the rescore's lineage replay
    rankTail(
      scoresWeighted(docs, qw, k1, b, idCol, textCol)
        .withColumnRenamed("__qid", queryIdCol)
        .withColumnRenamed("id", idCol),
      k, queryIdCol, idCol)
  }

  /** Benchmark-decontamination probe, the workload [[topKBatch]]
    * exists for: for every benchmark question, the top-k corpus
    * documents whose BM25 score ≥ `minScore` — the documents that
    * could answer it and belong in a hold-out review. One job
    * regardless of |benchmark|.
    */
  def decontaminationProbe(corpus: DataFrame, benchmark: DataFrame,
                           k: Int = 10, minScore: Double = 0.0,
                           idCol: String = "doc_id",
                           textCol: String = "text",
                           queryIdCol: String = "query_id",
                           queryTextCol: String = "text"): DataFrame =
    topKBatch(corpus, benchmark, k, idCol = idCol, textCol = textCol,
        queryIdCol = queryIdCol, queryTextCol = queryTextCol)
      .filter(col("score") >= minScore)

  /** One scored field of a BM25F document: its text column, its
    * weight, and its length-normalization slope (the per-field b of
    * Robertson & Zaragoza 2009 §4.2 — a title is short by NATURE, so
    * its b is usually lower than the body's).
    */
  final case class Field(textCol: String, weight: Double,
                         b: Double = 0.75)

  /** Fielded BM25 (BM25F, X190): structured documents score their
    * fields ONCE, jointly — not as a weighted sum of per-field BM25
    * scores (the known-wrong formulation: saturating per field lets a
    * term that is frequent in EVERY field saturate k1 several times
    * over). The correct shape folds fields before saturation:
    *
    *   wtf(t, d) = Σ_f  w_f · tf_{t,f} / (1 − b_f + b_f·len_f/avglen_f)
    *   score(q, d) = Σ_t idf(t) · wtf·(k1+1) / (wtf + k1)
    *
    * idf is computed over whole-document presence (a term counts once
    * however many fields hold it), Lucene form like [[contribs]].
    * Shape: one slim posting pass per field restricted to the query
    * terms (the [[corpusTf]] discipline), a per-field stats row, one
    * groupBy folding fields into wtf, one per-doc sum. Everything
    * broadcast except the postings.
    *
    * @return (id, n_terms_hit, score) for docs matching ≥ 1 term
    */
  def scoresFielded(docs: DataFrame, fields: Seq[Field],
                    terms: Seq[String], k1: Double = 1.2,
                    idCol: String = "doc_id"): DataFrame = {
    require(fields.nonEmpty, "at least one field")
    val spark = docs.sparkSession
    import spark.implicits._
    val termsDf = terms.map(_.toLowerCase).distinct.toDF("term")
    // (n, avglen per field) in ONE aggregation pass
    val statAggs = count(lit(1)).cast("double").as("n") +:
      fields.zipWithIndex.map { case (f, i) =>
        avg(TextFuncs.tokenCount(col(f.textCol)).cast("double"))
          .as(s"avg$i") }
    val stats = docs.agg(statAggs.head, statAggs.tail: _*)
    val posts = fields.zipWithIndex.map { case (f, i) =>
      docs.select(col(idCol).as("id"),
          TextFuncs.tokenCount(col(f.textCol)).cast("double").as("dl"),
          explode(TextFuncs.tokens(col(f.textCol))).as("term"))
        .filter(col("term") =!= "")
        .join(broadcast(termsDf), Seq("term"))
        .groupBy(col("id"), col("term"))
        .agg(count(lit(1)).cast("double").as("tf"),
          max(col("dl")).as("dl"))
        .select(col("id"), col("term"), lit(i).as("fi"), col("tf"),
          col("dl"))
    }.reduce(_ unionByName _)
    val wArr = array(fields.map(f => lit(f.weight)): _*)
    val bArr = array(fields.map(f => lit(f.b)): _*)
    val avgArr = array(fields.indices.map(i => col(s"avg$i")): _*)
    val fieldNorm = lit(1.0) - element_at(bArr, col("fi") + 1) +
      element_at(bArr, col("fi") + 1) * col("dl") /
        element_at(avgArr, col("fi") + 1)
    val wtf = posts.crossJoin(broadcast(stats))
      .withColumn("__c",
        element_at(wArr, col("fi") + 1) * col("tf") /
          // empty field corpus-wide → avglen 0 → the field scores 0
          when(element_at(avgArr, col("fi") + 1) > 0.0, fieldNorm)
            .otherwise(lit(Double.PositiveInfinity)))
      .groupBy(col("id"), col("term"))
      .agg(sum(col("__c")).as("wtf"))
    // df over whole-document presence
    val dfx = posts.select(col("id"), col("term")).distinct()
      .groupBy(col("term")).agg(count(lit(1)).cast("double").as("df"))
    val idf = dfx.crossJoin(broadcast(stats.select(col("n"))))
      .select(col("term"),
        log(lit(1.0) + (col("n") - col("df") + 0.5) /
          (col("df") + 0.5)).as("idf"))
    wtf.join(broadcast(idf), Seq("term"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_terms_hit"),
        sum(col("idf") * col("wtf") * (k1 + 1) /
          (col("wtf") + k1)).as("score"))
      .withColumnRenamed("id", idCol)
  }

  /** [[scoresFielded]] + the [[topK]] ranking tail. */
  def topKFielded(docs: DataFrame, fields: Seq[Field],
                  terms: Seq[String], k: Int, k1: Double = 1.2,
                  idCol: String = "doc_id"): DataFrame =
    scoresFielded(docs, fields, terms, k1, idCol)
      .withColumn("score", round(col("score"), 4))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
}
