package graft.llmops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Vocabulary induction for tokenizer training: the BPE merge-selection
  * inner loop (Sennrich et al. 2016, "Neural Machine Translation of
  * Rare Words with Subword Units") — count adjacent symbol pairs
  * across the corpus and pick the most frequent — expressed as an
  * aggregate-before-explode column pipeline.
  *
  * Scale shape: the corpus collapses to its word-frequency dictionary
  * FIRST (one shuffle carrying (word, count) — |vocab| rows, not
  * |corpus| token rows), and pair explosion runs over that dictionary
  * weighted by frequency. On a 100 TB corpus with a ~10⁷-word
  * vocabulary the explode stage touches 10⁷ rows regardless of corpus
  * size; exploding pairs per document before aggregating would shuffle
  * ~10¹¹ rows for the same answer. Real BPE trainers pre-aggregate to
  * a word dictionary for exactly this reason.
  */
object Vocab {

  /** The word-frequency dictionary of `textCol`: (w, wc), whitespace
    * tokenization per [[TextFuncs.tokens]], single-char words dropped
    * (they contain no pair).
    */
  def wordCounts(docs: DataFrame, textCol: Column): DataFrame =
    docs.select(explode(TextFuncs.tokens(textCol)).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy("w").agg(count(lit(1)).as("wc"))

  /** Frequency-weighted adjacent character-pair counts — one BPE
    * merge-selection round over the corpus. Returns (pair, cnt) where
    * cnt is the pair's total occurrence count across all text.
    */
  def bpePairCounts(docs: DataFrame, textCol: Column): DataFrame =
    wordCounts(docs, textCol)
      .select(explode(transform(sequence(lit(1), length(col("w")) - 1),
        i => col("w").substr(i, lit(2)))).as("pair"), col("wc"))
      .groupBy("pair").agg(sum(col("wc")).as("cnt"))

  /** Symbol separator inside the training dictionary's working
    * representation — U+0001 never appears in whitespace-tokenized
    * text, so `regexp_replace` on the quoted pair is unambiguous.
    */
  private val Sep = "\u0001"

  /** Full BPE vocabulary training (Sennrich et al. 2016): repeat
    * [`count weighted adjacent pairs` → `merge the most frequent`]
    * `numMerges` times over the word-frequency dictionary. Returns the
    * merge list in training order — the model [[bpe_encode]] applies.
    *
    * Distribution: the corpus collapses to its (word, count)
    * dictionary ONCE (the [[bpePairCounts]] rationale — |vocab| rows
    * regardless of corpus size); each round then shuffles only
    * (pair, weight) over dictionary rows and the driver receives ONE
    * row (the argmax pair; ties break on the pair string so training
    * is deterministic). The merge itself is a map-side
    * `regexp_replace` on the separator-joined symbol string — global
    * replace is left-to-right non-overlapping, which is exactly BPE's
    * greedy merge semantics for runs like "aaa". Each round
    * localCheckpoints the (tiny) dictionary so plan depth stays O(1)
    * across hundreds of merges.
    */
  def trainBpe(docs: DataFrame, textCol: Column, numMerges: Int)
      : Seq[(String, String)] = {
    var dict = wordCounts(docs, textCol)
      .select(concat_ws(Sep, split(col("w"), "")).as("syms"), col("wc"))
      .localCheckpoint()
    val merges = Seq.newBuilder[(String, String)]
    var round = 0
    var done = false
    while (round < numMerges && !done) {
      val top = dict
        // a fully-merged word has 1 symbol, 0 pairs — and sequence(1, 0)
        // would run DESCENDING into an out-of-bounds element_at
        .filter(size(split(col("syms"), Sep)) >= 2)
        .select(explode(transform(
            sequence(lit(1), size(split(col("syms"), Sep)) - 1),
            i => concat_ws(Sep,
              element_at(split(col("syms"), Sep), i),
              element_at(split(col("syms"), Sep), i + 1)))).as("pair"),
          col("wc"))
        .groupBy("pair").agg(sum(col("wc")).as("cnt"))
        .orderBy(col("cnt").desc, col("pair"))
        .head(1)
      if (top.isEmpty) done = true
      else {
        val Array(l, r) = top(0).getString(0).split(Sep, 2)
        merges += ((l, r))
        val next = dict.withColumn("syms",
            regexp_replace(col("syms"),
              java.util.regex.Pattern.quote(l + Sep + r), l + r))
          .localCheckpoint()
        dict.unpersist()
        dict = next
        round += 1
      }
    }
    dict.unpersist()
    merges.result()
  }

  /** Kernel behind [[BpeEncodeExpr]]: whitespace-tokenize (lowercased,
    * mirroring [[TextFuncs.tokens]]), then encode each word by the
    * trained merge ranks: repeatedly merge the lowest-rank (earliest-
    * trained) adjacent pair present, left-to-right within a rank —
    * the standard BPE inference loop. Unknown pairs never merge, so
    * out-of-vocabulary words fall back toward characters.
    */
  def bpeEncodeText(text: UTF8String,
                    ranks: java.util.HashMap[String, Integer])
      : GenericArrayData = {
    val words = text.toString.toLowerCase.trim.split("\\s+")
    val out = scala.collection.mutable.ArrayBuffer.empty[UTF8String]
    words.foreach { w =>
      var syms = w.map(_.toString).toBuffer
      var merged = true
      while (merged && syms.length > 1) {
        var bestRank = Int.MaxValue
        var bestIdx = -1
        var i = 0
        while (i < syms.length - 1) {
          val r = ranks.get(syms(i) + Sep + syms(i + 1))
          if (r != null && r < bestRank) { bestRank = r; bestIdx = i }
          i += 1
        }
        if (bestIdx < 0) merged = false
        else {
          syms(bestIdx) = syms(bestIdx) + syms(bestIdx + 1)
          syms.remove(bestIdx + 1)
        }
      }
      syms.foreach(s => out += UTF8String.fromString(s))
    }
    new GenericArrayData(out.toArray[Any])
  }

  /** `bpe_encode(text)` → array<string> of subword tokens under a
    * trained merge list. The rank map rides as a codegen reference
    * object, like every other model-carrying kernel.
    */
  case class BpeEncodeExpr(child: Expression,
                           merges: Seq[(String, String)])
      extends UnaryExpression {
    @transient private lazy val ranks = {
      val m = new java.util.HashMap[String, Integer]()
      merges.zipWithIndex.foreach { case ((l, r), i) =>
        m.putIfAbsent(l + Sep + r, i)
      }
      m
    }
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def prettyName: String = "bpe_encode"
    override def nullSafeEval(input: Any): Any =
      Vocab.bpeEncodeText(input.asInstanceOf[UTF8String], ranks)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("ranks", ranks, "java.util.HashMap")
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.llmops.Vocab.bpeEncodeText($c, $ref);")
    }
    override protected def withNewChildInternal(c: Expression): BpeEncodeExpr =
      copy(child = c)
  }

  def bpe_encode(text: Column, merges: Seq[(String, String)]): Column =
    ColumnBridge.column(BpeEncodeExpr(ColumnBridge.expression(text), merges))

  // ---- Unigram-LM tokenizer (SentencePiece-style; Kudo 2018) -----------
  //
  // The other tokenizer family used for frontier-scale corpora: a
  // vocabulary of PIECES with probabilities, segmentation = the
  // max-likelihood piece cover of each word (Viterbi DP), training =
  // seed a large candidate set, re-estimate piece usage under the
  // current model, prune the least-used pieces, repeat (the hard-EM /
  // Viterbi-counts variant of Kudo 2018 §3.2 — expectation replaced by
  // the argmax segmentation, the standard distributed simplification).
  //
  // Distribution: identical dictionary-shuffle shape to [[trainBpe]] —
  // the corpus collapses ONCE to its (word, count) dictionary; every
  // round is one kernel-projection + one (piece, weight) aggregation
  // over dictionary rows, and the driver holds only the piece table
  // (≤ seedSize + |alphabet| rows, like the DSIR/quality-model tables).

  /** Word-frequency dictionary INCLUDING single-char words (unigram
    * pieces need them for coverage; BPE's pair counting doesn't).
    */
  def wordCountsAll(docs: DataFrame, textCol: Column): DataFrame =
    docs.select(explode(TextFuncs.tokens(textCol)).as("w"))
      .filter(length(col("w")) >= 1)
      .groupBy("w").agg(count(lit(1)).as("wc"))

  /** Frequency-weighted counts of every substring of length 1..maxLen
    * of every dictionary word — the unigram candidate seed (Kudo
    * trains from "all substrings of the corpus" capped by length).
    */
  private def substrCounts(dict: DataFrame, maxLen: Int): DataFrame =
    dict.select(explode(flatten(transform(
        sequence(lit(1), length(col("w"))),
        i => transform(
          sequence(lit(1), least(lit(maxLen), length(col("w")) - i + 1)),
          l => col("w").substr(i, l))))).as("piece"), col("wc"))
      .groupBy("piece").agg(sum(col("wc")).as("cnt"))

  /** Candidate-piece seed counts over a corpus: (piece, cnt) for every
    * substring of length ≤ `maxLen` of every word, weighted by word
    * frequency. The q109 oracle replays this relationally.
    */
  def unigramSeedCounts(docs: DataFrame, textCol: Column, maxLen: Int = 4)
      : DataFrame =
    substrCounts(wordCountsAll(docs, textCol), maxLen)

  /** Log-prob assigned to a character absent from the vocabulary —
    * harsh enough that any in-vocab cover beats an unknown char, mild
    * enough that sums stay finite (segmentation must always exist).
    */
  val UnkLogProb: Double = -1e4

  /** Kernel behind [[UnigramEncodeExpr]]: whitespace-tokenize
    * (lowercased, mirroring [[TextFuncs.tokens]]), then Viterbi-segment
    * each word under the piece log-prob table: best(i) = max over
    * piece lengths l of best(i−l) + logp(w[i−l..i)). Ties prefer the
    * LONGER piece (deterministic); characters missing from the
    * vocabulary fall back to [[UnkLogProb]] singletons, so every word
    * has a segmentation and concat(pieces) == word always.
    */
  def unigramEncodeText(text: UTF8String,
                        logp: java.util.HashMap[String, java.lang.Double],
                        maxLen: Int): GenericArrayData = {
    val words = text.toString.toLowerCase.trim.split("\\s+")
    val out = scala.collection.mutable.ArrayBuffer.empty[UTF8String]
    words.foreach { w =>
      val n = w.length
      if (n > 0) {
        val best = new Array[Double](n + 1)
        val back = new Array[Int](n + 1)
        var i = 1
        while (i <= n) {
          var bestScore = Double.NegativeInfinity
          var bestLen = 1
          var l = 1
          val lmax = math.min(maxLen, i)
          while (l <= lmax) {
            val p = logp.get(w.substring(i - l, i))
            val sc =
              if (p != null) best(i - l) + p.doubleValue()
              else if (l == 1) best(i - 1) + UnkLogProb
              else Double.NegativeInfinity
            if (sc > bestScore || (sc == bestScore && l > bestLen)) {
              bestScore = sc; bestLen = l
            }
            l += 1
          }
          best(i) = bestScore; back(i) = bestLen
          i += 1
        }
        val pieces = scala.collection.mutable.ArrayBuffer.empty[String]
        var j = n
        while (j > 0) { pieces += w.substring(j - back(j), j); j -= back(j) }
        pieces.reverseIterator.foreach(p => out += UTF8String.fromString(p))
      }
    }
    new GenericArrayData(out.toArray[Any])
  }

  /** `unigram_encode(text)` → array<string> of max-likelihood pieces
    * under a trained vocabulary. The log-prob map rides as a codegen
    * reference object, like [[BpeEncodeExpr]]'s rank map.
    */
  case class UnigramEncodeExpr(child: Expression,
                               pieces: Seq[(String, Double)], maxLen: Int)
      extends UnaryExpression {
    @transient private lazy val logp = {
      val m = new java.util.HashMap[String, java.lang.Double]()
      pieces.foreach { case (p, lp) => m.putIfAbsent(p, lp) }
      m
    }
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def prettyName: String = "unigram_encode"
    override def nullSafeEval(input: Any): Any =
      Vocab.unigramEncodeText(input.asInstanceOf[UTF8String], logp, maxLen)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("logp", logp, "java.util.HashMap")
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.llmops.Vocab.unigramEncodeText($c, $ref, $maxLen);")
    }
    override protected def withNewChildInternal(c: Expression): UnigramEncodeExpr =
      copy(child = c)
  }

  def unigram_encode(text: Column, pieces: Seq[(String, Double)],
                     maxLen: Int = 4): Column =
    ColumnBridge.column(
      UnigramEncodeExpr(ColumnBridge.expression(text), pieces, maxLen))

  /** Unigram-LM vocabulary training: seed with the top-`seedSize`
    * multi-char substrings (every single char is always kept — full
    * coverage), then `iters` rounds of [Viterbi-segment the dictionary
    * under the current model → frequency-weighted piece-usage counts →
    * re-estimate probs (add-one smoothing keeps idle chars finite) →
    * prune multi-char pieces to max(vocabSize − |chars|,
    * ⌈shrink · current⌉) by usage]. Gradual pruning is Kudo's schedule:
    * dropping straight to the target lets borderline pieces starve
    * before usage re-concentrates. Deterministic: all ties break on
    * the piece string; the returned table is (piece, logp) sorted by
    * logp desc, piece asc.
    *
    * Scale: per round ONE aggregation of ≤ |vocab| slim rows crosses
    * the wire and the driver holds the bounded piece table — corpus
    * size only affects the one-time dictionary build.
    */
  def trainUnigram(docs: DataFrame, textCol: Column, vocabSize: Int,
                   iters: Int = 4, maxPieceLen: Int = 4,
                   seedSize: Int = 2048, shrink: Double = 0.75)
      : Seq[(String, Double)] = {
    require(vocabSize >= 1, s"vocabSize must be >= 1, got $vocabSize")
    require(seedSize >= vocabSize,
      s"seedSize $seedSize must be >= vocabSize $vocabSize")
    val spark = docs.sparkSession
    import spark.implicits._
    val dict = wordCountsAll(docs, textCol).localCheckpoint()
    val seed = substrCounts(dict, maxPieceLen)
    val chars0 = seed.filter(length(col("piece")) === 1)
      .as[(String, Long)].collect()
    val multi0 = seed.filter(length(col("piece")) > 1)
      .orderBy(col("cnt").desc, col("piece")).limit(seedSize)
      .as[(String, Long)].collect()
    def toModel(pieces: Seq[(String, Long)]): Seq[(String, Double)] = {
      val total = pieces.map(_._2).sum.toDouble + pieces.size
      pieces.map { case (p, c) => p -> math.log((c + 1.0) / total) }
    }
    var charSet = chars0.map(_._1).toSet
    var vocab = toModel((chars0 ++ multi0).toSeq)
    var round = 0
    while (round < iters) {
      val usage = dict
        .select(explode(unigram_encode(col("w"), vocab, maxPieceLen))
          .as("piece"), col("wc"))
        .groupBy("piece").agg(sum(col("wc")).as("cnt"))
        .as[(String, Long)].collect().toMap
      // chars persist even when longer pieces absorb all their usage
      // (coverage); unknown chars emitted by the encoder join them
      charSet = charSet ++ usage.keysIterator.filter(_.length == 1)
      val chars = charSet.toSeq.sorted.map(c => c -> usage.getOrElse(c, 0L))
      val multiKept = vocab.iterator.map(_._1).filter(_.length > 1).toSeq
      val finalMulti = math.max(0, vocabSize - chars.size)
      val targetMulti = math.max(finalMulti,
        math.min(multiKept.size, math.ceil(multiKept.size * shrink).toInt))
      val keep = if (round == iters - 1) finalMulti else targetMulti
      val multi = multiKept.map(p => p -> usage.getOrElse(p, 0L))
        .sortBy { case (p, c) => (-c, p) }.take(keep)
      vocab = toModel(chars ++ multi)
      round += 1
    }
    vocab.sortBy { case (p, lp) => (-lp, p) }
  }

  /** Vocabulary coverage / out-of-vocabulary report (SURVEY §2.10
    * X119) — the fit metric between a trained vocabulary and a corpus
    * slice: before committing a tokenizer (or when a new data source
    * joins the mix), measure per group what fraction of the token MASS
    * and of the distinct word TYPES the vocabulary misses. High OOV
    * token rate on a source means the tokenizer will shatter its words
    * into char-level pieces (inflated sequence lengths, degraded
    * compression) — the signal to retrain or re-weight.
    *
    * `vocab` is one `token` column — a persisted word list, the word
    * side of a unigram model, or any relationally-built top-N list;
    * duplicates are tolerated (distinct applied).
    *
    * Scale shape: the corpus side pre-aggregates to slim (group, word,
    * count) rows BEFORE the vocab join — so the join and the distinct
    * counting never touch per-occurrence rows — and the vocabulary
    * broadcasts (vocabularies are bounded by construction; a 1 M-word
    * list is a few MB). No count-distinct expansion: types are plain
    * `count(*)` over the pre-deduped rows.
    *
    * @return one row per group: (groupCol, n_tokens, n_types,
    *         oov_tokens, oov_types, oov_token_rate, oov_type_rate)
    */
  def coverageStats(docs: DataFrame, vocab: DataFrame,
                    textCol: Column, groupCol: String): DataFrame = {
    val counts = docs
      .select(col(groupCol),
        explode(TextFuncs.tokens(textCol)).as("__w"))
      .filter(col("__w") =!= "")
      .groupBy(col(groupCol), col("__w"))
      .agg(count(lit(1)).as("__cnt"))
    val v = vocab.select(col("token").as("__w")).distinct()
      .withColumn("__iv", lit(1))
    counts.join(broadcast(v), Seq("__w"), "left")
      .withColumn("__oov", when(col("__iv").isNull, 1L).otherwise(0L))
      .groupBy(col(groupCol))
      .agg(sum(col("__cnt")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(col("__cnt") * col("__oov")).as("oov_tokens"),
        sum(col("__oov")).as("oov_types"))
      .withColumn("oov_token_rate",
        col("oov_tokens").cast("double") / col("n_tokens"))
      .withColumn("oov_type_rate",
        col("oov_types").cast("double") / col("n_types"))
  }

  /** Good–Turing unseen-mass estimate (X212; Good 1953, the
    * missing-mass half of the Gale & Sampson simple-GT recipe): the
    * probability that the NEXT token drawn from a source is a type
    * never seen in it ≈ N₁/N (singleton count over token count).
    * The question [[heapsProfile]] answers diachronically ("is the
    * vocabulary still growing as we scan more") this answers
    * point-in-time per source: a source with high unseen mass is
    * under-sampled — scale its crawl before scaling its weight —
    * while unseen mass ≈ 0 with β ≈ 1 in Heaps terms flags id/hash
    * spill masquerading as vocabulary. Doubletons ride along (N₂
    * feeds the GT singleton discount r* = 2·N₂/N₁, also reported).
    *
    * Shape: one tokenize/explode → (source, term) count → one
    * aggregate over the count table. The term table is the
    * vocabulary-sized slim shuffle every lexical stat here pays;
    * nothing else moves.
    *
    * @return one row per source: (source, n_tokens, vocab,
    *         singletons, doubletons, unseen_mass, singleton_share,
    *         gt_singleton_discount) — ratios 4dp; the discount is
    *         null when a source has no singletons
    */
  def goodTuringReport(docs: DataFrame, byCol: String = "source",
                       textCol: String = "text"): DataFrame = {
    val termCounts = docs
      .select(col(byCol),
        explode(TextFuncs.tokens(col(textCol))).as("__t"))
      .filter(col("__t") =!= "")
      .groupBy(col(byCol), col("__t"))
      .agg(count(lit(1)).as("__c"))
    termCounts.groupBy(col(byCol))
      .agg(
        sum(col("__c")).as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum(when(col("__c") === 1, 1L).otherwise(0L)).as("singletons"),
        sum(when(col("__c") === 2, 1L).otherwise(0L)).as("doubletons"))
      .select(col(byCol), col("n_tokens"), col("vocab"),
        col("singletons"), col("doubletons"),
        round(col("singletons") / col("n_tokens").cast("double"), 4)
          .as("unseen_mass"),
        round(col("singletons") / col("vocab").cast("double"), 4)
          .as("singleton_share"),
        when(col("singletons") > 0,
          round(lit(2.0) * col("doubletons") /
            col("singletons").cast("double"), 4))
          .as("gt_singleton_discount"))
  }

  /** Term burstiness report (X223; the Church & Gale 1995
    * observation): variance-to-mean ratio (VMR, the dispersion index)
    * of a term's per-document counts — ≈ 1 for Poisson-scattered
    * function words, ≫ 1 for bursty topical terms that pile into few
    * documents. The content-word detector that needs no stopword
    * list: TF-IDF asks "is it rare", burstiness asks "is it CLUMPED",
    * and boilerplate detection wants both. Zeros count: the moments
    * are closed-form over ALL N docs — mean = T/N, E[x²] = S₂/N with
    * T = Σtf, S₂ = Σtf² from the (term, doc, tf) table alone, so the
    * absent-doc zeros cost nothing.
    *
    * Shape: one tokenize/explode → (term, doc) tf → one term-keyed
    * aggregate; the vocabulary-sized slim shuffle every lexical stat
    * pays. Top-k by VMR after a 4dp round with term tiebreak —
    * deterministic in any engine.
    *
    * @return k rows: (term, df, total_tf, mean_tf, vmr) — mean 6dp,
    *         vmr 4dp; terms below `minDf` documents are noise-gated
    */
  def burstinessReport(docs: DataFrame, k: Int = 50, minDf: Long = 5,
                       idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame = {
    require(k >= 1 && minDf >= 1, "k >= 1, minDf >= 1")
    val base = docs.where(col(textCol).isNotNull)
    val nDocs = base.count()
    require(nDocs > 0, "burstinessReport: no documents")
    val tf = base
      .select(col(idCol).as("__doc"),
        TextFuncs.tokens(col(textCol)).as("__toks"))
      .select(col("__doc"), explode(col("__toks")).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("__doc"), col("term"))
      .agg(count(lit(1)).as("tf"))
    tf.groupBy(col("term"))
      .agg(count(lit(1)).as("df"),
        sum(col("tf")).as("total_tf"),
        sum(col("tf") * col("tf")).as("__s2"))
      .where(col("df") >= minDf)
      .withColumn("mean_tf",
        round(col("total_tf") / lit(nDocs.toDouble), 6))
      .withColumn("vmr", round(
        (col("__s2") / lit(nDocs.toDouble) -
          pow(col("total_tf") / lit(nDocs.toDouble), 2.0)) /
          (col("total_tf") / lit(nDocs.toDouble)), 4))
      .select(col("term"), col("df"), col("total_tf"),
        col("mean_tf"), col("vmr"))
      .orderBy(col("vmr").desc, col("term"))
      .limit(k)
  }

  /** Heaps'-law vocabulary-growth profile (X196): vocabulary size at
    * nested corpus prefixes, plus the fitted growth exponent — the
    * "how much NEW vocabulary does more data buy" number that prices
    * corpus acquisition and sizes tokenizer vocabularies (Heaps 1978:
    * V ≈ K·N^β, β ≈ 0.4-0.6 for natural text; β near 0 means the
    * corpus is saturating — more of the same — and β near 1 flags
    * id/hash spill inflating the vocabulary).
    *
    * Prefixes are deterministic id-ordered slices (doc_id below the
    * fraction cutoff), so the profile is reproducible and the oracle
    * replays it; each checkpoint is one distinct-count aggregate over
    * the pruned slice — the scan prunes on the id predicate, nothing
    * global. β is the two-point log-log fit between the smallest and
    * largest checkpoints, computed per row (constant column) so the
    * scalar travels with the frame.
    *
    * @return one row per checkpoint: (fraction, n_docs, n_tokens,
    *         vocab, beta) — beta 4dp
    */
  def heapsProfile(docs: DataFrame, fractions: Seq[Double] =
                     Seq(0.125, 0.25, 0.5, 1.0),
                   idCol: String = "doc_id", textCol: String = "text")
      : DataFrame = {
    require(fractions.nonEmpty && fractions.forall(f => f > 0 && f <= 1),
      "fractions in (0, 1]")
    // cast → works for any integral id type; an empty input yields a
    // null max → clear require, not an NPE
    val maxIdRow = docs.agg(max(col(idCol)).cast("long")).head()
    require(!maxIdRow.isNullAt(0),
      s"heapsProfile: no rows to profile (column '$idCol' has no values)")
    val maxId = maxIdRow.getLong(0)
    val fs = fractions.sorted
    val cuts = fs.map(f => math.ceil((maxId + 1) * f).toLong)
    // ONE tokenize pass. The prefix structure does the rest: a term
    // is in fraction f's vocabulary iff its FIRST document id falls
    // under f's cut, and token/doc counts are conditional aggregates
    // over the (doc, term, tf) matrix — so the corpus is scanned and
    // tokenized once, not once per fraction. The matrix is consumed
    // twice (term-keyed and doc-distinct aggregates); localCheckpoint
    // keeps that from re-tokenizing, and it is the compact frame every
    // lexical stat materializes anyway (vocabulary × avg-df rows).
    val tf = docs
      .select(col(idCol).cast("long").as("__doc"),
        explode(TextFuncs.tokens(col(textCol))).as("t"))
      .filter(col("t") =!= "")
      .groupBy(col("__doc"), col("t"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val perTermAggs = min(col("__doc")).as("__first") +:
      cuts.zipWithIndex.map { case (c, i) =>
        sum(when(col("__doc") < c, col("tf"))).as(s"__t_$i") }
    val perTerm = tf.groupBy(col("t"))
      .agg(perTermAggs.head, perTermAggs.tail: _*)
    val termAggs = cuts.zipWithIndex.flatMap { case (c, i) => Seq(
      coalesce(sum(col(s"__t_$i")), lit(0L)).as(s"__nt_$i"),
      count(when(col("__first") < c, lit(1))).as(s"__vc_$i")) }
    val termRow = perTerm.agg(termAggs.head, termAggs.tail: _*)
    val docAggs = cuts.zipWithIndex.map { case (c, i) =>
      countDistinct(when(col("__doc") < c, col("__doc")))
        .as(s"__nd_$i") }
    val docRow = tf.agg(docAggs.head, docAggs.tail: _*)
    // single-row × single-row attach, then melt to one row per
    // fraction; beta reads the smallest fraction's columns in place
    def beta(i: Int) = round(
      when(col(s"__nt_$i") > col("__nt_0"),
        (log(col(s"__vc_$i")) - log(col("__vc_0"))) /
          (log(col(s"__nt_$i")) - log(col("__nt_0"))))
        .otherwise(lit(0.0)), 4)
    termRow.crossJoin(docRow)
      .select(explode(array(fs.indices.map(i => struct(
        lit(fs(i)).as("fraction"),
        col(s"__nd_$i").as("n_docs"),
        col(s"__nt_$i").as("n_tokens"),
        col(s"__vc_$i").as("vocab"),
        beta(i).as("beta"))): _*)).as("__r"))
      .select(col("__r.*"))
  }
}
