package graft.llmops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic dataset-split assignment for training-data pipelines.
  *
  * Splits are a pure function of content (an md5-prefix range check),
  * not of an RNG or row order: the same document lands in the same
  * split on any cluster, at any parallelism, across reruns and
  * incremental appends — the property that makes held-out sets stable
  * as a 100 TB corpus grows. No shuffle: the assignment is a scalar
  * projection, and the md5 is codegen'd.
  */
object Splits {

  /** Hex threshold for a fraction of the 256 two-hex-digit buckets.
    * A saturated fraction returns "g": every hex prefix sorts below it
    * (hex digits end at 'f'), whereas the naive "100" would sort
    * BELOW "ff" lexicographically and silently invert the test.
    */
  private def hexAt(frac: Double): String = {
    val n = math.round(frac * 256).toInt
    if (n >= 256) "g" else f"$n%02x"
  }

  /** 'train' | 'val' | 'test' from the first md5 byte of `text`.
    * Fractions are quantized to 1/256 granularity (md5 bytes are
    * uniform, so realized fractions converge to round(frac·256)/256).
    */
  def assignSplit(text: Column, trainFrac: Double = 0.8,
                  valFrac: Double = 0.1): Column = {
    require(trainFrac >= 0 && valFrac >= 0 && trainFrac + valFrac <= 1.0,
      "fractions must be non-negative and sum to at most 1")
    val b = substring(md5(text), 1, 2)
    when(b < lit(hexAt(trainFrac)), "train")
      .when(b < lit(hexAt(trainFrac + valFrac)), "val")
      .otherwise("test")
  }

  /** Seeded content-hash ordering key for deterministic corpus
    * shuffling: sorting by it gives a reproducible "random" training
    * order with no RNG — a distributed range-partition sort at scale,
    * and the same order on any cluster for the same seed.
    */
  def shuffleKey(key: Column, seed: String): Column =
    md5(concat(key, lit(seed)))

  /** Hex threshold for a fraction of the 65536 four-hex-digit buckets;
    * saturates to "g" like [[hexAt]].
    */
  private def hexAt4(frac: Double): String = {
    val n = math.round(frac * 65536).toInt
    if (n >= 65536) "g" else f"$n%04x"
  }

  /** Deterministic keep-decision for sampling at rate `frac`, keyed on
    * content: true iff the first two md5 bytes of `key` fall under the
    * fraction threshold (1/65536 granularity). Same properties as
    * [[assignSplit]] — stable under reruns, parallelism, and appends,
    * no shuffle, no RNG — which is what lets a sample of a growing
    * corpus stay a superset-consistent sample. `frac` may be a per-row
    * column (per-stratum rates via a CASE/when over the stratum).
    */
  def sampleHash(key: Column, frac: Column): Column =
    substring(md5(key), 1, 4) < frac

  /** Quality-weighted importance sampling (the GPT-3 corpus-mixing
    * move: keep a document with probability that rises with its
    * quality score), made deterministic: the uniform draw is the
    * document's md5-prefix hash, so the sample is stable under
    * reruns, repartitioning, and appends — same contract as
    * [[sampleHash]]. Keep ⇔ u < score^alpha with u = first 4 md5 hex
    * chars / 65536; `alpha` sharpens (α>1) or flattens (α<1) the
    * preference. Scores in [0,1]: score 1 always keeps (u < 1
    * strictly), score 0 never does. Pure per-row function — no
    * shuffle, pushes past any scan.
    */
  def importanceKeep(score: Column, key: Column, alpha: Double): Column =
    (conv(substring(md5(key), 1, 4), 16, 10).cast("double") / 65536.0) <
      pow(score, alpha)

  /** Per-stratum deterministic sampling rates: a `when`-chain mapping
    * each stratum value to its [[hexAt4]] threshold. The common
    * downsample-web/keep-books corpus-mixing shape: rates differ by
    * source but each document's fate is a pure function of its text.
    */
  def stratumThreshold(stratum: Column, fractions: Map[String, Double],
                       defaultFrac: Double): Column =
    fractions.foldLeft(null.asInstanceOf[Column]) { case (acc, (k, f)) =>
      val hex = lit(hexAt4(f))
      if (acc == null) when(stratum === k, hex)
      else acc.when(stratum === k, hex)
    } match {
      case null => lit(hexAt4(defaultFrac))
      case c => c.otherwise(lit(hexAt4(defaultFrac)))
    }

  /** Token-budget sampling: keep documents per group, in deterministic
    * content-hash order, until the group's token quota is reached —
    * the mixture-building step ("3 B web tokens, 1 B code tokens")
    * where quotas are on TOKENS, not documents. A doc is kept iff the
    * running token total up to and including it fits the budget, so
    * the kept set is the quota prefix of the hash order — a pure
    * function of the corpus: stable under reruns and repartitioning,
    * and an unbiased sample of the group (hash order is uncorrelated
    * with content). An APPEND can insert new docs anywhere in the
    * order and displace part of the previously-kept tail — quota
    * sampling trades the append stability of rate sampling
    * ([[sampleHash]]) for an exact token total.
    *
    * Scale shape: the same stream-sharding as [[Packing.packBins]] —
    * `(group, id % streams)` splits each group's cumulative sum
    * across `streams` independent window partitions, so no group
    * funnels through a single task; quota accuracy is within one
    * document per stream. The budget divides as `budget/streams` per
    * stream with the remainder spread one token each over the first
    * `budget % streams` streams — the stream quotas sum EXACTLY to
    * `budgetPerGroup` (no floor loss), and a budget smaller than
    * `streams` yields small-but-nonzero quotas for the first
    * `budget` streams rather than a silently empty result. Output:
    * input columns + (stream, n_tokens).
    */
  def tokenBudgetSample(docs: DataFrame, budgetPerGroup: Long,
                        streams: Int = 8, groupCol: String = "source",
                        textCol: String = "text",
                        idCol: String = "doc_id"): DataFrame = {
    require(budgetPerGroup > 0 && streams > 0)
    import org.apache.spark.sql.expressions.Window
    // id tiebreak: identical texts share a hash, and an unstable order
    // between them would make the quota cut nondeterministic
    val w = Window
      .partitionBy(col(groupCol), col("stream"))
      .orderBy(col("__ord"), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .withColumn("stream", pmod(col(idCol), lit(streams)))
      .withColumn("__ord", md5(col(textCol)))
      .withColumn("n_tokens", TextFuncs.tokenCount(col(textCol)).cast("long"))
      .withColumn("__cum", sum(col("n_tokens")).over(w))
      .filter(col("__cum") <= lit(budgetPerGroup / streams) +
        when(col("stream") < lit(budgetPerGroup % streams), 1L).otherwise(0L))
      .drop("__ord", "__cum")
  }

  /** Per-host document cap (the RefinedWeb/CCNet host-bias control: a
    * handful of mega-hosts must not dominate a web corpus): keep at
    * most `cap` documents per host, chosen by a content-keyed
    * deterministic lottery — md5 of the id, id tiebreak — so the
    * survivor set is an unbiased sample of each host, identical under
    * reruns and replayable in any engine. The caller supplies the
    * host column (e.g. `UrlFuncs.url_host(col("url"))` upstream).
    *
    * Scale shape: the lottery ranks SLIM (host, id) rows — text never
    * enters the shuffle — and survivors semi-join back to the full
    * rows. A skewed host costs one window sort over its slim rows,
    * which is the operation's intrinsic work.
    */
  def hostCapSample(docs: DataFrame, cap: Int,
                    hostCol: String = "host",
                    idCol: String = "doc_id"): DataFrame = {
    require(cap > 0, "cap must be positive")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(hostCol))
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    val keep = docs.select(col(hostCol), col(idCol))
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= cap)
      .select(col(idCol))
    docs.join(keep, Seq(idCol), "left_semi")
  }

  /** The shared race key: u from the first 48 md5 bits of
    * (id ++ seed), key = −ln(u)/w. ONE definition — both samplers and
    * both DuckDB oracles must replay the identical arithmetic.
    */
  private def raceKey(idCol: String, seed: String, w: Column): Column = {
    val u = (conv(substring(md5(concat(col(idCol).cast("string"),
        lit(seed))), 1, 12), 16, 10).cast("long").cast("double") + 0.5) /
      lit(281474976710656.0) // 2^48
    -log(u) / w
  }

  /** Deterministic weighted sampling WITHOUT replacement (SURVEY
    * §2.10 X125) — Efraimidis & Spirakis 2006 via the exponential
    * race: item i draws `u_i` uniform in (0,1) and wins a slot iff
    * its race key `−ln(u_i) / w_i` is among the k smallest; the
    * selected SET is distributed exactly as sequential
    * probability-proportional-to-weight draws without replacement.
    * The quality-weighted corpus-subset selection move ("keep 1M docs,
    * prefer high quality") that per-row Bernoulli thinning
    * ([[importanceKeep]]) cannot express: Bernoulli cannot hit an
    * exact k, and rejection loops cannot run distributed.
    *
    * `u_i` is the first 48 md5 bits of (id ++ seed) — no RNG: reruns,
    * repartitions, and any other engine replay the same winners. Rows
    * with null or non-positive weight never win (an infinite race key
    * in the limit — they are filtered, documented, not crashed).
    *
    * Scale shape: the race key is a pure projection; the k smallest
    * rows come from a TakeOrdered (per-partition top-k then a k-way
    * driver merge — no global sort shuffle), which is exactly the
    * right plan while k stays driver-bounded (samples are).
    *
    * @return the k winning rows (all original columns) plus
    *         `race_key`, smallest key first
    */
  def weightedSample(docs: DataFrame, weight: Column, k: Int,
                     seed: String,
                     idCol: String = "doc_id"): DataFrame = {
    require(k > 0, "k must be positive")
    docs
      .withColumn("__w", weight.cast("double"))
      .filter(col("__w") > 0.0)
      .withColumn("race_key", raceKey(idCol, seed, col("__w")))
      .drop("__w")
      .orderBy(col("race_key"), col(idCol))
      .limit(k)
  }

  /** Per-group exact-k weighted sampling without replacement (SURVEY
    * §2.10 X134) — [[weightedSample]]'s race run independently inside
    * every group: keep the k smallest race keys PER groupCol value
    * (per-language or per-source quality-weighted budgets — the
    * corpus-mixing move where every stratum needs an exact count, not
    * a rate). Same md5-derived uniforms, so the winners in a group
    * are invariant to what other groups contain — adding a new source
    * never reshuffles an existing one's sample.
    *
    * Scale shape: the race key is a pure projection and the per-group
    * selection is a rank window over slim (group, key) rows with the
    * full rows semi-joined back — text never enters the window
    * exchange; groups are unbounded in number (that is the point —
    * the driver-bounded-k TakeOrdered of the global variant does not
    * apply here).
    */
  def weightedSamplePerGroup(docs: DataFrame, weight: Column, k: Int,
                             seed: String, groupCol: String,
                             idCol: String = "doc_id"): DataFrame = {
    // idCol must be UNIQUE: it is the race identity (duplicate ids
    // share a uniform) and the join-back key (duplicates would
    // multiply) — the same corpus-primary-key contract as
    // TrainExport.epochFragments. Enforced LOUDLY below: a duplicated
    // id can only corrupt the result when a sampled id matches more
    // than one source row, so the guard counts matches per id over
    // the (small, ≈ k·|groups|) sampled set and raises — never a
    // silent row multiplication (the Bm25Index id-rejection
    // precedent).
    require(k > 0, "k must be positive")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("race_key"), col(idCol))
    val keep = docs
      .withColumn("__w", weight.cast("double"))
      .filter(col("__w") > 0.0)
      .select(col(groupCol), col(idCol),
        raceKey(idCol, seed, col("__w")).as("race_key"))
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k)
      .select(col(idCol), col("race_key"))
    val wid = Window.partitionBy(col(idCol))
    docs.join(keep, Seq(idCol), "inner")
      .withColumn("__idn", count(lit(1)).over(wid))
      .withColumn("__uniq", assert_true(col("__idn") === 1,
        concat(lit(s"weightedSamplePerGroup: duplicate $idCol '"),
          col(idCol).cast("string"),
          lit("' — ids must be unique (the race identity and the " +
            "join-back key); sample on a unique key or pre-dedupe"))))
      .filter(col("__uniq").isNull) // assert_true: null on pass
      .drop("__idn", "__uniq")
  }

  /** Leakage-safe train/val/test assignment: documents connected by a
    * near-duplicate edge NEVER straddle a split boundary. A plain
    * content-hash split ([[assignSplit]]) puts a document and its
    * near-duplicate in independent buckets — at 80/10/10 fractions,
    * 2·(0.8·0.1) = 16% of near-dup PAIRS land split across train and
    * test (34% across some boundary), leaking training text into
    * evaluation verbatim-up-to-edits. Here the split is keyed on
    * the connected-component label of the near-dup graph (`pairs`,
    * e.g. `Dedup.minhashPairs` output), so every member of a dup
    * cluster lands in the same split by construction; singleton docs
    * (in no pair) hash on their own id exactly as before.
    *
    * Same determinism contract as [[assignSplit]]: the assignment is a
    * pure function of (seed, component), stable under reruns,
    * parallelism, and appends — PROVIDED the pair graph is stable,
    * which holds for the deterministic sketches upstream. Realized
    * fractions converge on CLUSTERS, not docs; heavy dup skew shifts
    * doc-level fractions by design (the cluster is the leakage unit).
    *
    * Scale shape: components over the slim (id, id) edge list
    * (Connected Components only ever shuffles edges), one left join of
    * labels back to docs, then a scalar md5 projection — full doc rows
    * shuffle once, in the label join.
    */
  def splitByCluster(docs: DataFrame, pairs: DataFrame,
                     idCol: String = "doc_id",
                     trainFrac: Double = 0.8, valFrac: Double = 0.1,
                     seed: String = "cluster-split"): DataFrame =
    graft.ops.ConnectedComponents.labelClusters(docs, pairs, idCol)
      .withColumn("split",
        assignSplit(
          concat_ws(":", lit(seed), col("component").cast("string")),
          trainFrac, valFrac))

  /** Rendezvous (highest-random-weight) shard assignment: the shard
    * for `key` is argmax over shards of md5(key:shard:seed). The
    * property a modulo shard (`pmod(hash, n)`) lacks: growing the
    * fleet from n to n+1 shards moves EXACTLY the keys whose new
    * shard's weight beats all previous maxima — an expected 1/(n+1)
    * of keys, every one of them moving TO the new shard (an argmax
    * over a superset differs only when the added element wins),
    * while `pmod` reshuffles ~n/(n+1) of the corpus. That is the
    * contract for sticky doc→shard routing as a persisted index /
    * export fleet grows: incremental shard builds touch only the new
    * shard's docs.
    *
    * Scale shape: a scalar projection — the n weights materialize as
    * a per-row array of (md5-hex, shard) structs and `array_max`
    * picks the winner (hex strings are fixed-width lowercase, so
    * lexicographic max IS numeric max; ties, impossible in practice,
    * break to the higher shard id deterministically). No shuffle, no
    * state, codegen'd end to end; n is a per-call constant (a fleet
    * size, not a data scale).
    */
  def rendezvousShard(key: Column, nShards: Int,
                      seed: String = ""): Column = {
    require(nShards >= 1 && nShards <= 4096,
      "nShards must be in [1, 4096] — the weight array is per-row")
    array_max(transform(sequence(lit(0), lit(nShards - 1)),
      s => struct(
        md5(concat(key, lit(":"), s.cast("string"), lit(":"), lit(seed)))
          .as("w"),
        s.as("shard")))).getField("shard")
  }
}
