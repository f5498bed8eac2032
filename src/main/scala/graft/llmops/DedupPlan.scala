package graft.llmops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One-call dedup-tier advisor: measure a corpus's duplication shape
  * with one cheap full pass plus one sampled LSH probe, then recommend
  * which dedup tier to pay for — exact hash ([[Dedup.exact]]),
  * planned LSH ([[Dedup.minhashDedup]] / [[Dedup.minhashPairs]] with
  * [[LshPlan]] parameters), exact set-similarity join
  * ([[Dedup.jaccardJoinExact]]), or exact containment join
  * ([[Dedup.containmentJoinExact]]).
  *
  * The decision today lives in scaladoc spread across four operators;
  * the reference pipeline's user-facing surface always had one entry
  * point per task (one scraper call, one extract call — cf.
  * /root/reference/src/main.py:24-63), so the engine gets one here:
  * `DedupPlan.plan(docs)` returns a [[DedupTierPlan]] whose fields
  * are the evidence and whose `recommendedTier`/`reason` are the
  * verdict.
  *
  * What it measures, and how it scales:
  *
  *  - Full pass (ONE aggregate over slim projected rows — the text
  *    column is hashed at the scan and never shuffled, the
  *    [[Dedup.exact]] slim-rows discipline): doc count, approximate
  *    distinct text hashes (HLL), and a Misra-Gries heavy-hitter pass
  *    over the text hash giving a LOWER BOUND on the largest
  *    identical-text cluster — the skew number that decides whether
  *    the exact tier's hash key needs the slim-rows shape at all.
  *  - Sampled probe (deterministic hash sampling at `sampleRate`,
  *    then exact-deduped so every number below measures the mass the
  *    exact tier does NOT capture): MinHash signatures banded at a
  *    LOWERED probe threshold (so containment-shaped pairs are
  *    visible at all), signature verify → near-dup pair count,
  *    per-doc participation, and the real tier's expected candidate
  *    volume (each probe pair weighted by the recommended plan's
  *    S-curve at its similarity). Scaled back up by 1/p² (pairs need
  *    both endpoints sampled) and 1/p (a doc's partner is sampled
  *    with probability ≈ p). Both estimators assume pairwise
  *    duplication; clustered duplication makes the pair estimate a
  *    lower bound and the doc-rate estimate an upper bound.
  *  - Containment signal: among verified sampled pairs, how much
  *    near-dup mass sits BELOW the Jaccard threshold but ABOVE a
  *    containment threshold once sizes are accounted for. From
  *    J = i/(a+b−i) follows i = J(a+b)/(1+J) and containment of the
  *    smaller side C = i/a = J(1+b/a)/(1+J) (set-similarity
  *    identities; sizes proxied by text length). A corpus whose dup
  *    mass is subset-shaped (truncations, boilerplate wrappers) needs
  *    the containment tier — Jaccard LSH is blind to it by
  *    construction.
  *
  * Everything after the two Spark jobs is driver-side arithmetic on
  * one collected row per job; nothing here materializes pairs beyond
  * the sampled probe.
  */
object DedupPlan {

  /** The advisor's report: evidence fields + verdict. */
  final case class DedupTierPlan(
      nDocs: Long,
      distinctTexts: Long,
      exactDupRate: Double,
      maxExactClusterLb: Long,
      sampleRate: Double,
      sampledDocs: Long,
      estCandidatePairs: Long,
      estNearDupPairs: Long,
      estNearDupDocRate: Double,
      containmentExtraRate: Double,
      bands: Int,
      rowsPerBand: Int,
      effectiveThreshold: Double,
      recommendedTier: String,
      reason: String) {
    /** Candidate volume per document at full scale — the LSH verify
      * cost knob the recommendation thresholds read. */
    def candidatesPerDoc: Double =
      if (nDocs == 0) 0.0 else estCandidatePairs.toDouble / nDocs
  }

  /** Probe `docs` and recommend a dedup tier at `threshold`.
    *
    * @param sampleRate   deterministic doc sampling rate for the LSH
    *                     probe (1.0 = probe everything; specs do)
    * @param ssjoinBudget max estimated candidate pairs PER DOC at
    *                     which the exact SSJoin tier is called
    *                     affordable (its prefix-filter candidates
    *                     track LSH candidates at the same threshold)
    * @param containmentThreshold the containment tier's threshold,
    *                     used only to size the containment signal
    */
  def plan(docs: DataFrame, threshold: Double = 0.7,
           sampleRate: Double = 0.1, ssjoinBudget: Double = 2.0,
           containmentThreshold: Double = 0.8, shingleSize: Int = 5,
           maxHashes: Int = 128, idCol: String = "doc_id",
           textCol: String = "text"): DedupTierPlan = {
    require(threshold > 0.0 && threshold < 1.0, "threshold in (0, 1)")
    require(sampleRate > 0.0 && sampleRate <= 1.0, "sampleRate in (0, 1]")
    val lsh = LshPlan.plan(threshold, maxHashes)

    // ---- full pass: slim (hash, length) rows only -------------------
    val slim = docs.select(xxhash64(col(textCol)).as("h"),
      length(col(textCol)).as("len"), col(idCol).as("id"))
    val fullRow = slim.agg(
      count(lit(1)).as("n"),
      approx_count_distinct(col("h")).as("d"),
      Freq.freqItems(col("h"), 32).as("hh")).head()
    val nDocs = fullRow.getLong(0)
    val distinctTexts = math.min(fullRow.getLong(1), nDocs)
    val exactDupRate =
      if (nDocs == 0) 0.0 else 1.0 - distinctTexts.toDouble / nDocs
    // Misra-Gries guarantees est >= true - n/k: reported as the lower
    // bound it is; the largest identical-text cluster is at least this.
    val maxExactClusterLb = {
      val hh = fullRow.getSeq[org.apache.spark.sql.Row](2)
      if (hh.isEmpty) 0L else hh.map(_.getLong(1)).max
    }

    // ---- sampled LSH probe ------------------------------------------
    // Deterministic sampling on the id hash (salted away from the
    // content hash) so the probe is reproducible run to run. The probe
    // runs on the EXACT-DEDUPED sample: exact copies are captured (and
    // priced) by the exact tier above, so the near-dup numbers below
    // measure precisely the mass exact dedup does NOT capture — the
    // quantity the tier decision needs.
    val sampled = Dedup.exact(
      if (sampleRate >= 1.0) docs
      else docs.filter(
        pmod(xxhash64(col(idCol), lit("dedup-plan-probe")), lit(1000000L))
          < lit((sampleRate * 1e6).toLong)),
      idCol, textCol)
    // Band at a LOWER probe threshold than the requested one:
    // containment-shaped pairs (prefix/wrapper dups) sit at Jaccard
    // ≈ C·ρ/(1+ρ−Cρ) for size ratio ρ, far below `threshold`, and a
    // probe banded at `threshold` would be blind to them — the exact
    // blindness the containment verdict exists to detect.
    val tProbe = math.max(0.25, threshold * 0.5)
    val probePlan = LshPlan.plan(tProbe, maxHashes)
    val sigs = sampled.select(col(idCol).as("id"),
      length(col(textCol)).as("len"),
      Sketches.minhash_signature(col(textCol), shingleSize,
        probePlan.nHashes).as("sig"))
      .localCheckpoint(false)
    val banded = Dedup.lshBanded(sigs.select(col("id"), col("sig")),
      probePlan.bands, probePlan.rowsPerBand)
    val candidates = banded
      .select(col("band"), col("band_hash"), col("id").as("id_a"))
      .join(banded.select(col("band"), col("band_hash"),
        col("id").as("id_b")), Seq("band", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    val verified = candidates
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a"),
        col("len").as("len_a")), "id_a")
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b"),
        col("len").as("len_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        Sketches.signatureSim(col("sig_a"), col("sig_b")).as("sim"),
        least(col("len_a"), col("len_b")).as("la"),
        greatest(col("len_a"), col("len_b")).as("lb"))
      // probe floor: sub-threshold pairs stay — they carry the
      // containment signal the Jaccard tier would never see
      .filter(col("sim") >= lit(tProbe * 0.8))
    // C(small in big) = J(1 + b/a) / (1 + J), sizes proxied by length.
    val contain = col("sim") * (lit(1.0) + col("lb") / col("la")) /
      (lit(1.0) + col("sim"))
    // Expected candidate volume of the REAL LSH tier at `threshold`:
    // each probe-surfaced pair enters the real tier's verify stage
    // with probability P(sim) = 1 − (1 − sim^r)^b of the plan actually
    // recommended — summable in SQL, no collect.
    val scurve = lit(1.0) -
      pow(lit(1.0) - pow(col("sim"), lit(lsh.rowsPerBand.toDouble)),
        lit(lsh.bands.toDouble))
    val probeRow = verified.agg(
      sum(scurve).as("exp_cand"),
      sum(when(col("sim") >= threshold, 1L).otherwise(0L)).as("pairs"),
      sum(when(col("sim") < threshold &&
        contain >= containmentThreshold, 1L).otherwise(0L)).as("extra"),
      approx_count_distinct(when(col("sim") >= threshold, col("id_a")))
        .as("da"),
      approx_count_distinct(when(col("sim") >= threshold, col("id_b")))
        .as("db")).head()
    val sampledDocs =
      if (sampleRate >= 1.0) nDocs
      else sigs.count()
    val pairScale = 1.0 / (sampleRate * sampleRate)
    val sampledPairs = if (probeRow.isNullAt(1)) 0L else probeRow.getLong(1)
    val sampledExtra = if (probeRow.isNullAt(2)) 0L else probeRow.getLong(2)
    val expCand = if (probeRow.isNullAt(0)) 0.0 else probeRow.getDouble(0)
    val estCandidatePairs = math.round(expCand * pairScale)
    val estNearDupPairs = math.round(sampledPairs * pairScale)
    // distinct participants, de-overlapped crudely (a doc may be both
    // an id_a and an id_b): min(da+db, 2*pairs) bounded by the sample
    val participants = math.min(probeRow.getLong(3) + probeRow.getLong(4),
      2L * sampledPairs)
    val estNearDupDocRate =
      if (sampledDocs == 0) 0.0
      else math.min(1.0, participants.toDouble / sampledDocs / sampleRate)
    val containmentExtraRate =
      if (sampledDocs == 0) 0.0
      else math.min(1.0, 2.0 * sampledExtra.toDouble / sampledDocs / sampleRate)

    // ---- verdict -----------------------------------------------------
    val candPerDoc =
      if (nDocs == 0) 0.0 else estCandidatePairs.toDouble / nDocs
    val (tier, reason) =
      if (nDocs == 0)
        ("exact", "empty input: the exact tier is free and sufficient")
      else if (estNearDupDocRate < 0.01 && containmentExtraRate < 0.01)
        ("exact", f"near-dup doc rate ${estNearDupDocRate * 100}%.2f%% and " +
          f"containment extra ${containmentExtraRate * 100}%.2f%% are both " +
          f"< 1%%: exact-hash dedup (dup rate ${exactDupRate * 100}%.1f%%, " +
          s"largest cluster >= $maxExactClusterLb) captures the dup mass")
      else if (containmentExtraRate >= 0.25 * math.max(estNearDupDocRate, 1e-9))
        ("containment", f"${containmentExtraRate * 100}%.1f%% of docs sit in " +
          f"subset-shaped pairs below Jaccard $threshold%.2f but at " +
          f"containment >= $containmentThreshold%.2f — Jaccard LSH is blind " +
          "to them; pay the exact containment join (recall 1.0)")
      else if (candPerDoc <= ssjoinBudget)
        ("ssjoin", f"candidate volume ${candPerDoc}%.2f pairs/doc is inside " +
          f"the $ssjoinBudget%.1f budget: the exact SSJoin tier's recall-1.0 " +
          "guarantee is affordable here")
      else
        ("lsh", f"candidate volume ${candPerDoc}%.2f pairs/doc exceeds the " +
          f"ssjoin budget $ssjoinBudget%.1f: run planned LSH " +
          s"(bands=${lsh.bands}, rowsPerBand=${lsh.rowsPerBand}, " +
          f"S-curve midpoint ${lsh.effectiveThreshold}%.3f)")

    DedupTierPlan(nDocs, distinctTexts, exactDupRate, maxExactClusterLb,
      sampleRate, sampledDocs, estCandidatePairs, estNearDupPairs,
      estNearDupDocRate, containmentExtraRate, lsh.bands, lsh.rowsPerBand,
      lsh.effectiveThreshold, tier, reason)
  }
}
