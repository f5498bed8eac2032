package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Label-quality audits for annotated training data (X226, X233,
  * X235–X237) — the chance-corrected agreement statistics dataset
  * cards report over annotation queues.
  *
  * Shared scale discipline: every statistic reduces the item stream
  * in ONE shuffle — a confusion matrix `groupBy(a, b).count()` (label²
  * rows) for the two-rater kappas, a `(item, label)` count table for
  * the multi-rater alphas — and the tiny reduced table is
  * `localCheckpoint`ed before being consumed by several marginal
  * aggregates, so the item stream is never re-scanned per marginal
  * (the Stylometry z-grid pattern). All divisions are guarded for
  * ANSI mode: an empty input reports zero items and null statistics,
  * never a DIVIDE_BY_ZERO task failure.
  */
object Labeling {

  /** Two-rater confusion matrix (__a, __b, __n) — label² rows, the
    * ONLY full pass over the item stream; lineage cut so the marginal
    * aggregates below re-read label² rows, not the input.
    */
  private def confusion(df: DataFrame, raterACol: String,
                        raterBCol: String): DataFrame =
    df.where(col(raterACol).isNotNull && col(raterBCol).isNotNull)
      .groupBy(col(raterACol).as("__a"), col(raterBCol).as("__b"))
      .agg(count(lit(1)).as("__n"))
      .localCheckpoint()

  /** Cohen's kappa (Cohen 1960) — the standard chance-corrected
    * inter-annotator agreement for two raters over a nominal label
    * set: κ = (p_o − p_e) / (1 − p_e), where p_o is observed
    * agreement and p_e = Σ_k p_a(k)·p_b(k) the agreement two
    * independent raters with the same marginals would reach by
    * chance. Raw percent agreement overstates quality whenever the
    * label distribution is skewed — the exact situation of real
    * annotation queues (mostly-"ok" moderation labels), which is why
    * dataset cards report κ.
    *
    * Scale shape: the item stream shuffles ONCE into the label²-row
    * confusion matrix; n, p_o, and both marginals all derive from
    * that checkpointed table. Rows where either rater's label is
    * NULL are excluded (an unlabeled item measures coverage, not
    * agreement). κ is computed from the ROUNDED p_o/p_e (the oracle
    * mirrors that order) and is null when p_e = 1 (a single shared
    * label — chance explains everything); on an empty input p_e and
    * κ are null and p_o reports 0.0.
    *
    * @return one row: (n_items, po, pe, kappa) — 4dp
    */
  def cohenKappa(df: DataFrame, raterACol: String, raterBCol: String)
      : DataFrame = {
    val m = confusion(df, raterACol, raterBCol)
    val base = m.agg(
      coalesce(sum(col("__n")), lit(0L)).as("n_items"),
      coalesce(sum(when(col("__a") === col("__b"), col("__n"))),
        lit(0L)).as("__ok"))
    val pe = m.groupBy(col("__a").as("__lbl"))
      .agg(sum(col("__n")).as("__na"))
      .join(m.groupBy(col("__b").as("__lbl"))
        .agg(sum(col("__n")).as("__nb")), Seq("__lbl"))
      .agg(coalesce(sum(col("__na") * col("__nb")), lit(0L)).as("__ab"))
    base.crossJoin(pe)
      .select(col("n_items"),
        round(when(col("n_items") > 0,
          col("__ok").cast("double") / col("n_items")).otherwise(0.0), 4)
          .as("po"),
        when(col("n_items") > 0,
          round(col("__ab") / (col("n_items") * col("n_items"))
            .cast("double"), 4)).as("pe"))
      .withColumn("kappa",
        when(col("pe") < 1.0,
          round((col("po") - col("pe")) / (lit(1.0) - col("pe")), 4)))
      .select(col("n_items"), col("po"), col("pe"), col("kappa"))
  }

  /** Weighted Cohen's kappa (Cohen 1968) for ORDERED numeric labels
    * (X235) — Likert-scale annotation queues rate 1..k, where nominal
    * κ scores a 4-vs-5 near-miss exactly like a 1-vs-5 blunder.
    * Weighted κ prices disagreement by distance:
    * κ_w = 1 − D_o/D_e with D_o = Σ o_ij·w_ij (observed
    * disagreement mass) and D_e = Σ p_a(i)·p_b(j)·w_ij (chance
    * disagreement from the marginals), w_ij = (|v_i − v_j|/span)
    * for `weights = "linear"` or its square for `"quadratic"` (the
    * common default — quadratic κ_w equals an ICC under mild
    * conditions), span = max − min over BOTH raters' observed values.
    *
    * Scale shape: one confusion-matrix shuffle; the value span, D_o,
    * and the marginal grid (label² rows, broadcast-sized) all derive
    * from the checkpointed matrix. κ_w is computed from the ROUNDED
    * D_o/D_e and is null when D_e = 0 (one shared value — span 0 —
    * or empty input). NULL-label rows are excluded as in
    * [[cohenKappa]].
    *
    * @return one row: (n_items, d_o, d_e, kappa_w) — 4dp
    */
  def weightedKappa(df: DataFrame, raterACol: String, raterBCol: String,
                    weights: String = "quadratic"): DataFrame = {
    require(weights == "quadratic" || weights == "linear",
      s"weights must be 'quadratic' or 'linear', got '$weights'")
    val m = confusion(df, raterACol, raterBCol)
      .select(col("__a").cast("double").as("__a"),
        col("__b").cast("double").as("__b"), col("__n"))
    val span = m.agg(
      coalesce(sum(col("__n")), lit(0L)).as("n_items"),
      (greatest(max(col("__a")), max(col("__b"))) -
        least(min(col("__a")), min(col("__b")))).as("__span"))
    def w(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column)
        : org.apache.spark.sql.Column = {
      val base = when(col("__span") > 0.0,
        abs(a - b) / col("__span")).otherwise(0.0)
      if (weights == "quadratic") base * base else base
    }
    val dObs = m.crossJoin(span)
      .agg(coalesce(sum(col("__n") * w(col("__a"), col("__b"))),
        lit(0.0)).as("__dnum"))
    val dExp = m.groupBy(col("__a")).agg(sum(col("__n")).as("__na"))
      .crossJoin(m.groupBy(col("__b")).agg(sum(col("__n")).as("__nb")))
      .crossJoin(span)
      // doubles: n_a·n_b in longs overflows past ~3e9 items
      .agg(coalesce(sum(col("__na").cast("double") * col("__nb") *
        w(col("__a"), col("__b"))), lit(0.0)).as("__enum"))
    span.select(col("n_items")).crossJoin(dObs).crossJoin(dExp)
      .select(col("n_items"),
        when(col("n_items") > 0,
          round(col("__dnum") / col("n_items"), 4)).as("d_o"),
        when(col("n_items") > 0,
          round(col("__enum") / (col("n_items").cast("double") *
            col("n_items")), 4)).as("d_e"))
      .withColumn("kappa_w",
        when(col("d_e") > 0.0,
          round(lit(1.0) - col("d_o") / col("d_e"), 4)))
  }

  /** Fleiss' kappa (Fleiss 1971) (X237) — chance-corrected agreement
    * for a FIXED-SIZE rater panel without rater identity: each item
    * carries exactly `raters` nominal labels (long format, one row
    * per assignment). P̄ = mean over items of the within-item pair
    * agreement (Σ_c n_uc² − m)/(m(m−1)); P̄_e = Σ_c p_c² from the
    * pooled label distribution; κ = (P̄ − P̄_e)/(1 − P̄_e). Items with
    * a label count ≠ `raters` (partial coverage, duplicate
    * assignments) are DROPPED and counted — Fleiss' arithmetic is
    * only defined on the constant-panel slice; use
    * [[krippendorffAlpha]] when coverage varies.
    *
    * Scale shape: one (item, label) count shuffle (checkpointed),
    * then item-keyed and label-keyed roll-ups of count rows. κ is
    * computed from the ROUNDED P̄/P̄_e (the oracle mirrors) and is
    * null when P̄_e = 1 or no item survives the panel filter.
    *
    * @return one row: (n_items, n_dropped, p_bar, p_e, kappa) — 4dp
    */
  def fleissKappa(df: DataFrame, itemCol: String, labelCol: String,
                  raters: Int): DataFrame = {
    require(raters >= 2, s"raters must be >= 2, got $raters")
    val nuc = df
      .where(col(itemCol).isNotNull && col(labelCol).isNotNull)
      .groupBy(col(itemCol).as("__u"), col(labelCol).as("__c"))
      .agg(count(lit(1)).as("__nuc"))
      .localCheckpoint()
    val mu = nuc.groupBy(col("__u"))
      .agg(sum(col("__nuc")).as("__mu"),
        sum(col("__nuc") * col("__nuc")).as("__ss"))
    val kept = mu.where(col("__mu") === raters)
    val base = kept.agg(
      coalesce(count(lit(1)), lit(0L)).as("n_items"),
      coalesce(avg((col("__ss") - col("__mu")).cast("double") /
        (lit(raters.toLong) * (raters - 1))), lit(0.0)).as("__pbar"))
    val dropped = mu.where(col("__mu") =!= raters)
      .agg(count(lit(1)).as("n_dropped"))
    // p_c over the KEPT slice only: semi-join nuc to surviving items
    val pe = nuc.join(kept.select(col("__u")), Seq("__u"), "left_semi")
      .groupBy(col("__c")).agg(sum(col("__nuc")).as("__nc"))
      .agg(coalesce(sum(col("__nc") * col("__nc")), lit(0L)).as("__nc2"))
    base.crossJoin(dropped).crossJoin(pe)
      .select(col("n_items"), col("n_dropped"),
        when(col("n_items") > 0, round(col("__pbar"), 4)).as("p_bar"),
        when(col("n_items") > 0,
          // doubles: (n·m)² in longs overflows past ~3e9 ratings
          round(col("__nc2").cast("double") /
            ((col("n_items").cast("double") * raters) *
              (col("n_items").cast("double") * raters)), 4))
          .as("p_e"))
      .withColumn("kappa",
        when(col("p_e") < 1.0,
          round((col("p_bar") - col("p_e")) / (lit(1.0) - col("p_e")),
            4)))
  }

  /** Gwet's AC1 (X239; Gwet 2008) — the chance-corrected agreement
    * that survives the PREVALENCE PARADOX: on a skewed queue (90%
    * "ok" moderation labels) Cohen's kappa can go NEGATIVE at 80%
    * raw agreement, because its chance term p_e inflates with the
    * shared marginal; AC1's chance term γ_e = (1/(k−1))·Σ_c
    * π_c(1−π_c) (π_c = the AVERAGED marginal, k = observed
    * categories across both raters) measures the chance of agreeing
    * on a RANDOM category instead, staying calibrated under skew —
    * which is why annotation-ops teams report AC1 next to κ.
    * AC1 = (p_o − γ_e)/(1 − γ_e), from the ROUNDED pair like
    * [[cohenKappa]]; null when k < 2 or γ_e = 1 or the input is
    * empty.
    *
    * Scale shape: the same single confusion-matrix shuffle as
    * [[cohenKappa]]; the marginal union is label-space-sized.
    *
    * @return one row: (n_items, po, gamma_e, ac1) — 4dp
    */
  def gwetAC1(df: DataFrame, raterACol: String, raterBCol: String)
      : DataFrame = {
    val m = confusion(df, raterACol, raterBCol)
    val base = m.agg(
      coalesce(sum(col("__n")), lit(0L)).as("n_items"),
      coalesce(sum(when(col("__a") === col("__b"), col("__n"))),
        lit(0L)).as("__ok"))
    val pis = m.groupBy(col("__a").as("__lbl"))
      .agg(sum(col("__n")).as("__na"))
      .join(m.groupBy(col("__b").as("__lbl"))
        .agg(sum(col("__n")).as("__nb")), Seq("__lbl"), "full_outer")
      .select(col("__lbl"),
        (coalesce(col("__na"), lit(0L)) + coalesce(col("__nb"), lit(0L)))
          .as("__tot"))
    val gam = pis.crossJoin(base)
      .agg(count(lit(1)).as("__k"),
        coalesce(sum((col("__tot") / (lit(2.0) * col("n_items"))) *
          (lit(1.0) - col("__tot") / (lit(2.0) * col("n_items")))),
          lit(0.0)).as("__sumpi"))
    base.crossJoin(gam)
      .select(col("n_items"),
        round(when(col("n_items") > 0,
          col("__ok").cast("double") / col("n_items")).otherwise(0.0), 4)
          .as("po"),
        when(col("n_items") > 0 && col("__k") >= 2,
          round(col("__sumpi") / (col("__k") - 1), 4)).as("gamma_e"))
      .withColumn("ac1",
        when(col("gamma_e") < 1.0,
          round((col("po") - col("gamma_e")) /
            (lit(1.0) - col("gamma_e")), 4)))
  }

  /** Krippendorff's alpha, nominal data (X233; Krippendorff 2004) —
    * the agreement statistic for the cases Cohen's kappa cannot
    * score: ANY number of raters, MISSING labels (a unit rated by
    * whoever was available contributes whatever pairs it has), and
    * no fixed rater identity — the shape real annotation queues
    * produce. Input is long format: one row per (item, label)
    * assignment; rater identity is irrelevant for nominal alpha.
    *
    * Exactly the coincidence-matrix formulation: with n_uc = labels
    * of category c on unit u, m_u = Σ_c n_uc, over units with
    * m_u ≥ 2 (single-label units are unpairable and dropped),
    * n = Σ m_u:
    *   D_o = (1/n) Σ_u Σ_c n_uc·(m_u − n_uc)/(m_u − 1)
    *   D_e = Σ_c n_c·(n − n_c) / (n·(n − 1))
    *   α   = 1 − D_o/D_e   (null when D_e = 0 — one shared category,
    *                        or n < 2 — nothing to pair)
    * Perfect agreement → 1; chance-level → 0; systematic
    * disagreement < 0.
    *
    * Scale shape: ONE (item, label) count shuffle (checkpointed —
    * it feeds both the m_u roll-up and the unit join), then a single
    * label-keyed aggregate computes the D_o numerator and the n_c
    * marginals together, and the arithmetic runs on one row. Alpha
    * is computed from the UNROUNDED D_o/D_e (the displayed d_o/d_e
    * are 4dp); the oracle mirrors that order.
    *
    * @return one row: (n_pairable, d_o, d_e, alpha) — 4dp
    */
  def krippendorffAlpha(df: DataFrame, itemCol: String,
                        labelCol: String): DataFrame = {
    val nuc = df
      .where(col(itemCol).isNotNull && col(labelCol).isNotNull)
      .groupBy(col(itemCol).as("__u"), col(labelCol).as("__c"))
      .agg(count(lit(1)).as("__nuc"))
      .localCheckpoint()
    val mu = nuc.groupBy(col("__u")).agg(sum(col("__nuc")).as("__mu"))
    val units = nuc.join(mu, Seq("__u")).where(col("__mu") >= 2)
    // one label-keyed pass carries BOTH the D_o numerator and n_c
    val perLabel = units.groupBy(col("__c"))
      .agg(sum(col("__nuc")).as("__nc"),
        sum(col("__nuc") * (col("__mu") - col("__nuc")) /
          (col("__mu") - 1).cast("double")).as("__dc"))
    perLabel.agg(
        coalesce(sum(col("__dc")), lit(0.0)).as("__donum"),
        coalesce(sum(col("__nc")), lit(0L)).as("__n"),
        coalesce(sum(col("__nc") * col("__nc")), lit(0L)).as("__nc2"))
      .select(col("__n").as("n_pairable"),
        when(col("__n") >= 2, col("__donum") / col("__n")).as("__do"),
        // Σ n_c(n − n_c) = n² − Σ n_c²
        when(col("__n") >= 2,
          (col("__n") * col("__n") - col("__nc2")).cast("double") /
            (col("__n") * (col("__n") - 1))).as("__de"))
      .select(col("n_pairable"),
        round(col("__do"), 4).as("d_o"),
        round(col("__de"), 4).as("d_e"),
        when(col("__de") > 0,
          round(lit(1.0) - col("__do") / col("__de"), 4)).as("alpha"))
  }

  /** Krippendorff's alpha, ORDINAL data (X240; Krippendorff 2004) —
    * the third metric in the alpha family: ordered categories whose
    * spacing is NOT meaningful (severity grades, star ratings read as
    * ranks). The ordinal difference walks the observed marginal:
    * δ²(c,k) = (Σ_{g=c..k} n_g − (n_c + n_k)/2)², so skipping a
    * POPULAR middle category costs more than skipping a rare one —
    * which neither the nominal (all-or-nothing) nor the interval
    * (fixed spacing) metric expresses. Same unit semantics as
    * [[krippendorffAlpha]]; α from the unrounded D_o/D_e.
    *
    * Scale shape: one (item, label) count shuffle (checkpointed, it
    * feeds three consumers), a label-space cumulative window (single
    * partition, bounded by the LABEL space — documented, never
    * item-scaled), a label²-row δ² grid, and a WITHIN-unit pair join
    * whose per-unit output is bounded by (distinct labels per
    * unit)² ≤ raters² — the one pairwise step the ordinal metric
    * cannot algebraically collapse (unlike [[krippendorffAlphaInterval]]).
    *
    * @return one row: (n_pairable, d_o, d_e, alpha) — 4dp
    */
  def krippendorffAlphaOrdinal(df: DataFrame, itemCol: String,
                               labelCol: String): DataFrame = {
    val nuc = df
      .where(col(itemCol).isNotNull && col(labelCol).isNotNull)
      .groupBy(col(itemCol).as("__u"),
        col(labelCol).cast("double").as("__c"))
      .agg(count(lit(1)).as("__nuc"))
      .localCheckpoint()
    val mu = nuc.groupBy(col("__u")).agg(sum(col("__nuc")).as("__mu"))
    val units = nuc.join(mu, Seq("__u")).where(col("__mu") >= 2)
      .localCheckpoint()
    val marg = units.groupBy(col("__c")).agg(sum(col("__nuc")).as("__nc"))
    // label-space cumulative marginal — the window is single-partition
    // by construction but runs over |labels| rows, never items
    val cum = marg.withColumn("__cum",
      sum(col("__nc")).over(org.apache.spark.sql.expressions.Window
        .orderBy(col("__c"))
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, org.apache.spark.sql.expressions.Window
          .currentRow)))
    val ga = cum.select(col("__c").as("__ca"), col("__nc").as("__nca"),
      col("__cum").as("__cuma"))
    val gb = cum.select(col("__c").as("__cb"), col("__nc").as("__ncb"),
      col("__cum").as("__cumb"))
    val grid = ga.join(gb, col("__ca") < col("__cb"))
      .withColumn("__d2", {
        // Σ_{g=ca..cb} n_g = cum(cb) − cum(ca) + n_ca
        val s = col("__cumb") - col("__cuma") + col("__nca")
        val d = s.cast("double") -
          (col("__nca") + col("__ncb")).cast("double") / 2.0
        d * d
      })
    val de = grid.agg(coalesce(sum(lit(2.0) *
      col("__nca").cast("double") * col("__ncb") * col("__d2")),
      lit(0.0)).as("__denum"))
    val ua = units.select(col("__u"), col("__c").as("__ca"),
      col("__nuc").as("__pa"), col("__mu"))
    val ub = units.select(col("__u"), col("__c").as("__cb"),
      col("__nuc").as("__pb"))
    val doRow = ua.join(ub, Seq("__u")).where(col("__ca") < col("__cb"))
      .join(broadcast(grid.select(col("__ca"), col("__cb"), col("__d2"))),
        Seq("__ca", "__cb"))
      .agg(coalesce(sum(lit(2.0) * col("__pa") * col("__pb") *
        col("__d2") / (col("__mu") - 1).cast("double")), lit(0.0))
        .as("__donum"))
    val nRow = units.agg(coalesce(sum(col("__nuc")), lit(0L)).as("__n"))
    nRow.crossJoin(doRow).crossJoin(de)
      .select(col("__n").as("n_pairable"),
        when(col("__n") >= 2, col("__donum") / col("__n")).as("__do"),
        when(col("__n") >= 2, col("__denum") /
          (col("__n") * (col("__n") - 1)).cast("double")).as("__de"))
      .select(col("n_pairable"),
        round(col("__do"), 4).as("d_o"),
        round(col("__de"), 4).as("d_e"),
        when(col("__de") > 0,
          round(lit(1.0) - col("__do") / col("__de"), 4)).as("alpha"))
  }

  /** Majority-vote consensus label per item (X241) — the label
    * AGGREGATION step of every annotation queue: long (item, label)
    * assignments in, one row per item out with the winning label, its
    * vote count, the item's total votes, and `support` = votes_top /
    * n_votes (1.0 = unanimous). Ties break toward the LARGER label
    * (struct-max over (count, label) — deterministic, rerun-stable).
    * NULL items/labels are excluded. Leave-in consensus: each rater's
    * own vote counts toward the majority they are compared against
    * (the standard queue report; a leave-one-out variant would need
    * per-rater re-aggregation).
    *
    * Scale shape: one (item, label) count shuffle, then the A2/W2
    * struct-argmax per item — no window, no second pass over the
    * assignment stream.
    *
    * @return (itemCol, consensus, votes_top, n_votes, support 4dp)
    */
  def consensusLabels(df: DataFrame, itemCol: String,
                      labelCol: String): DataFrame =
    df.where(col(itemCol).isNotNull && col(labelCol).isNotNull)
      .groupBy(col(itemCol), col(labelCol).as("__c"))
      .agg(count(lit(1)).as("__n"))
      .groupBy(col(itemCol))
      .agg(max(struct(col("__n"), col("__c"))).as("__w"),
        sum(col("__n")).as("n_votes"))
      .select(col(itemCol), col("__w.__c").as("consensus"),
        col("__w.__n").as("votes_top"), col("n_votes"),
        round(col("__w.__n").cast("double") / col("n_votes"), 4)
          .as("support"))

  /** Per-rater agreement with the majority consensus + outlier flag
    * (X241) — the queue-ops question behind every agreement
    * statistic: WHICH annotator is dragging α down? Each rater's
    * assignments are scored against [[consensusLabels]] (leave-in,
    * see the caveat there); a rater is flagged when their agreement
    * rate sits more than `zThresh` population standard deviations
    * BELOW the rater mean (one-sided — agreeing too much is not a
    * defect under majority voting). z is null (and no one is
    * flagged) when the rates have zero variance.
    *
    * Scale shape: one (item, label) count shuffle for the consensus,
    * one slim (item, consensus) equi-join back onto the assignment
    * stream, one rater-keyed aggregate (rater-space rows), and a
    * one-row stats broadcast.
    *
    * @return (raterCol, n_items, agree_rate, z, outlier) — 4dp
    */
  def raterOutliers(df: DataFrame, itemCol: String, raterCol: String,
                    labelCol: String, zThresh: Double = 2.0)
      : DataFrame = {
    require(zThresh > 0, s"zThresh must be > 0, got $zThresh")
    val labeled = df.where(col(itemCol).isNotNull &&
      col(raterCol).isNotNull && col(labelCol).isNotNull)
    val cons = consensusLabels(labeled, itemCol, labelCol)
      .select(col(itemCol), col("consensus"))
    val per = labeled.join(cons, Seq(itemCol))
      .groupBy(col(raterCol))
      .agg(count(lit(1)).as("n_items"),
        avg(when(col(labelCol) === col("consensus"), 1.0)
          .otherwise(0.0)).as("__rate"))
    val stats = per.agg(avg(col("__rate")).as("__mu"),
      stddev_pop(col("__rate")).as("__sd"))
    per.crossJoin(stats)
      .select(col(raterCol), col("n_items"),
        round(col("__rate"), 4).as("agree_rate"),
        when(col("__sd") > 0,
          round((col("__rate") - col("__mu")) / col("__sd"), 4)).as("z"))
      .withColumn("outlier",
        coalesce(col("z") < -zThresh, lit(false)))
  }

  /** Krippendorff's alpha, INTERVAL data (X236; Krippendorff 2004) —
    * the alpha for numeric ratings (Likert-as-interval, scores,
    * spans), where the nominal metric over-penalizes near-misses: the
    * difference function is δ²(v, v') = (v − v')², so raters at 4 vs
    * 5 on a 5-point scale mostly agree instead of purely disagreeing.
    * Same unit semantics as [[krippendorffAlpha]]: any rater count,
    * missing labels fine, units with fewer than 2 ratings dropped.
    *
    * The pairwise squared differences collapse algebraically —
    * Σ_{i,j}(x_i − x_j)² = 2(m·Σx² − (Σx)²) — so NO within-unit
    * pair join exists:
    *   D_o = (1/n) Σ_u 2(m_u·S2_u − S1_u²)/(m_u − 1)
    *   D_e = 2(n·S2 − S1²) / (n·(n − 1))
    * with S1/S2 the plain and squared rating sums (per unit, and
    * pooled over pairable rows). α = 1 − D_o/D_e, from the UNROUNDED
    * ratios like the nominal form; null when D_e = 0 (zero variance).
    *
    * Scale shape: ONE item-keyed shuffle carrying (count, Σv, Σv²),
    * then a one-row aggregate — each input row is consumed exactly
    * once, the slimmest statistic in the family.
    *
    * @return one row: (n_pairable, d_o, d_e, alpha) — 4dp
    */
  def krippendorffAlphaInterval(df: DataFrame, itemCol: String,
                                valueCol: String): DataFrame = {
    val labeled = df
      .where(col(itemCol).isNotNull && col(valueCol).isNotNull)
      .select(col(itemCol).as("__u"),
        col(valueCol).cast("double").as("__v"))
    val perUnit = labeled.groupBy(col("__u"))
      .agg(count(lit(1)).as("__m"), sum(col("__v")).as("__s1"),
        sum(col("__v") * col("__v")).as("__s2"))
      .where(col("__m") >= 2)
    perUnit.agg(
        coalesce(sum(col("__m")), lit(0L)).as("__n"),
        coalesce(sum(lit(2.0) * (col("__m") * col("__s2") -
          col("__s1") * col("__s1")) / (col("__m") - 1).cast("double")),
          lit(0.0)).as("__donum"),
        coalesce(sum(col("__s1")), lit(0.0)).as("__gs1"),
        coalesce(sum(col("__s2")), lit(0.0)).as("__gs2"))
      .select(col("__n").as("n_pairable"),
        when(col("__n") >= 2, col("__donum") / col("__n")).as("__do"),
        when(col("__n") >= 2,
          lit(2.0) * (col("__n") * col("__gs2") -
            col("__gs1") * col("__gs1")) /
            (col("__n") * (col("__n") - 1)).cast("double")).as("__de"))
      .select(col("n_pairable"),
        round(col("__do"), 4).as("d_o"),
        round(col("__de"), 4).as("d_e"),
        when(col("__de") > 0,
          round(lit(1.0) - col("__do") / col("__de"), 4)).as("alpha"))
  }
}
