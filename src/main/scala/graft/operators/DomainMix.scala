package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Domain mixing toward target proportions (SURVEY.md §2 C25) — the
  * data-mixture step every large pre-training corpus goes through
  * (The Pile's per-set epochs, LLaMA's sampling proportions): given
  * integer target weights per domain, compute the largest mixed corpus
  * honoring those proportions WITHOUT upsampling any domain, and the
  * per-domain keep fraction that realizes it.
  *
  * Arithmetic is integer-first for cross-engine determinism: with
  * W = Σ weights, the achievable token budget is
  * B = min_j floor(T_j * W / w_j) (the bottleneck domain keeps ~100%),
  * each domain's goal is G_j = floor(w_j * B / W), and the only float
  * op is the final keep_frac = G_j / T_j — one IEEE divide, portable
  * (the sample_weighted precedent). T_j * W stays under 2^63 until
  * ~10^16 tokens per domain at weight 100 — beyond any current corpus;
  * the products are documented bounds, not silent truncation.
  *
  * Scale shape: one token-sum aggregation over the corpus (map-side
  * partials), a #domains-row plan (the unpartitioned min-window runs
  * over domain COUNT rows, not data rows), then a broadcast join of
  * the plan back onto the corpus with the deterministic md5-bucket
  * Bernoulli keep — same machinery as [[Sampling.weightedSample]],
  * document-level, so expected kept tokens per domain ≈ G_j (an exact
  * token-level knapsack would serialize; the Bernoulli approximation
  * is the standard, distributable choice).
  */
object DomainMix {

  private val Buckets = 1000000L

  /** Per-domain mixing plan: (domain, n_docs, t_tokens, weight,
    * budget_tokens, goal_tokens, keep_frac). Domains absent from
    * `targets` are dropped (weight-0 semantics); target domains absent
    * from the corpus make the budget 0 — loudly visible in every row
    * rather than silently ignored.
    */
  def plan(docs: DataFrame, domainCol: String, tokenCol: String,
           targets: Seq[(String, Long)]): DataFrame = {
    require(targets.nonEmpty && targets.forall(_._2 > 0),
      "targets must be positive integer weights")
    val w = targets.map(_._2).sum
    val spark = docs.sparkSession
    import spark.implicits._
    val targetDf = targets.toDF(domainCol, "weight")
    val totals = docs.groupBy(col(domainCol))
      .agg(count(lit(1)).as("n_docs"), sum(col(tokenCol)).as("t_tokens"))
    // right join keeps target domains missing from the corpus: their
    // 0-token rows force budget_tokens to 0 everywhere (loud, correct)
    val joined = totals.join(broadcast(targetDf), Seq(domainCol), "right")
      .na.fill(0L, Seq("n_docs", "t_tokens"))
    // `div`, not `/`: Spark's `/` on longs is DOUBLE division, which
    // loses exactness past 2^53 tokens — integer div matches DuckDB's
    // `//` bit-for-bit at any scale
    joined
      .withColumn("_b_cand", expr(s"(t_tokens * $w) div weight"))
      .withColumn("budget_tokens", min(col("_b_cand")).over(Window.partitionBy()))
      .withColumn("goal_tokens", expr(s"(weight * budget_tokens) div $w"))
      .withColumn("keep_frac",
        when(col("t_tokens") === 0L, lit(0.0))
          .otherwise(least(lit(1.0),
            col("goal_tokens").cast("double") / col("t_tokens").cast("double"))))
      .drop("_b_cand")
  }

  /** Temperature-weighted mixing plan (the mT5 / UniMax knob): target
    * weights ∝ T_j^τ flatten the natural distribution so scarce
    * domains keep more. Fixed at τ = 1/2 — the one non-trivial
    * temperature whose power function is IEEE-EXACT on every engine
    * (sqrt is correctly rounded by the standard; pow/exp/ln are libm
    * calls whose last ulp differs, the same reason idf is banned from
    * decision rules). Integer weights w_j = max(1, floor(sqrt(T_j)))
    * then feed the standard integer [[plan]] arithmetic unchanged.
    *
    * The totals collect is #domains rows — bounded and driver-side by
    * design (the plan IS a driver-sized artifact, like an export's
    * manifest); T_j -> double is exact below 2^53 tokens per domain.
    */
  def planTemperature(docs: DataFrame, domainCol: String,
                      tokenCol: String): DataFrame = {
    val totals = docs.groupBy(col(domainCol))
      .agg(sum(col(tokenCol)).as("t")).collect()
    val targets = totals.map(r => (r.getString(0),
      math.max(1L, math.floor(math.sqrt(r.getLong(1).toDouble)).toLong))).toSeq
    plan(docs, domainCol, tokenCol, targets)
  }

  /** The corpus filtered to the mix: broadcast the plan, keep each doc
    * with probability keep_frac via the deterministic portable bucket
    * (same key → same decision on any engine/rerun).
    */
  def sample(docs: DataFrame, idCol: String, domainCol: String,
             tokenCol: String, targets: Seq[(String, Long)],
             seed: Long = 42L): DataFrame =
    sampleWithPlan(docs, idCol, domainCol,
      plan(docs, domainCol, tokenCol, targets), seed)

  /** [[sample]] against a PRECOMPUTED plan (any DataFrame carrying
    * `domainCol` and `keep_frac` — normally [[plan]]'s output, cached
    * or persisted). This is the one-scan path at scale: materialize
    * the #domains-row plan once (its totals aggregation is the only
    * pass over the corpus), then every downstream consumer pays a
    * single filter-join scan instead of re-deriving the totals.
    */
  def sampleWithPlan(docs: DataFrame, idCol: String, domainCol: String,
                     precomputedPlan: DataFrame,
                     seed: Long = 42L): DataFrame = {
    val p = precomputedPlan.select(col(domainCol), col("keep_frac"))
    docs.join(broadcast(p), Seq(domainCol))
      .filter(Sampling.portableBucket(col(idCol), seed).cast("double") <
        col("keep_frac") * lit(Buckets.toDouble))
  }

  /** Epoch-aware plan — the UPSAMPLING variant (LLaMA-style: a scarce
    * high-weight domain repeats for up to `maxEpochs` passes while big
    * domains are subsampled). Budget becomes
    * B = min_j floor(T_j * maxEpochs * W / w_j); each domain realizes
    * its goal G_j = floor(w_j * B / W) as `epochs_j = ceil(G_j / T_j)`
    * full passes with the LAST pass Bernoulli-kept at
    * last_frac_j = (G_j - (epochs_j - 1) * T_j) / T_j. Same integer
    * `div` arithmetic; `epochs = 1` degrades exactly to [[plan]].
    *
    * Output adds (epochs, last_frac) to the plan columns.
    */
  def planEpochs(docs: DataFrame, domainCol: String, tokenCol: String,
                 targets: Seq[(String, Long)], maxEpochs: Int): DataFrame = {
    require(maxEpochs >= 1)
    require(targets.nonEmpty && targets.forall(_._2 > 0),
      "targets must be positive integer weights")
    val w = targets.map(_._2).sum
    val spark = docs.sparkSession
    import spark.implicits._
    val targetDf = targets.toDF(domainCol, "weight")
    val totals = docs.groupBy(col(domainCol))
      .agg(count(lit(1)).as("n_docs"), sum(col(tokenCol)).as("t_tokens"))
    totals.join(broadcast(targetDf), Seq(domainCol), "right")
      .na.fill(0L, Seq("n_docs", "t_tokens"))
      .withColumn("_b_cand", expr(s"(t_tokens * $maxEpochs * $w) div weight"))
      .withColumn("budget_tokens", min(col("_b_cand")).over(Window.partitionBy()))
      .withColumn("goal_tokens", expr(s"(weight * budget_tokens) div $w"))
      .withColumn("epochs",
        when(col("t_tokens") === 0L, lit(0L))
          .otherwise(expr("(goal_tokens + t_tokens - 1) div t_tokens")))
      .withColumn("last_frac",
        when(col("t_tokens") === 0L, lit(0.0))
          .otherwise(
            (col("goal_tokens") - (col("epochs") - 1L) * col("t_tokens"))
              .cast("double") / col("t_tokens").cast("double")))
      .drop("_b_cand")
  }

  /** The epoch-expanded corpus: each doc appears `epochs_j` times with
    * an `epoch` column (0-based), the final epoch Bernoulli-kept at
    * last_frac. Expansion is an executor-side sequence explode off the
    * broadcast plan — no driver loop, and the repeated text is the
    * SAME row replayed, so downstream shuffles see it once per kept
    * epoch (what a training-order writer wants).
    */
  def sampleEpochs(docs: DataFrame, idCol: String, domainCol: String,
                   tokenCol: String, targets: Seq[(String, Long)],
                   maxEpochs: Int, seed: Long = 42L): DataFrame = {
    val p = planEpochs(docs, domainCol, tokenCol, targets, maxEpochs)
      .select(col(domainCol), col("epochs"), col("last_frac"))
    docs.join(broadcast(p), Seq(domainCol))
      .filter(col("epochs") > 0L)
      .withColumn("epoch",
        explode(expr("sequence(CAST(0 AS BIGINT), epochs - 1)")))
      // full epochs always keep; the last keeps at last_frac — bucket
      // keyed on (id, epoch) so each pass draws independently
      .filter(col("epoch") < col("epochs") - 1L ||
        Sampling.portableBucket(
          concat_ws("#", col(idCol).cast("string"), col("epoch").cast("string")),
          seed).cast("double") < col("last_frac") * lit(Buckets.toDouble))
      .drop("epochs", "last_frac")
  }
}
