package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Gopher-style document quality rules and repetition metrics
  * (SURVEY.md §2 C22/C23) — the rule-based filtering pass every
  * large-scale pre-training pipeline runs before dedup (Rae et al.
  * 2021 "Scaling Language Models" §A1.1; C4's heuristics are the same
  * family).
  *
  * Scale shape: [[ruleFlags]] is pure codegen'd column arithmetic —
  * one parquet scan, zero shuffle, identical at 100 TB. [[repetition]]
  * explodes to 16-byte (doc_id, token-hash) pairs inside the scan
  * stage (the text never shuffles) and aggregates twice on
  * (doc_id, hash) — both stages get map-side partial aggregation and
  * the key space is per-document, so there is no global hot key.
  *
  * Every threshold is an integer cross-multiplication (e.g. mean word
  * length ∈ [lo, hi] as `lo·n ≤ chars ≤ hi·n`), never a float divide,
  * so the decisions reproduce bit-identically in any engine.
  */
object QualityRules {

  /** Default rule thresholds — the single source of truth shared by
    * [[ruleFlags]]'s defaults AND the text_gopher_rules oracle SQL
    * (TextQueries interpolates these), so a changed default cannot
    * silently break gate parity.
    */
  private[graft] val DefaultMinTokens = 20
  private[graft] val DefaultMaxTokens = 90
  private[graft] val DefaultMinWordLen = 2
  private[graft] val DefaultMaxWordLen = 8
  private[graft] val DefaultMinStopHits = 2
  /** distinct-token ratio >= DistinctRatioNum/DistinctRatioDen,
    * decided as the integer cross-multiplication
    * `DistinctRatioDen * n_distinct >= DistinctRatioNum * n_tokens`. */
  private[graft] val DistinctRatioNum = 3
  private[graft] val DistinctRatioDen = 10

  /** Whitespace tokens of lower(trim(text)); empty text -> empty array. */
  private def tokens(text: Column): Column =
    when(length(trim(text)) > 0, split(lower(trim(text)), "\\s+"))
      .otherwise(typedlit(Seq.empty[String]))

  /** Per-document rule flags:
    *   - rule_count:    minTokens <= n_tokens <= maxTokens
    *   - rule_wordlen:  mean token length in [minLen, maxLen]
    *                    (integer form: minLen*n <= word_chars <= maxLen*n)
    *   - rule_stop:     at least minStopHits English stopword hits
    *   - rule_distinct: distinct-token ratio >= 0.3 (10*distinct >= 3*n)
    *   - keep:          conjunction of the four
    *
    * Output columns: id, n_tokens, n_distinct, word_chars, the four
    * rule booleans, keep.
    */
  def ruleFlags(docs: DataFrame, idCol: String, textCol: String,
                minTokens: Int = DefaultMinTokens,
                maxTokens: Int = DefaultMaxTokens,
                minLen: Int = DefaultMinWordLen,
                maxLen: Int = DefaultMaxWordLen,
                minStopHits: Int = DefaultMinStopHits): DataFrame = {
    val t = col(textCol)
    val toks = tokens(t)
    val nTokens = size(toks).cast("long")
    // word chars = non-whitespace chars of the trimmed text
    val wordChars = length(regexp_replace(trim(t), "\\s", "")).cast("long")
    val nStop = graft.functions.TextFunctions
      .stopwordHits(t, graft.functions.TextFunctions.stopwords.head._2)
    docs.select(
      col(idCol),
      nTokens.as("n_tokens"),
      size(array_distinct(toks)).cast("long").as("n_distinct"),
      wordChars.as("word_chars"),
      nStop.as("n_stop"))
      .withColumn("rule_count",
        col("n_tokens") >= minTokens && col("n_tokens") <= maxTokens)
      .withColumn("rule_wordlen",
        col("word_chars") >= lit(minLen.toLong) * col("n_tokens") &&
          col("word_chars") <= lit(maxLen.toLong) * col("n_tokens"))
      .withColumn("rule_stop", col("n_stop") >= minStopHits)
      .withColumn("rule_distinct",
        lit(DistinctRatioDen.toLong) * col("n_distinct") >=
          lit(DistinctRatioNum.toLong) * col("n_tokens"))
      .withColumn("keep",
        col("rule_count") && col("rule_wordlen") &&
          col("rule_stop") && col("rule_distinct"))
  }

  /** Per-document repetition metrics: the most frequent token and the
    * most frequent adjacent bigram, as counts plus one-divide
    * fractions (top_word_frac = cnt/n_tokens,
    * top_bigram_frac = cnt/(n_tokens-1)). Docs need >= 2 tokens.
    *
    * Tokens/bigrams hash to 64 bits in the scan stage; the oracle
    * groups the strings themselves, so a gate pass also proves the
    * hashing collision-free on the corpus (same acceptance as the
    * minhash band join).
    */
  def repetition(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = tokens(col(textCol))
    // letCol: the bigram lambda must reference a BOUND token array,
    // not the split expression tree (which would re-tokenize per
    // element - quadratic in doc length; see TextFunctions.letCol)
    // bigramsOf guards size >= 2 INSIDE the binding: the struct is
    // evaluated before the row filter below, and sequence(1, 0)
    // DESCENDS in Spark — an unguarded lambda would element_at(t, 0)
    // on 1-token docs and crash
    def bigramsOf(t: Column) = when(size(t) >= 2,
      transform(sequence(lit(1), size(t) - 1),
        i => concat(element_at(t, i), lit(" "), element_at(t, i + 1))))
      .otherwise(typedlit(Seq.empty[String]))
    val row = graft.functions.TextFunctions.letCol(toks)(t =>
      struct(size(t).cast("long").as("n"), t.as("tk"), bigramsOf(t).as("bi")))
    val base = docs
      .select(col(idCol), row.as("_r"))
      .where(col("_r.n") >= 2)
      .select(col(idCol), col("_r.n").as("n_tokens"),
        col("_r.tk").as("_toks"), col("_r.bi").as("_bi"))

    def topCount(exploded: Column, out: String) =
      base.select(col(idCol), col("n_tokens"), explode(exploded).as("_u"))
        .select(col(idCol), col("n_tokens"), xxhash64(col("_u")).as("_uh"))
        .groupBy(col(idCol), col("_uh"))
        .agg(max("n_tokens").as("n_tokens"), count(lit(1)).as("_cnt"))
        .groupBy(col(idCol))
        .agg(max("n_tokens").as("n_tokens"), max("_cnt").as(out))

    topCount(col("_toks"), "top_word_cnt")
      .join(topCount(col("_bi"), "top_bigram_cnt").drop("n_tokens"), Seq(idCol))
      .select(col(idCol), col("n_tokens"),
        col("top_word_cnt"),
        (col("top_word_cnt").cast("double") / col("n_tokens").cast("double"))
          .as("top_word_frac"),
        col("top_bigram_cnt"),
        (col("top_bigram_cnt").cast("double") / (col("n_tokens") - 1).cast("double"))
          .as("top_bigram_frac"))
  }

  /** Bigram-LM typicality score (SURVEY.md §2 C40) — the perplexity-
    * filter idiom (CCNet/Gopher score documents under a language
    * model; here the LM is the corpus's own bigram distribution, so
    * documents full of rare word transitions score LOW — outliers,
    * boilerplate, garbled text).
    *
    * Per occurrence of bigram g the "information" credited is the
    * INTEGER floor(log2(count(g))) = length(bin(count))-1 — no libm
    * ln/log2 enters the result (`bin` prints minimal binary identically
    * on Spark and DuckDB); the one double is the final mean, a single
    * division of integers. Output: (idCol, n_bigrams, sum_log2,
    * avg_log2) over docs with ≥2 tokens.
    *
    * Scale shape: bigrams hash to 64 bits in the scan stage (16-byte
    * (id, h) pairs — text never shuffles); the count build and the
    * score join are co-partitioned equi-joins on the hash. The gate's
    * oracle groups the bigram STRINGS, so a pass also proves the
    * hashing collision-free on the corpus.
    */
  def lmScore(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = tokens(col(textCol))
    // letCol-bound token array: one tokenize per row, not per bigram
    val bigrams = graft.functions.TextFunctions.letCol(toks)(t =>
      transform(sequence(lit(1), size(t) - 1),
        i => concat(element_at(t, i), lit("\u0001"), element_at(t, i + 1))))
    // the (id, hash) table feeds BOTH the count build and the score
    // join; Spark cannot reuse the exchange across them (the count
    // side prunes the id column -> a different scan), so without the
    // materialization the tokenize+shingle+hash pipeline runs twice --
    // the same recomputation the span/minhash families fixed
    val bi = graft.Tables.materialize(docs.where(size(toks) >= 2)
      .select(col(idCol), explode(bigrams).as("_bg"))
      .select(col(idCol), xxhash64(col("_bg")).as("_h")))
    val cnt = bi.groupBy("_h").agg(count(lit(1)).as("_cnt"))
    bi.join(cnt, "_h")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"),
        sum(length(bin(col("_cnt"))).cast("long") - 1L).as("sum_log2"))
      .withColumn("avg_log2",
        col("sum_log2").cast("double") / col("n_bigrams").cast("double"))
  }

  /** Conf key bounding the corpus size [[ccnetBuckets]] will compute
    * its tertile boundaries over with EXACT `percentile`. Spark's
    * `Percentile` buffers every distinct value of ONE global group in
    * ONE task's aggregation buffer — near-unique double scores make
    * that O(n) memory on a single task: fine at 10⁷ rows (~0.5 GB of
    * buffer, the envelope this default encodes), a guaranteed OOM at
    * 10¹⁰. Past the bound the boundaries come from the BOUNDED
    * [[graft.functions.QuantileSketch.adaptiveQuantiles]] grid
    * (≤[[graft.functions.QuantileSketch.AdaptiveB]] rows of mergeable
    * state; drift ≤ one grid cell) — CCNet itself computes these
    * boundaries on a sample, so approximation is within the
    * operator's own contract. The same cost-switch discipline as
    * [[Dedup.sideJoin]]: measured size in, plan choice out, never an
    * unconditional unbounded aggregate.
    */
  val MaxExactBoundaryRowsKey = "graft.ccnet.maxExactBoundaryRows"
  val DefaultMaxExactBoundaryRows: Long = 10000000L

  /** The tertile labels and their numerators over 3. */
  private[graft] val CcnetQs: Seq[(String, Int)] =
    Seq("q1" -> 1, "q2" -> 2)

  /** CCNet-style corpus bucketing (SURVEY.md §2 C41): tertile
    * boundaries over `scoreCol`, every doc labelled head/middle/tail
    * by a pure >= decision. Boundary computation is COST-SWITCHED on
    * the measured corpus size (one bounded count off `scores` — which
    * should be PERSISTED by the caller; this method is eager):
    * exact `percentile` (≡ DuckDB quantile_cont bit-for-bit, the
    * q_quantiles precedent) within [[MaxExactBoundaryRowsKey]] rows,
    * the bounded adaptive grid beyond. Output: (idCol, scoreCol,
    * bucket) — identical columns on either path.
    */
  def ccnetBuckets(scores: DataFrame, idCol: String,
                   scoreCol: String = "avg_log2"): DataFrame = {
    val maxExact = scores.sparkSession.conf
      .getOption(MaxExactBoundaryRowsKey).map(_.toLong)
      .getOrElse(DefaultMaxExactBoundaryRows)
    val exactCols = CcnetQs.map { case (lbl, num) =>
      // num/3 as the same IEEE division both engines run
      expr(s"percentile($scoreCol, CAST($num.0 AS DOUBLE) " +
        "/ CAST(3.0 AS DOUBLE))").as(lbl)
    }
    // ONE NaN contract on both paths (ADVICE r11): Spark's exact
    // Percentile orders NaN greatest (shifting q1/q2) while the
    // bounded grid excludes NaN rows — so exclude NaN from the
    // boundary computation here too. lmScore (the gate caller) cannot
    // produce NaN, so the oracle-matched path is unchanged; NaN-scored
    // rows still flow through and label by >= (Spark orders NaN
    // greatest → "head"), they just no longer move the boundaries.
    val boundarySrc = scores.where(!isnan(col(scoreCol)))
    val b: DataFrame =
      if (boundarySrc.count() <= maxExact)
        boundarySrc.agg(exactCols.head, exactCols.tail: _*)
      else {
        val ests = graft.functions.QuantileSketch.adaptiveQuantiles(
          boundarySrc, col(scoreCol),
          CcnetQs.map { case (l, n) => (l, n / 3.0) })
        val pivots = CcnetQs.map { case (lbl, _) =>
          min(when(col("q_label") === lbl, col("est"))).as(lbl)
        }
        ests.agg(pivots.head, pivots.tail: _*)
      }
    scores.crossJoin(broadcast(b))
      .select(col(idCol), col(scoreCol),
        when(col(scoreCol) >= col("q2"), lit("head"))
          .when(col(scoreCol) >= col("q1"), lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
  }
}
