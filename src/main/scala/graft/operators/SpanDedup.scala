package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Cross-document duplicate-span detection (SURVEY.md §2 C24) — the
  * window-level half of "Deduplicating Training Data Makes Language
  * Models Better" (Lee et al. 2022): find W-token windows that occur
  * in more than one document (boilerplate, licenses, templated spans)
  * and report, per document, how much of it is such duplicated
  * material. Exact-substring suffix-array dedup refines this; the
  * windowed rolling form is the shape that distributes.
  *
  * Scale shape: each document emits its DISTINCT windows as 64-bit
  * hashes inside the scan stage — 16 bytes a pair, the text never
  * shuffles. The global window-frequency table is one (hash -> n_docs)
  * aggregation with map-side partials; joining it back to the pairs is
  * a same-key shuffle join (both sides hash-partitioned on the window
  * hash — co-partitioned, no broadcast needed since the frequency
  * table scales with the corpus). A viral window (license header in
  * millions of docs) is ONE row on the count side; the pair side
  * spreads across partitions, so there is no hot-key serialization.
  */
object SpanDedup {

  /** Per-doc duplicate-span report over W-token windows:
    * (id, win_total, win_dup, dup_frac) for every doc with >= W tokens,
    * where win_dup counts this doc's distinct windows that also appear
    * in at least one OTHER document and dup_frac = win_dup/win_total
    * (one IEEE divide — engine-portable).
    *
    * The (id, hash) pair table MATERIALIZES once (round-10 profile:
    * it feeds both the frequency count and the join-back, and Spark
    * does NOT reuse the exchange — the count side prunes the id column
    * so the scans differ — which re-ran the whole tokenize+shingle+
    * hash pipeline per consumer) through [[graft.Tables.materialize]]:
    * 16 bytes/window, reliably checkpointed when Spark has a
    * checkpoint directory.
    */
  def report(docs: DataFrame, idCol: String, textCol: String, w: Int): DataFrame = {
    val pairs = graft.Tables.materialize(graft.Tables.spread(docs)
      .select(col(idCol),
        explode(Contamination.wordShingles(col(textCol), w)).as("_win"))
      .select(col(idCol), xxhash64(col("_win")).as("_wh")))
    val winDocs = pairs // pairs are distinct per doc -> count(*) = #docs
      .groupBy("_wh").agg(count(lit(1)).as("_n_docs"))
    pairs.join(winDocs, Seq("_wh"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("win_total"),
        sum(when(col("_n_docs") > 1, 1L).otherwise(0L)).as("win_dup"))
      .withColumn("dup_frac",
        col("win_dup").cast("double") / col("win_total").cast("double"))
  }

  /** The REMEDIATION half of Lee et al. 2022: rebuild each document
    * with every cross-document duplicated W-token window REMOVED (a
    * token goes if ANY dup window covers it). Output:
    * (id, n_tokens, n_removed, scrubbed) for every doc with >= 1
    * token; docs shorter than W keep everything.
    *
    * Scale shape: positional windows hash in the scan stage (24-byte
    * (id, start, hash) triples — text never shuffles into the
    * frequency count); the per-doc dup-start list comes back through
    * one (id → starts) aggregation and joins the original row, where
    * the rebuild is pure executor-side HOF array work. A doc's state
    * is bounded by its own window count.
    */
  def scrub(docs: DataFrame, idCol: String, textCol: String, w: Int): DataFrame = {
    val toks = tokenized(docs, idCol, textCol)
    val dupStarts = dupStartRows(toks, idCol, w)
      .groupBy(col(idCol)).agg(collect_list(col("_s")).as("_starts"))
    toks.join(dupStarts, Seq(idCol), "left")
      .withColumn("_starts", coalesce(col("_starts"), typedlit(Seq.empty[Int])))
      .withColumn("_kept", expr(
        s"transform(filter(transform(_tk, (t, i) -> named_struct('t', t, 'i', i)), " +
          s"p -> NOT exists(_starts, st -> p.i >= st AND p.i < st + $w)), p -> p.t)"))
      .select(col(idCol),
        size(col("_tk")).cast("long").as("n_tokens"),
        (size(col("_tk")) - size(col("_kept"))).cast("long").as("n_removed"),
        array_join(col("_kept"), " ").as("scrubbed"))
  }

  /** Maximal duplicated RUNS (round 9) — the distributable
    * approximation of Lee et al. 2022's headline exact-substring
    * method: adjacent or overlapping cross-doc-duplicated W-token
    * windows merge into MAXIMAL token intervals, so a 200-token
    * license block reports as ONE (start, end) run instead of ~193
    * fixed-W windows. Two dup starts s1 < s2 share a run iff their
    * covered intervals [s, s+W-1] touch or overlap, i.e. s2 - s1 <= W.
    *
    * Output: (id, run_id, run_start, run_end, run_tokens) with run_id
    * 0-based per doc in position order; start/end are inclusive
    * 0-based token indices.
    *
    * Scale shape: identical to [[scrub]] through the dup-start rows
    * (text never shuffles); the merge is one window over
    * (id ORDER BY start) — lag + running-sum island detection, per-doc
    * partitions, rows stream through with no arrays and no driver
    * involvement.
    */
  def runs(docs: DataFrame, idCol: String, textCol: String, w: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("_s"))
    dupStartRows(tokenized(docs, idCol, textCol), idCol, w)
      .withColumn("_prev", lag(col("_s"), 1).over(byDoc))
      .withColumn("_new",
        when(col("_prev").isNull || col("_s") - col("_prev") > w, 1L)
          .otherwise(0L))
      .withColumn("run_id", sum(col("_new")).over(byDoc) - 1L)
      .groupBy(col(idCol), col("run_id"))
      .agg(min(col("_s")).cast("long").as("run_start"),
        (max(col("_s")) + lit(w - 1)).cast("long").as("run_end"))
      .withColumn("run_tokens", col("run_end") - col("run_start") + 1L)
  }

  /** Whitespace tokenization shared by [[scrub]] and [[runs]]. */
  private def tokenized(docs: DataFrame, idCol: String,
                        textCol: String): DataFrame =
    // spread under-split inputs: tokenize + window-hash otherwise run
    // serially inside the single-row-group scan task (r17; identity on
    // any realistically-split source)
    graft.Tables.spread(docs).select(col(idCol),
        split(lower(trim(col(textCol))), "\\s+").as("_tk"))
      .filter(length(trim(col(textCol))) > 0)

  /** (id, _s) for every 0-based window start s whose W-token window
    * also occurs in at least one OTHER document — the shared scan
    * stage: positional windows hash in place (24-byte triples), the
    * frequency table is one (hash -> n_docs) agg, the join back is
    * co-partitioned on the hash.
    */
  private def dupStartRows(toks: DataFrame, idCol: String,
                           w: Int): DataFrame = {
    // 0-based window starts: s covers tokens s .. s+w-1. Materialized
    // once — the frequency count and the join-back both consume it,
    // and the pruned count-side scan defeats exchange reuse (same
    // round-10 finding as report()); 24 bytes/window
    val g = graft.Tables.materialize(toks
      .filter(size(col("_tk")) >= w)
      .select(col(idCol), explode(expr(
        s"transform(sequence(0, size(_tk) - $w), " +
          s"s -> named_struct('s', s, 'wh', xxhash64(array_join(slice(_tk, s + 1, $w), ' '))))"))
        .as("_g"))
      .select(col(idCol), col("_g.s").as("_s"), col("_g.wh").as("_wh")))
    val dupWins = g.select(col(idCol), col("_wh")).distinct()
      .groupBy("_wh").agg(count(lit(1)).as("_nd"))
      .filter(col("_nd") > 1)
    g.join(dupWins, Seq("_wh")).select(col(idCol), col("_s"))
  }
}
