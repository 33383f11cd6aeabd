package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic k× scale-up of a test-corpus directory (round 16,
  * the r15 verdict's #8 item — "all perf receipts are sf0.1; measure
  * a bigger SF"): replicates every FACT table k times with key shifts
  * that preserve join selectivity and distribution shape, so a
  * GateSweep over the output measures how each gate's runtime SCALES,
  * not how it behaves on different data.
  *
  *  - customer/orders/lineitem: custkey and orderkey shift together
  *    per replica (joins keep their fan-out); part/supplier/region/
  *    nation stay fixed like TPC-H dimensions, so per-part fan-out
  *    grows k× (documented).
  *  - events: event_id and user_id shift per replica — k× users over
  *    the SAME time range (the "more traffic" scaling), so windows
  *    and sessionization see k× keys, not longer sessions.
  *  - documents: doc_id shifts; replicas ≥ 1 run text through a
  *    per-replica LETTER+DIGIT ROTATION (translate, a deterministic
  *    substitution cipher). Length, whitespace and within-replica
  *    dup/near-dup structure are preserved EXACTLY (an identical
  *    mapping keeps every within-replica jaccard), while
  *    cross-replica shingle overlap collapses to ~0 — so the dedup
  *    family's pair count scales ~k×, not k²×. (The first cut
  *    appended a short per-replica suffix instead: that made every
  *    replica a jaccard-0.95 NEAR-DUP of its original, the pair
  *    count grew ~45× per doc, and the fuzzy/containment candidate
  *    bounds refused — receipt kept as
  *    tools/bench_sf1_r16_raw_neardup_corpus.json, a density study,
  *    not a scale study.)
  *  - embeddings: vec_id shifts, vectors unchanged (k× density in
  *    the same space — IVF cells grow k×, the honest ANN scaling).
  *
  * Pure function of the input (no Date.now/random): re-runnable.
  * Run: `sbt "runMain graft.MakeScaledCorpus <inDir> <outDir> [k]"`.
  */
object MakeScaledCorpus {
  def main(args: Array[String]): Unit =
    Harness.withSession(spark => println(run(spark, args)))

  /** Writes the k× corpus and returns its row counts as one JSON line. */
  def run(spark: SparkSession, args: Array[String]): String = {
    val in = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/graft_sf1")
    val k = args.lift(2).map(_.toInt).getOrElse(10)

    def rd(t: String): DataFrame = spark.read.parquet(s"$in/$t.parquet")
    def wr(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$out/$t.parquet")

    def shiftBase(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).head.getLong(0) + 1

    /** k replicas with per-replica shifts added to the named columns. */
    def scale(df: DataFrame, shifts: Map[String, Long]): DataFrame = {
      val reps = df.crossJoin(
        spark.range(k).select(col("id").as("__rep")))
      shifts.foldLeft(reps) { case (d, (c, base)) =>
        d.withColumn(c, col(c) + col("__rep") * base)
      }
    }

    // dimensions copy as-is (TPC-H keeps them fixed vs lineitem growth)
    Seq("region", "nation", "part", "supplier").foreach(t => wr(rd(t), t))

    val cust = rd("customer"); val ord = rd("orders"); val li = rd("lineitem")
    val custBase = shiftBase(cust, "c_custkey")
    val ordBase = shiftBase(ord, "o_orderkey")
    wr(scale(cust, Map("c_custkey" -> custBase)).drop("__rep"), "customer")
    wr(scale(ord, Map("o_orderkey" -> ordBase, "o_custkey" -> custBase))
      .drop("__rep"), "orders")
    wr(scale(li, Map("l_orderkey" -> ordBase)).drop("__rep"), "lineitem")

    val ev = rd("events")
    wr(scale(ev, Map("event_id" -> shiftBase(ev, "event_id"),
        "user_id" -> shiftBase(ev, "user_id"))).drop("__rep"), "events")

    val docs = rd("documents")
    val lower = "abcdefghijklmnopqrstuvwxyz"
    val digits = "0123456789"
    def rot(s: String, by: Int): String = {
      val n = ((by % s.length) + s.length) % s.length
      s.drop(n) + s.take(n)
    }
    val from = lower + lower.toUpperCase + digits
    def to(r: Int): String =
      rot(lower, 2 * r + 1) + rot(lower.toUpperCase, 2 * r + 1) +
        rot(digits, r)
    val rotated = (1 until k).foldLeft(
        when(col("__rep") === 0, col("text"))) { (acc, r) =>
      acc.when(col("__rep") === r, translate(col("text"), from, to(r)))
    }.otherwise(col("text"))
    wr(scale(docs, Map("doc_id" -> shiftBase(docs, "doc_id")))
      .withColumn("text", rotated)
      .withColumn("n_chars", length(col("text")).cast("long"))
      .drop("__rep"), "documents")

    val emb = rd("embeddings")
    wr(scale(emb, Map("vec_id" -> shiftBase(emb, "vec_id")))
      .drop("__rep"), "embeddings")

    val counts = Seq("customer", "orders", "lineitem", "events",
      "documents", "embeddings").map(t =>
      s""""$t":${spark.read.parquet(s"$out/$t.parquet").count()}""")
    s"""{"scaled":"$out","k":$k,${counts.mkString(",")}}"""
  }
}
