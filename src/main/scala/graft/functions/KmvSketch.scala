package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** KMV / theta sketch (SURVEY.md §2 B73): the k-minimum-values
  * distinct sketch, the one sketch in the family that supports DIRECT
  * set algebra — union, intersection AND set difference — on sketch
  * state alone. HLL (B6b) can union registers but can only reach an
  * intersection through inclusion–exclusion, and a DIFFERENCE not at
  * all (subtraction of two noisy estimates has unbounded relative
  * error when the sets nearly coincide); the theta estimator reads
  * all three straight off the retained hash samples, which is why the
  * DataSketches line ships it alongside HLL.
  *
  * Sketch definition, chosen so a DuckDB replay is BIT-IDENTICAL:
  *  - h40 = XXH64(value as 8-byte LE, seed 42) >>> 24 — the top 40
  *    bits of the proven long kernel ([[graft.DedupOracles
  *    .xxh64LongCtes]]). 40 bits keep every product in the estimator
  *    inside BIGINT on both engines ((k−1)·2⁴⁰ < 2⁴⁹) — the covar
  *    overflow-envelope lesson applied at design time. Hash
  *    collisions at 40 bits merely merge the colliding values in the
  *    sketch (the same dedup happens identically on both engines —
  *    the sketch is defined OVER the 40-bit hash space).
  *  - sketch = the k smallest DISTINCT h40 values (a sorted array);
  *    θ = the k-th smallest (the array's last element) when the
  *    sketch is full, else the sketch is the EXACT value set.
  *  - distinct estimate: (k−1)·2⁴⁰ div θ — integer division, exact
  *    and identical everywhere (the classic unbiased KMV form).
  *  - intersection / difference at θ⋆ = min(θ_A, θ_B): below θ⋆ BOTH
  *    sketches retain every hash of their set (everything < θ fits in
  *    the k minima by construction), so the retained hashes are a
  *    complete sample of the hash space prefix [0, θ⋆), and
  *    |A∩B| ≈ |{x ∈ A_k ∩ B_k : x < θ⋆}| · 2⁴⁰ div θ⋆ (likewise A∖B
  *    with `array_except`) — counting, one integer divide, no floats.
  *  - union: re-sketch the MERGED minima (k smallest of A_k ∪ B_k)
  *    and apply the same estimator — sketches merge like any other
  *    partial state, which is what makes the per-shard → global
  *    rollup work on a 1000-executor cluster.
  *
  * Scale shape: one (set, h40) distinct shuffle over the raw rows,
  * then ONE bounded aggregation — the partial state is a ≤k-element
  * sorted long array per group (k=256 → 2 KB), map-side combined, so
  * a 100 TB scan ships kilobytes per group per partition. The set
  * algebra afterwards runs on one row per set.
  */
object KmvSketch {

  /** Buffer: k smallest distinct values seen, ascending. */
  final case class Buf(var mins: List[Long])

  private def trim(xs: List[Long], k: Int): List[Long] =
    xs.distinct.sorted.take(k)

  /** Bounded k-minima aggregate: kmin(k)(h) -> sorted array<bigint>
    * of the k smallest distinct inputs. NULLs are ignored.
    */
  class KMinAgg(k: Int) extends Aggregator[java.lang.Long, Buf, Seq[Long]] {
    override def zero: Buf = Buf(Nil)
    override def reduce(b: Buf, v: java.lang.Long): Buf = {
      if (v != null) {
        val x = v.longValue
        val m = b.mins
        // O(k) membership guard (round-15): re-sort/trim ONLY when x
        // genuinely enters the k-minima — a full buffer whose max the
        // input can't beat, or a duplicate, leaves state untouched.
        // Without this every row paid distinct+sort+take at k=256.
        val full = m.lengthCompare(k) >= 0
        if (!(full && x >= m.last) && !m.contains(x))
          b.mins = trim(x :: m, k)
      }
      b
    }
    override def merge(a: Buf, b: Buf): Buf = {
      a.mins = trim(a.mins ++ b.mins, k); a
    }
    override def finish(b: Buf): Seq[Long] = b.mins
    override def bufferEncoder: Encoder[Buf] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Buf]()
    override def outputEncoder: Encoder[Seq[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
  }

  def kmin(k: Int)(h: Column): Column =
    udaf(new KMinAgg(k), Encoders.LONG).apply(h)

  /** Hash space size: h40 ∈ [0, 2^40). */
  val Space: Long = 1L << 40

  /** The 40-bit portable hash of a BIGINT value (see scaladoc). */
  def h40(value: Column): Column =
    shiftrightunsigned(xxhash64(value.cast(LongType)), 24)

  /** KMV estimate from a sketch array column named `c`: exact count
    * when the sketch is not full, else (k−1)·2⁴⁰ div θ — `div` is
    * Spark's BIGINT floor division (the SQL operator; the Column API
    * has no integral divide), matching DuckDB's `//` exactly.
    */
  def estimateExpr(c: String, k: Int): Column = {
    val num = (k - 1).toLong * Space // < 2⁴⁹, exact long
    expr(s"""CASE WHEN size($c) < $k THEN CAST(size($c) AS BIGINT)
            | ELSE ${num}L div element_at($c, $k) END""".stripMargin)
  }

  /** Full set algebra between exactly two labeled sets.
    *
    * Input: `df` with a set-label column and a BIGINT value column.
    * Output: ONE row — exact_a, exact_b (exact distinct counts for
    * context), est_a, est_b, est_union, est_inter, est_diff_ab
    * (the A∖B estimate), all BIGINT.
    */
  def setAlgebra(df: DataFrame, set: Column, value: Column,
                 labelA: String, labelB: String, k: Int): DataFrame = {
    val hashed = df
      .select(set.as("s"), value.as("v"))
      .where(col("s").isin(labelA, labelB) && col("v").isNotNull)
      .select(col("s"), h40(col("v")).as("h"))
      .distinct() // dedup at the 40-bit level — the sketch's domain
    // materialize: BOTH label filters below read this 2-row
    // relation — without it each side re-derives the sketch from a
    // full scan (the multiply-referenced-intermediate rule; plan-
    // pinned in KmvSketchSpec)
    val sk = hashed.groupBy(col("s"))
      .agg(kmin(k)(col("h")).as("ks"), count(lit(1)).as("cnt"))
      .transform(graft.Tables.materialize)
    val a = sk.where(col("s") === labelA)
      .select(col("ks").as("ka"), col("cnt").as("exact_a"))
    val b = sk.where(col("s") === labelB)
      .select(col("ks").as("kb"), col("cnt").as("exact_b"))
    // two 1-row sketch rows — the bounded 1-row crossJoin composition
    val kl = lit(k.toLong)
    a.crossJoin(b)
      // θ of a non-full sketch is the WHOLE hash space (it retains
      // every hash) — the standard theta-sketch convention; it makes
      // the mixed full/non-full case exact-over-the-retained-prefix
      // and collapses the exact branch into the same one divide
      // ((c·2⁴⁰) div 2⁴⁰ = c).
      .withColumn("theta_a",
        when(size(col("ka")) === k, element_at(col("ka"), k))
          .otherwise(lit(Space)))
      .withColumn("theta_b",
        when(size(col("kb")) === k, element_at(col("kb"), k))
          .otherwise(lit(Space)))
      // union sketch: k smallest of the merged minima
      .withColumn("ku",
        slice(array_sort(array_distinct(concat(col("ka"), col("kb")))),
          1, k))
      .withColumn("theta", least(col("theta_a"), col("theta_b")))
      .withColumn("ia", filter(col("ka"), x => x < col("theta")))
      .withColumn("ib", filter(col("kb"), x => x < col("theta")))
      .withColumn("inter_c",
        size(array_intersect(col("ia"), col("ib"))).cast(LongType))
      .withColumn("diff_c",
        size(array_except(col("ia"), col("ib"))).cast(LongType))
      .select(
        col("exact_a"), col("exact_b"),
        estimateExpr("ka", k).as("est_a"),
        estimateExpr("kb", k).as("est_b"),
        estimateExpr("ku", k).as("est_union"),
        expr(s"(inter_c * ${Space}L) div theta").as("est_inter"),
        expr(s"(diff_c * ${Space}L) div theta").as("est_diff_ab"))
  }

  /** The identical algebra as DuckDB SQL over `table` — the XXH64
    * long kernel CTE chain, 40-bit truncation, ORDER BY/LIMIT-k
    * minima, list set ops, same integer divisions.
    */
  def oracleSql(table: String, setCol: String, valueCol: String,
                labelA: String, labelB: String, k: Int): String = {
    val kernel = graft.DedupOracles.xxh64LongCtes("base", "s", "uv")
    val (la, lb) = (graft.SqlLit.str(labelA), graft.SqlLit.str(labelB))
    s"""WITH base AS (
       | SELECT DISTINCT $setCol AS s, $valueCol AS uv FROM $table
       | WHERE $setCol IN ($la, $lb) AND $valueCol IS NOT NULL
       |), $kernel,
       |h40 AS (SELECT DISTINCT s, CAST(hu // 16777216 AS BIGINT) AS h
       |        FROM xh),
       |ka AS (SELECT h FROM h40 WHERE s = $la ORDER BY h LIMIT $k),
       |kb AS (SELECT h FROM h40 WHERE s = $lb ORDER BY h LIMIT $k),
       |ku AS (SELECT h FROM (SELECT h FROM ka UNION SELECT h FROM kb)
       |       ORDER BY h LIMIT $k),
       |ca AS (SELECT count(*) AS n, max(h) AS mx FROM ka),
       |cb AS (SELECT count(*) AS n, max(h) AS mx FROM kb),
       |cu AS (SELECT count(*) AS n, max(h) AS mx FROM ku),
       |ex AS (SELECT
       |  (SELECT count(*) FROM h40 WHERE s = $la) AS exact_a,
       |  (SELECT count(*) FROM h40 WHERE s = $lb) AS exact_b),
       |th AS (SELECT least(
       |         CASE WHEN ca.n = $k THEN ca.mx ELSE ${Space} END,
       |         CASE WHEN cb.n = $k THEN cb.mx ELSE ${Space} END) AS theta
       |       FROM ca, cb),
       |ic AS (SELECT
       |  (SELECT count(*) FROM ka JOIN kb USING (h) WHERE h < theta)
       |    AS inter_c,
       |  (SELECT count(*) FROM ka
       |    WHERE h NOT IN (SELECT h FROM kb) AND h < theta) AS diff_c,
       |  theta FROM th)
       |SELECT
       | CAST(exact_a AS BIGINT) AS exact_a,
       | CAST(exact_b AS BIGINT) AS exact_b,
       | CAST(CASE WHEN ca.n < $k THEN ca.n
       |   ELSE (${k - 1} * ${Space}) // ca.mx END AS BIGINT) AS est_a,
       | CAST(CASE WHEN cb.n < $k THEN cb.n
       |   ELSE (${k - 1} * ${Space}) // cb.mx END AS BIGINT) AS est_b,
       | CAST(CASE WHEN cu.n < $k THEN cu.n
       |   ELSE (${k - 1} * ${Space}) // cu.mx END AS BIGINT) AS est_union,
       | CAST((inter_c * ${Space}) // theta AS BIGINT) AS est_inter,
       | CAST((diff_c * ${Space}) // theta AS BIGINT) AS est_diff_ab
       |FROM ex, ca, cb, cu, ic""".stripMargin
  }
}
