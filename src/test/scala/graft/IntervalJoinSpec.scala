package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.IntervalJoin

class IntervalJoinSpec extends SparkFunSuite {
  import spark.implicits._

  private def h(i: Long, j: Long): Double = {
    var z = i * 0x9E3779B97F4A7C15L + j * 0xBF58476D1CE4E5B9L
    z ^= (z >>> 30); z *= 0xBF58476D1CE4E5B9L
    z ^= (z >>> 27); z *= 0x94D049BB133111EBL
    z ^= (z >>> 31)
    ((z >>> 11) % 100000L) / 100000.0
  }

  // random intervals + points
  private val ivs = (1L to 60L).map { i =>
    val lo = (h(i, 1) * 10000).toLong
    val span = (h(i, 2) * 900).toLong - 30 // some inverted (negative)
    (i, lo, lo + span)
  }
  private val pts = (1L to 500L).map(p => (p, (h(p, 3) * 10000).toLong)) ++
    // exact boundary points for a few intervals
    ivs.take(5).flatMap { case (i, lo, hi) =>
      Seq((10000L + i, lo), (20000L + i, hi))
    }
  private lazy val ivDf = ivs.toDF("iv_id", "lo", "hi")
  private lazy val ptDf = pts.toDF("p_id", "t")

  /** The naive cross-filter: every (point, interval) pair it contains. */
  private val expect = for {
    (i, lo, hi) <- ivs if lo <= hi
    (p, t) <- pts if t >= lo && t <= hi
  } yield (p, i)

  private def joined(w: Long) =
    IntervalJoin.join(ptDf, col("t"), ivDf, col("lo"),
      col("hi"), bucketWidth = w, maxBucketsPerInterval = 100000)
      .select("p_id", "iv_id")

  private def pairs(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  test("matches the naive cross-filter exactly (boundaries included), " +
      "no duplicate pairs, inverted intervals dropped") {
    for (w <- Seq(1L, 7L, 64L, 1000L)) {
      val got = pairs(joined(w))
      assert(got.sorted == expect.sorted, s"width $w mismatch")
      assert(got.size == got.distinct.size, s"width $w duplicated pairs")
    }
  }

  test("at autoBroadcastJoinThreshold -1 the intervals side is not " +
      "broadcast, and the pairs still match the naive cross-filter") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try {
      val df = joined(7L)
      val got = pairs(df) // materializes AQE's final plan
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Broadcast"), plan)
      assert(got.sorted == expect.sorted)
    } finally spark.conf.set(key, prev)
  }

  test("degenerate span refuses loudly, naming the knob") {
    val ivDf = Seq((1L, 0L, 100000000L)).toDF("iv_id", "lo", "hi")
    val ptDf = Seq((1L, 5L)).toDF("p_id", "t")
    val e = intercept[IllegalStateException] {
      IntervalJoin.join(ptDf, col("t"), ivDf, col("lo"), col("hi"),
        bucketWidth = 10L, maxBucketsPerInterval = 4096L)
    }
    assert(e.getMessage.contains("maxBucketsPerInterval"))
  }
}
