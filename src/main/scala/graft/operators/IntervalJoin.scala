package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Bucketized interval join (round 13) — `points.t BETWEEN
  * intervals.lo AND intervals.hi` at scale. Spark's native plan for a
  * range predicate is BroadcastNestedLoop (or worse, a cartesian):
  * every point against every interval. The standard escape is the
  * GRID BUCKETING used by every production range-join implementation
  * (Databricks' range-join hints, GeoSpark's grid partitioning):
  * intervals EXPLODE to the fixed-width buckets they overlap, points
  * map to exactly ONE bucket, and the join becomes a co-partitioned
  * EQUI-join on the bucket key + an exact residual predicate. Each
  * (point, interval) pair meets in exactly one bucket — the point's —
  * so no dedup pass is needed.
  *
  * Cost model: intervals emit ceil(span/W)+1 rows; points emit 1. The
  * bucket width W is the knob — small W duplicates intervals, large W
  * fattens buckets toward the all-pairs corner. The LOUD guard
  * refuses when the worst interval would explode past
  * `maxBucketsPerInterval` (a degenerate open-ended interval must not
  * silently materialize millions of rows — coarsen W or split the
  * interval upstream; the check is an observed aggregate on the pass
  * that checkpoints the INTERVALS relation, no job of its own).
  *
  * Skew note (100 TB): bucket hot spots come from point-time
  * clustering; the equi-join key is the bucket id, so the standard
  * salting escape ([[SkewTools]]) composes directly if a bucket goes
  * hot. Intervals with lo > hi are dropped (empty, CH/SQL BETWEEN
  * semantics).
  */
object IntervalJoin {

  /** Join `points` (pointCols + `t`) to `intervals` (intervalCols +
    * `lo`, `hi`), emitting one row per (point, containing interval).
    * All of `t`/`lo`/`hi` are LONGS in the same unit; `bucketWidth`
    * must be positive.
    */
  def join(points: DataFrame, t: Column,
           intervals: DataFrame, lo: Column, hi: Column,
           bucketWidth: Long,
           maxBucketsPerInterval: Long = 4096L): DataFrame = {
    require(bucketWidth > 0, s"bucketWidth must be positive: $bucketWidth")
    // The eager checkpoint is the action that fills the Observation, so
    // the worst-interval guard below still throws at construction time,
    // before any explosion is planned. It also materializes the bounded
    // intervals once (round 18), so the broadcast build does not run
    // their upstream plan (often an aggregate over the fact table) again,
    // and counts them for the broadcast decision below.
    val observed = Observation()
    val iv = intervals.withColumn("__lo", lo.cast("long"))
      .withColumn("__hi", hi.cast("long"))
      .where(col("__lo") <= col("__hi"))
      .observe(observed,
        max(expr(s"(__hi div $bucketWidth) - (__lo div $bucketWidth)")).as("worst"),
        count(lit(1)).as("rows"))
      .transform(graft.Tables.materialize)
    val worst = observed.get("worst").asInstanceOf[java.lang.Long]
    val rows = observed.get("rows").asInstanceOf[java.lang.Long].longValue
    if (worst != null && worst + 1 > maxBucketsPerInterval)
      throw new IllegalStateException(
        s"IntervalJoin: an interval spans ${worst + 1} buckets " +
          s"(> maxBucketsPerInterval=$maxBucketsPerInterval) at width " +
          s"$bucketWidth - coarsen bucketWidth or split the interval " +
          "upstream instead of materializing the explosion")
    val ivB = iv.withColumn("__bkt",
      explode(sequence(expr(s"__lo div $bucketWidth"),
        expr(s"__hi div $bucketWidth"))))
    val pB = points.withColumn("__t", t.cast("long"))
      .withColumn("__bkt", expr(s"__t div $bucketWidth"))
    // broadcast the INTERVALS side explicitly (round 18, guide §3.1):
    // it is dimension-sized by this operator's own assumption (the
    // worst-interval guard above bounds its explosion), while the
    // points side is the corpus. Left to the planner, a points
    // relation that happens to fit the 10 MB estimate gets broadcast
    // instead, and the join's parallelism collapses to the exploded
    // intervals side's (small, AQE-coalesced) partition count — at
    // 10× data that serialized the ~42M-pair probe onto 4 tasks
    // (JobProfile receipt in OPTIMIZATION_r18.md). The broadcast is
    // forced only while the explosion's upper bound (rows × worst
    // buckets) fits autoBroadcastJoinThreshold; past it (or at -1) the
    // bucket equi-join is left to the planner.
    val threshold = iv.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    val bound = rows.toDouble * (if (worst == null) 1L else worst + 1) *
      ivB.schema.defaultSize
    val side = if (threshold >= 0 && bound <= threshold) broadcast(ivB) else ivB
    pB.join(side, Seq("__bkt"))
      .where(col("__t") >= col("__lo") && col("__t") <= col("__hi"))
      .drop("__bkt", "__lo", "__hi", "__t")
  }
}
