package graft

import org.apache.spark.sql.SparkSession

/** Plan census (round 15): per-gate counts of the node kinds the
  * scale audit cares about — exchanges by kind, join strategies,
  * cartesian products, codegen spans — emitted as one JSON file
  * (the tools/plan_audit_r{N}.json artifact, now reproducible by
  * command instead of ad hoc).
  *
  * Run: `sbt "runMain graft.PlanCensus <outPath> [query...]"` —
  * no queries → every SparkEntry gate.
  */
object PlanCensus {
  def main(args: Array[String]): Unit =
    Harness.withSession(spark => println(run(spark, args)))

  /** Writes the census to `outPath` and returns a one-line summary. */
  def run(spark: SparkSession, args: Array[String]): String = {
    val outPath = args.headOption.getOrElse("tools/plan_audit_latest.json")
    val names = if (args.length > 1) args.drop(1).toSeq
                else SparkEntry.queries.keys.toSeq.sorted
    val d = "/root/testdata/sf0.001"
    // AQE off: executedPlan must be the FULL physical tree —
    // AdaptiveSparkPlanExec hides its children until execution, so
    // a census over the wrapper counts zero of everything
    val aqe = "spark.sql.adaptive.enabled"
    val aqeWas = spark.conf.getOption(aqe)
    spark.conf.set(aqe, "false")

    def census(name: String): String = {
      try {
        val plan = SparkEntry.queries(name)(spark, d)
          .queryExecution.executedPlan
        var hash = 0; var single = 0; var range = 0; var bhj = 0
        var smj = 0; var bnl = 0; var cart = 0; var span = 0; var win = 0
        plan.foreach { n =>
          val s = n.nodeName
          if (s.contains("Exchange")) {
            val d = n.toString.linesIterator.next()
            if (d.contains("SinglePartition")) single += 1
            else if (d.contains("rangepartitioning")) range += 1
            else hash += 1
          }
          if (s.contains("BroadcastHashJoin")) bhj += 1
          if (s.contains("SortMergeJoin")) smj += 1
          if (s.contains("BroadcastNestedLoopJoin")) bnl += 1
          if (s.contains("CartesianProduct")) cart += 1
          if (s.contains("WholeStageCodegen")) span += 1
          if (s.contains("Window")) win += 1
        }
        s""""$name":{"exchanges_total":${hash + single + range},""" +
          s""""hash":$hash,"single":$single,"range":$range,""" +
          s""""broadcast_hash_joins":$bhj,"sort_merge_joins":$smj,""" +
          s""""bnl_joins":$bnl,"cartesian":$cart,""" +
          s""""codegen_spans":$span,"windows":$win}"""
      } catch { case e: Throwable =>
        System.err.println(s"[census] $name failed: ${e.getMessage}")
        s""""$name":{"error":true}"""
      }
    }

    val body =
      try names.map(census).mkString(",\n ")
      finally aqeWas.fold(spark.conf.unset(aqe))(spark.conf.set(aqe, _))
    val out = s"""{"queries":{\n $body\n},
      |"notes":"executedPlan node census at sf0.001 (pre-execution, AQE initial plan); cartesian must stay 0 except documented bounded frames; SinglePartition exchanges only on post-agg bounded relations"}"""
      .stripMargin
    val p = java.nio.file.Paths.get(outPath)
    if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p, out.getBytes("UTF-8"))
    s"""{"census":"$outPath","queries":${names.size}}"""
  }
}
