package graft

import org.apache.spark.sql.SparkSession

/** Dev micro-bench (round 17): Bench's timed loop — construction
  * (with its eager guard/persist jobs) INSIDE the timed window, full
  * materialization through the noop sink — over a NAMED subset of
  * gates, so a single optimization can be A/B'd in seconds instead of
  * a 15-minute whole-bench pass. One warm pass at the warm SF, then
  * `passes` interleaved timed passes at the target SF, reporting
  * per-query minima as one JSON line.
  *
  * Run: `runMain graft.QueryBench <sfDir> <passes> <name> [name...]`.
  */
object QueryBench {
  def main(args: Array[String]): Unit =
    Harness.withSession(spark => println(run(spark, args)))

  def run(spark: SparkSession, args: Array[String]): String = {
    require(args.length >= 3, "usage: QueryBench <sfDir> <passes> <name>...")
    val sfDir = args(0)
    val passes = args(1).toInt
    val names = args.drop(2).toSeq
    Harness.warm(spark, names)
    val mins = Harness.minOfN(spark, names, sfDir, passes, tag = "qbench")
    s"""{"metric":"qbench",${Harness.fields(mins)},"sf":"$sfDir"}"""
  }
}
