package graft

import org.apache.spark.sql.SparkSession

/** Wall-clock sweep over EVERY gate in SparkEntry.queries — the
  * round-15 instrument closing the round-14 verdict's finding that 89
  * of 222 gates had no timing record anywhere (exactly how an 11 s
  * outlier hid). One warm pass at sf0.001 (codegen/JIT outside the
  * window), then TWO timed noop-write passes per gate at the target
  * SF: the FIRST ("cold") pays any per-directory one-time cost
  * (trained PQ/OPQ/IVF models, broadcast builds), the SECOND ("warm")
  * is the steady-state serving time comparable to Bench's min-of-5.
  * Keeping both makes training costs VISIBLE as cold−warm deltas
  * instead of letting them hide in (or poison) a single number —
  * the first single-pass run of this instrument mis-flagged
  * ann_ivfopq at 21.8 s when 20.4 s of it was the once-per-corpus
  * OPQ rotation train that every later OPQ gate reuses.
  *
  * Flag rule (SURVEY §6): any gate with warm time > [[FlagSec]]
  * seconds at sf0.1 is listed in "flagged" and must be either fixed
  * or explained in SURVEY before the round closes; a cold−warm delta
  * > [[ColdDeltaSec]] must be attributable to a documented train-once
  * model (the trained-model-literal discipline), not per-query work.
  *
  * Run: `sbt "runMain graft.GateSweep [sfDir] [outPath] [gate,gate...]"`.
  */
object GateSweep {

  val FlagSec = 3.0
  val ColdDeltaSec = 10.0

  def main(args: Array[String]): Unit =
    Harness.withSession(spark => println(run(spark, args)))

  /** Writes the sweep to `outPath` and returns a one-line summary. */
  def run(spark: SparkSession, args: Array[String]): String = {
    import Harness.json
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outPath = args.lift(1).getOrElse("tools/bench_all_gates_latest.json")
    // optional 3rd arg: comma-separated gate names to sweep (round 16
    // — the sf1 scale-trend receipt sweeps a named subset)
    val only: Option[Set[String]] =
      args.lift(2).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)

    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    Harness.warm(spark, names)

    def pass(): Seq[(String, Double)] = names.map { n =>
      n -> Harness.timeOnce(spark, n, sfDir, tag = "sweep").getOrElse(-1.0)
    }
    val cold = pass().toMap
    val warm = pass()
    val flagged = warm.filter(_._2 > FlagSec).sortBy(-_._2)
    val coldDeltas = warm
      .map { case (k, w) => (k, cold.getOrElse(k, -1.0) - w) }
      .filter(_._2 > ColdDeltaSec).sortBy(-_._2)
    val out =
      s"""{"sf":"$sfDir","gates":${warm.size},"flag_sec":$FlagSec,
         |"flagged":${json(flagged)},
         |"cold_deltas_over_${ColdDeltaSec.toInt}s":${json(coldDeltas)},
         |"times":${json(warm)},
         |"cold":${json(cold.toSeq.sortBy(_._1))}}""".stripMargin
    val p = java.nio.file.Paths.get(outPath)
    if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p, out.getBytes("UTF-8"))
    s"""{"sweep":"$outPath","gates":${warm.size},"flagged":${flagged.size}}"""
  }
}
