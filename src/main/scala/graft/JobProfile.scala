package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._

/** Dev profiler (round 17): run one gate warm and report, for the
  * final timed invocation, every Spark job it fired (wall-clock) plus
  * the summed executor task time — separating fixed driver/scheduling
  * overhead (wall >> task time) from real compute (wall ≈ task/cores),
  * and how many generated classes it compiled (`codegen_compiles`).
  * The report is one JSON object.
  *
  * Run: `runMain graft.JobProfile <sfDir> <name> [warmRuns]`.
  */
object JobProfile {
  def main(args: Array[String]): Unit =
    Harness.withSession(spark => println(run(spark, args)))

  def run(spark: SparkSession, args: Array[String]): String = {
    import Harness.fmt
    val sfDir = args(0)
    val name = args(1)
    val warm = args.lift(2).map(_.toInt).getOrElse(2)
    (1 to warm).foreach(_ => Harness.materialize(spark, name, sfDir))

    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val jobWall = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val taskTime = new java.util.concurrent.atomic.AtomicLong()
    val taskCount = new java.util.concurrent.atomic.AtomicInteger()
    // per-stage: (tasks, Σ runTime ms, max runTime ms, shuffle read B,
    // shuffle write B) — the skew/parallelism attribution the per-job
    // walls can't give (round 18)
    val stage = new java.util.concurrent.ConcurrentHashMap[Int, (Int, Long, Long, Long, Long)]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobStart.put(j.jobId, j.time)
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        jobWall.put(j.jobId, j.time - jobStart.getOrDefault(j.jobId, j.time))
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        if (t.taskMetrics != null) {
          val rt = t.taskMetrics.executorRunTime
          taskTime.addAndGet(rt)
          stage.merge(t.stageId,
            (1, rt, rt, t.taskMetrics.shuffleReadMetrics.totalBytesRead,
              t.taskMetrics.shuffleWriteMetrics.bytesWritten),
            (a, b) => (a._1 + b._1, a._2 + b._2, math.max(a._3, b._3),
              a._4 + b._4, a._5 + b._5))
        }
        taskCount.incrementAndGet()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    // generated classes compiled in the timed run: a warm run that
    // still compiles has had its classes evicted by other queries
    // (Harness sizes the JVM-wide codegen cache), or generates source
    // that differs on every run
    val compilations = CodegenMetrics.METRIC_COMPILATION_TIME
    val compiledBefore = compilations.getCount
    val wall =
      try {
        val t0 = System.nanoTime()
        Harness.materialize(spark, name, sfDir)
        val sec = (System.nanoTime() - t0) / 1e9
        // listener bus is async — poll until the event stream stabilizes
        // instead of a fixed sleep that drops late events (ADVICE r17)
        var seen = -1
        var spins = 0
        while (taskCount.get() != seen && spins < 20) {
          seen = taskCount.get(); spins += 1; Thread.sleep(250)
        }
        sec
      } finally spark.sparkContext.removeSparkListener(listener)
    val compiled = compilations.getCount - compiledBefore

    val jobs = jobWall.asScala.toSeq.sortBy(_._1).map { case (id, ms) =>
      s"""{"job":$id,"wall_s":${fmt(ms / 1e3)}}"""
    }
    val stages = stage.asScala.toSeq.sortBy(_._1).map {
      case (id, (n, sum, mx, sr, sw)) =>
        s"""{"stage":$id,"tasks":$n,"task_s_sum":${fmt(sum / 1e3)},""" +
          s""""task_s_max":${fmt(mx / 1e3)},"shuffle_read_mb":${fmt(sr / 1e6)},""" +
          s""""shuffle_write_mb":${fmt(sw / 1e6)}}"""
    }
    s"""{"query":"$name","wall_s":${fmt(wall)},"tasks":${taskCount.get()},""" +
      s""""task_s_sum":${fmt(taskTime.get() / 1e3)},"codegen_compiles":$compiled,""" +
      s""""jobs":${jobs.mkString("[", ",", "]")},""" +
      s""""stages":${stages.mkString("[", ",", "]")}}"""
  }
}
