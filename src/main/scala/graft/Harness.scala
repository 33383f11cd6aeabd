package graft

import java.util.Locale

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** What the dev tools (Bench, Verify, QueryBench, GateSweep, JobProfile,
  * PlanCensus, MakeScaledCorpus) share: one local session, one warm
  * pass plus interleaved min-of-N timing loop, and one number format.
  *
  * Each tool is a `run(spark, args)` plus a `main` that wraps it in
  * [[withSession]], so specs can call `run` on their own session.
  */
object Harness {

  /** Cores to run on: `SPARK_GRAFT_CPUS`, else every core the JVM sees. */
  private def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The smallest corpus, where the warm pass runs. */
  private def warmDir: String =
    sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")

  private def session(): SparkSession = {
    val n = cpus
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // test tables are single small parquet files; shrink the split
      // size so scans parallelize across cores (the local analog of
      // sizing maxPartitionBytes to the cluster in SURVEY.md §5)
      .config("spark.sql.files.maxPartitionBytes", "1m")
      .config("spark.sql.files.openCostInBytes", "64k")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Runs `f` on a fresh [[session]] and stops it afterwards. */
  def withSession(f: SparkSession => Unit): Unit = {
    val spark = session()
    try f(spark) finally spark.stop()
  }

  /** Seconds with three decimals and a '.' in every default locale —
    * `f"%.3f"` prints `1,500` under a comma-decimal locale, which is
    * not JSON.
    */
  def fmt(v: Double): String =
    String.format(Locale.ROOT, "%.3f", java.lang.Double.valueOf(v))

  /** `"k":v,...` with every value through [[fmt]]. */
  def fields(rs: Seq[(String, Double)]): String =
    rs.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString(",")

  /** `{"k":v,...}` with every value through [[fmt]]. */
  def json(rs: Seq[(String, Double)]): String = "{" + fields(rs) + "}"

  /** Runs gate `name` on `dir` to completion. The noop sink forces
    * every projection (a bare `count()` would let Catalyst prune the
    * work being measured).
    */
  def materialize(spark: SparkSession, name: String, dir: String): Unit =
    SparkEntry.queries(name)(spark, dir)
      .write.format("noop").mode("overwrite").save()

  /** Steady-state measurement: run every gate once at [[warmDir]] first
    * so janino/JIT codegen compilation (a fixed per-query cost,
    * irrelevant at cluster scale) happens outside the measured window.
    * NonFatal only: an OOM or linkage error in warm-up must surface.
    */
  def warm(spark: SparkSession, names: Seq[String]): Unit =
    names.foreach { n =>
      try materialize(spark, n, warmDir) catch { case NonFatal(_) => () }
    }

  /** Wall seconds of one run, or None (logged under `tag`) if it failed. */
  def timeOnce(spark: SparkSession, name: String, dir: String,
               tag: String): Option[Double] = {
    val t0 = System.nanoTime()
    try {
      materialize(spark, name, dir)
      Some((System.nanoTime() - t0) / 1e9)
    } catch { case e: Throwable =>
      System.err.println(s"[$tag] $name failed: ${e.getMessage}")
      None
    }
  }

  /** Minimum of `passes` timed runs per gate, the passes INTERLEAVED
    * (A,B,…,A,B,… not A,A,B,B,…): a transient host burst then poisons
    * at most one of a gate's runs. A gate with no successful run
    * reports the -1 sentinel, never a bogus time-to-exception.
    */
  def minOfN(spark: SparkSession, names: Seq[String], dir: String,
             passes: Int, tag: String): Seq[(String, Double)] = {
    val runs = (1 to passes).map(_ =>
      names.map(n => n -> timeOnce(spark, n, dir, tag)).toMap)
    names.map { n =>
      val ts = runs.flatMap(_(n))
      n -> (if (ts.isEmpty) -1.0 else ts.min)
    }
  }
}
