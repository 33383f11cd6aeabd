package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.operators.MigrationJob
import graft.sinks.ClickHouseSink
import graft.sources.SqliteFile

/** The timed side of the benchmark: one JVM, one workload, one client.
  *
  * Phases, in order:
  *  1. set-up, three times: a fresh session, input registration and one
  *     small warm-up op; each set-up is timed on its own;
  *  2. a check pass: every op once, untimed (the first migration in a
  *     JVM is several times slower than the next); gate results are
  *     written to parquet for the oracle comparison made afterwards in
  *     Python;
  *  3. the untimed-by-listeners window: whole passes over the workload's
  *     ops in a seeded order, for about `--seconds`;
  *  4. with `--trace 1`, the same window again under the span recorder,
  *     then (migration) the per-layer probes.
  *
  * Everything measured goes to `--out` as JSON; `perfbench/run.py` turns
  * it into metrics and checks correctness.
  *
  * Usage: perfbench.Main --workload migrate|olap|pipeline --data DIR
  *   --work DIR --out FILE --seconds S --seed N --trace 0|1 --cores N
  */
object Main {

  val OlapGates: Seq[String] = Seq(
    "q1_pricing_summary", "q3_top_orders", "q5_region_revenue",
    "q6_forecast_revenue", "q_window_running", "q_distinct_users",
    "q_topk_events", "q_time_bucket", "q_sessionize", "replacing_merge",
    "dedup_exact", "q_ch_dialect_final", "migrate_incremental",
    "q_interval_join", "q_rfm")

  val PipelineGates: Seq[String] = Seq(
    "dedup_minhash", "dedup_minhash_verified", "dedup_ngram_jaccard",
    "dedup_fuzzy", "text_span_scrub", "text_pii_scrub", "pipeline_clean",
    "sample_weighted", "text_quality", "ann_bruteforce", "ann_ivfpq",
    "ann_sq8")

  /** (queries, oracles) of each registry `SparkEntry` unions. */
  val Registries: Seq[(Map[String, _], () => Map[String, String])] = {
    import graft._
    Seq(EtlQueries.queries -> (() => EtlQueries.oracles),
      OlapQueries.queries -> (() => OlapQueries.oracles),
      TextQueries.queries -> (() => TextQueries.oracles),
      DedupQueries.queries -> (() => DedupQueries.oracles),
      VectorQueries.queries -> (() => VectorQueries.oracles),
      MultimodalQueries.queries -> (() => MultimodalQueries.oracles),
      AnalyticsQueries.queries -> (() => AnalyticsQueries.oracles),
      RelationalQueries.queries -> (() => RelationalQueries.oracles))
  }

  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  final case class Args(workload: String, data: String, work: String,
                        out: String, seconds: Double, seed: Long,
                        trace: Boolean, cores: Int)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("data"), m("work"), m("out"), m("seconds").toDouble,
      m("seed").toLong, m("trace") == "1", m("cores").toInt)
  }

  /** `Bench`'s session settings at local[cores], with every scratch
    * directory kept inside the working directory.
    */
  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "1m")
      .config("spark.sql.files.openCostInBytes", "64k")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  final case class OpResult(name: String, pass: Int, seconds: Double,
                            gcSeconds: Double, error: Option[String],
                            detail: Map[String, Any]) {
    def json: Map[String, Any] = Map("name" -> name, "pass" -> pass,
      "s" -> seconds, "gc_s" -> gcSeconds, "error" -> error, "detail" -> detail)
  }

  /** One workload: the ops of a pass and how to prepare, run and check them. */
  trait Workload {
    def ops: Seq[String]
    def register(spark: SparkSession): Unit
    /** The first op of a set-up: small, so set-up can be timed several times. */
    def warm(spark: SparkSession): Unit
    /** Runs one op; the returned map is checked afterwards, off the clock. */
    def run(spark: SparkSession, name: String, t: Option[Tracer]): Map[String, Any]
    /** Every op once, untimed, before the window: warms the JVM and
      * leaves the results the Python side checks.
      */
    def checkPass(spark: SparkSession): Map[String, Any]
    def finish(spark: SparkSession): Map[String, Any] = Map.empty
    def probes(spark: SparkSession, t: Tracer): Map[String, Double] = Map.empty
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  final class GateWorkload(val ops: Seq[String], warmGate: String, dir: String,
                           outDir: String) extends Workload {
    private val errors = mutable.Map.empty[String, String]
    private val firstRun = mutable.LinkedHashMap.empty[String, Double]

    /** The workload's gates' oracle SQL, read from the registries that
      * own them: `SparkEntry.oracleSql` is their union, but building it
      * also builds every other registry's oracles, and some of those
      * train models on the data first.
      */
    private lazy val oracles: Map[String, String] = {
      // some oracle builders read the data directory from this property
      System.setProperty("graft.oracle.sfDir", dir)
      Registries.filter(r => ops.exists(r._1.contains))
        .flatMap(r => ops.flatMap(g => r._2().get(g).map(g -> _))).toMap
    }

    def register(spark: SparkSession): Unit =
      Tables.foreach(t => spark.read.parquet(s"$dir/$t.parquet").schema)

    def warm(spark: SparkSession): Unit = run(spark, warmGate, None)

    def run(spark: SparkSession, name: String, t: Option[Tracer]): Map[String, Any] = {
      t match {
        case None => noop(SparkEntry.queries(name)(spark, dir))
        case Some(tr) =>
          val df = tr.span("queries.construct")(SparkEntry.queries(name)(spark, dir))
          tr.span("spark.execute")(noop(df))
      }
      Map.empty
    }

    private def dump(spark: SparkSession, name: String, suffix: String): Unit = {
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, dir).write.mode("overwrite")
        .parquet(s"$outDir/$name$suffix")
      catch { case e: Throwable => errors(name + suffix) = s"${e.getClass.getName}: ${e.getMessage}" }
      firstRun(name + suffix) = (System.nanoTime() - t0) / 1e9
    }

    override def checkPass(spark: SparkSession): Map[String, Any] = {
      ops.foreach(dump(spark, _, ""))
      Map("oracles" -> oracles,
        "first_run_s" -> firstRun)
    }

    /** Gates with no oracle are checked against their own first result. */
    override def finish(spark: SparkSession): Map[String, Any] = {
      ops.filterNot(oracles.contains).foreach(dump(spark, _, ".again"))
      Map("errors" -> errors.toMap)
    }
  }

  final class MigrateWorkload(db: String, work: String) extends Workload {
    val ops: Seq[String] = Seq("migrate")
    private val staged = s"$work/staged"
    private val Chunk = 10000L
    private val Partitions = 8

    def register(spark: SparkSession): Unit = {
      SqliteFile.header(db)
      SqliteFile.listTables(db)
    }

    def warm(spark: SparkSession): Unit =
      noop(SqliteFile.read(spark, db, SqliteFile.listTables(db).head, Partitions))

    /** Two migrations: the second is still a fifth slower than the ones
      * after it while the JIT catches up.
      */
    def checkPass(spark: SparkSession): Map[String, Any] = {
      val first = run(spark, "migrate", None)
      run(spark, "migrate", None)
      first
    }

    /** `graft.Migrate --sqlite db --out staged --dry-run`, minus the printing. */
    def run(spark: SparkSession, name: String, t: Option[Tracer]): Map[String, Any] = {
      def span[T](n: String)(b: => T): T = t.fold(b)(_.span(n)(b))
      val reports = span("operators.migrateSqliteFile")(
        MigrationJob.migrateSqliteFile(spark, db, "default", staged, Chunk, Partitions))
      val plans = span("sinks.plan")(reports.map { r =>
        ClickHouseSink.plan(spark.read.parquet(s"$staged/${r.table}"), "", 9000,
          "default", r.table, chunkSize = Chunk)
      })
      Map("rows" -> reports.map(r => r.table -> r.rows).toMap,
        "ddl_ok" -> reports.zip(plans).forall { case (r, p) =>
          r.ddl.contains(s"CREATE TABLE IF NOT EXISTS default.${r.table}") &&
            p.insert.contains(r.table) })
    }

    override def finish(spark: SparkSession): Map[String, Any] = Map("staged" -> staged)

    /** Layer probes on the same file; every figure is a median of runs. */
    override def probes(spark: SparkSession, t: Tracer): Map[String, Double] = {
      val tables = SqliteFile.listTables(db)
      def timed(n: String, reps: Int)(body: => Unit): Double = {
        val xs = (1 to reps).map { _ =>
          t.beginOp()
          val t0 = System.nanoTime()
          t.span(n)(body)
          (System.nanoTime() - t0) / 1e9
        }
        xs.sorted.apply(reps / 2)
      }
      def read(td: SqliteFile.TableDef) = SqliteFile.read(spark, db, td, Partitions)
      val probeDir = s"$work/probe"
      var pages = 0L
      val catalog = timed("sources.catalog", 5) { SqliteFile.header(db); SqliteFile.listTables(db) }
      val decode = timed("sources.decode_1t", 3) {
        pages = tables.map(td => SqliteFile.pagesTouched(db, td)._2.toLong).sum
      }
      val scan = timed("sources.scan", 3)(tables.foreach(td => noop(read(td))))
      val dsv2 = timed("sources.dsv2_scan", 3)(tables.foreach { td =>
        noop(spark.read.format("sqlite").option("path", db).option("table", td.name).load())
      })
      val conform = timed("functions.coerce", 3)(tables.foreach(td =>
        noop(MigrationJob.conform(read(td)))))
      val write = timed("sinks.write", 3)(tables.foreach { td =>
        MigrationJob.conform(read(td)).write.mode("overwrite")
          .option("maxRecordsPerFile", Chunk).parquet(s"$probeDir/${td.name.toLowerCase}")
      })
      val files = Files.walk(Paths.get(probeDir)).iterator().asScala
        .filter(p => p.getFileName.toString.startsWith("part-")).toSeq
      Map("sources.catalog_s" -> catalog, "sources.decode_1t_s" -> decode,
        "sources.pages_read" -> pages.toDouble, "sources.scan_s" -> scan,
        "sources.dsv2_scan_s" -> dsv2, "functions.coerce_s" -> (conform - scan),
        "sinks.write_s" -> (write - conform), "probe.write_total_s" -> write,
        "sinks.bytes_written" -> files.map(p => Files.size(p)).sum.toDouble,
        "sinks.files_written" -> files.size.toDouble)
    }
  }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3

  /** Whole passes until the next pass would end after `seconds`; at
    * least one pass. Each pass runs the ops in its own shuffled order,
    * seeded by the pass number and not by `--seed`: an OLAP gate's
    * latency depends on its position in the pass (q_interval_join took
    * 0.88 s first and 1.59 s last), so an order that changed with the
    * inputs would add spread that is not the program's.
    */
  def window(spark: SparkSession, w: Workload, a: Args,
             tracer: Option[Tracer]): (Seq[OpResult], Double) = {
    val out = mutable.ArrayBuffer.empty[OpResult]
    val start = System.nanoTime()
    var pass = 0
    var lastPass = 0.0
    def elapsed = (System.nanoTime() - start) / 1e9
    while (pass == 0 || elapsed + lastPass <= a.seconds) {
      val order = new scala.util.Random(pass).shuffle(w.ops)
      val p0 = System.nanoTime()
      order.foreach { name =>
        tracer.foreach(_.beginOp())
        val g0 = gcSeconds()
        val t0 = System.nanoTime()
        val (err, detail) = try {
          val d = tracer.fold(w.run(spark, name, None))(tr =>
            tr.span(s"op/$name")(w.run(spark, name, Some(tr))))
          (None, d)
        } catch { case e: Throwable => (Some(s"${e.getClass.getName}: ${e.getMessage}"), Map.empty[String, Any]) }
        val s = (System.nanoTime() - t0) / 1e9
        out += OpResult(name, pass, s, gcSeconds() - g0, err, detail)
      }
      lastPass = (System.nanoTime() - p0) / 1e9
      pass += 1
    }
    (out.toSeq, elapsed)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Per-op and per-gate Spark figures of the traced window's ops (the
    * spans under each `op/<name>` span).
    */
  def layerFigures(spans: Seq[(Span, SpanStats)], ops: Seq[OpResult],
                   cores: Int): (Map[String, Double], Map[String, Map[String, Double]]) = {
    val byOp = spans.filter(_._1.op > 0).groupBy(_._1.op)
    val opSpans = spans.filter(_._1.name.startsWith("op/")).map(_._1)
    val gcByOp = opSpans.zip(ops).map { case (s, o) => s.op -> o.gcSeconds }.toMap
    final case class OpFig(gate: String, wall: Double, f: Map[String, Double], tasks: Seq[Long])
    val figs = opSpans.map { op =>
      val all = byOp(op.op)
      val st = all.map(_._2)
      val construct = all.filter(_._1.name == "queries.construct")
      val f = Map(
        "spark.jobs" -> st.map(_.jobs).sum.toDouble,
        "spark.task_s_sum" -> st.map(_.taskMs).sum / 1e3,
        "spark.exec_s" -> Tracer.busySeconds(st.flatMap(_.jobSpans)),
        "spark.shuffle_bytes" -> st.map(_.shuffleBytes).sum.toDouble,
        "spark.spill_bytes" -> st.map(_.spillBytes).sum.toDouble,
        "spark.gc_s" -> gcByOp.getOrElse(op.op, 0.0),
        "spark.scan_rows" -> st.map(_.scanRows).sum.toDouble,
        "queries.construct_s" -> construct.map(_._1.seconds).sum,
        "queries.construct_jobs" -> construct.map(_._2.jobs).sum.toDouble,
        "queries.plan_s" -> st.map(_.planMs).sum / 1e3,
        "queries.plan_exchanges" -> st.map(_.exchanges).sum.toDouble,
        "queries.plan_broadcasts" -> st.map(_.broadcasts).sum.toDouble,
        "queries.unpartitioned_windows" -> st.map(_.unpartitionedWindows).sum.toDouble,
        "op_s" -> op.seconds)
      OpFig(op.name.stripPrefix("op/"), op.seconds, f, st.flatMap(_.taskDurMs))
    }
    def skew(tasks: Seq[Long]): Double = {
      val m = median(tasks.map(_.toDouble))
      if (tasks.isEmpty || m <= 0) 1.0 else tasks.max / m
    }
    def parallelism(fs: Seq[OpFig]): Double =
      fs.map(_.f("spark.task_s_sum")).sum / math.max(1e-9, fs.map(_.wall).sum * cores)
    val perGate = figs.groupBy(_.gate).map { case (g, fs) =>
      val keys = fs.head.f.keys
      g -> (keys.map(k => k -> fs.map(_.f(k)).sum / fs.size).toMap ++ Map(
        "ops" -> fs.size.toDouble,
        "op_s_p50" -> median(fs.map(_.wall)),
        "spark.parallelism" -> parallelism(fs),
        "spark.skew" -> skew(fs.flatMap(_.tasks))))
    }
    val n = math.max(1, figs.size).toDouble
    val keys = figs.headOption.map(_.f.keys).getOrElse(Nil).filterNot(_ == "op_s")
    val totals = keys.map(k => k -> figs.map(_.f(k)).sum / n).toMap ++ Map(
      "spark.parallelism" -> parallelism(figs),
      "spark.skew" -> median(perGate.values.map(_("spark.skew")).toSeq),
      "queries.low_parallelism_gates" ->
        perGate.values.count(_("spark.parallelism") < 0.25).toDouble)
    (totals, perGate)
  }

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    val processStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val w: Workload = a.workload match {
      case "migrate" => new MigrateWorkload(s"${a.data}/catalog.db", a.work)
      case "olap" => new GateWorkload(OlapGates, "q6_forecast_revenue", a.data, s"${a.work}/results")
      case "pipeline" => new GateWorkload(PipelineGates, "text_quality", a.data, s"${a.work}/results")
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val phases = mutable.LinkedHashMap[String, Double]()
    var mark = System.nanoTime()
    def phase(n: String): Unit = {
      val now = System.nanoTime(); phases(n) = (now - mark) / 1e9; mark = now
    }
    var spark: SparkSession = null
    val setups = (1 to 3).map { k =>
      val t0 = System.nanoTime()
      val startupMs = if (k == 1) System.currentTimeMillis() - processStartMs else 0L
      if (spark != null) spark.stop()
      spark = session(a)
      w.register(spark)
      w.warm(spark)
      (System.nanoTime() - t0) / 1e9 + startupMs / 1e3
    }
    phase("setup")
    val check = w.checkPass(spark)
    phase("check_pass")
    val (ops, windowS) = window(spark, w, a, None)
    phase("window")

    val traced = if (!a.trace) Map.empty[String, Any] else {
      val tr = new Tracer(spark)
      tr.install()
      val (tops, tWindowS) = window(spark, w, a, Some(tr))
      val probes = w.probes(spark, tr)
      val spans = tr.collected()
      tr.uninstall()
      val (totals, perGate) = layerFigures(spans, tops, a.cores)
      Files.writeString(Paths.get(s"${a.work}/trace.json"), Json(Map(
        "spans" -> spans.map { case (s, st) => Map(
          "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
          "start_ms" -> s.startMs, "s" -> s.seconds, "jobs" -> st.jobs,
          "tasks" -> st.tasks, "task_s" -> st.taskMs / 1e3,
          "shuffle_bytes" -> st.shuffleBytes, "spill_bytes" -> st.spillBytes,
          "queries" -> st.queries, "plan_s" -> st.planMs / 1e3,
          "exchanges" -> st.exchanges, "broadcasts" -> st.broadcasts,
          "unpartitioned_windows" -> st.unpartitionedWindows,
          "scan_rows" -> st.scanRows) },
        "per_gate" -> perGate)))
      Map("ops" -> tops.map(_.json), "window_s" -> tWindowS, "layers" -> totals,
        "probes" -> probes, "per_gate" -> perGate)
    }
    phase("traced")
    val fin = w.finish(spark)
    phase("finish")
    val rss = peakRssMb()
    spark.stop()
    phase("stop")
    Files.writeString(Paths.get(a.out), Json(Map(
      "workload" -> a.workload, "seed" -> a.seed, "cores" -> a.cores, "setup_s" -> setups,
      "ops" -> ops.map(_.json), "window_s" -> windowS, "check" -> check,
      "finish" -> fin, "traced" -> traced, "peak_rss_mb" -> rss,
      "phases_s" -> phases)))
  }
}
