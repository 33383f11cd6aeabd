package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.types.{LongType, StructField, StructType, TimestampNTZType, TimestampType}

/** `Tables.apply` reads with the schema cached for the path's file
  * version and parquet confs: it must be the schema Spark infers, be
  * re-inferred when a file or a conf changes, and cost no job once
  * cached.
  */
class TablesSchemaCacheSpec extends SparkFunSuite {

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"
  private val InferNtz = "spark.sql.parquet.inferTimestampNTZ.enabled"
  private val nanosDir = Paths.get(getClass.getResource("/parquet_nanos").toURI).toString
  /** Both committed data drops: the shared `sf` and its sf0.01 sibling. */
  private val dataDirs = Seq(sf, Paths.get(sf).resolveSibling("sf0.01").toString)

  /** Runs `body` with `confs` set, then puts back what the session had. */
  private def withConfs[T](confs: (String, String)*)(body: => T): T = {
    val was = confs.map { case (k, _) =>
      k -> (if (spark.sessionState.conf.contains(k)) Some(spark.conf.get(k)) else None)
    }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally was.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Tables' schema against Spark's own inference, field for field:
    * name, type, nullability and metadata. When Spark refuses the file,
    * Tables must refuse it with the same error.
    */
  private def assertSameSchema(dir: String, table: String): Unit = {
    val inferred = Try(spark.read.parquet(s"$dir/$table.parquet").schema)
    val cached = Try(Tables(spark, dir, table).schema)
    val clue = s"$dir/$table (${spark.conf.get(NanosAsLong)}, ${spark.conf.get(InferNtz)})"
    (inferred.toEither, cached.toEither) match {
      case (Right(want), Right(got)) => assert(got.fields.toSeq == want.fields.toSeq, clue)
      case (Left(want), Left(got)) =>
        assert(got.getClass == want.getClass && got.getMessage == want.getMessage, clue)
      case (want, got) => fail(s"$clue: Spark gave $want, Tables gave $got")
    }
  }

  /** `apply` always sets `nanosAsLong`, so only the NTZ conf varies. */
  private val confGrid =
    Seq("true", "false").map(ntz => Seq(NanosAsLong -> "true", InferNtz -> ntz))

  test("the cached schema is Spark's own for every committed table and the NANOS fixture") {
    for (confs <- confGrid) withConfs(confs: _*) {
      for (dir <- dataDirs; t <- Tables.all)
        assertSameSchema(dir, t)
      assertSameSchema(nanosDir, "events")
      // a second read of the same version comes from the entry
      for (t <- Tables.all) assertSameSchema(dataDirs.last, t)
    }
  }

  test("events from the NANOS fixture normalize to exact ts_ns and ts_us") {
    val ev = Tables.events(spark, nanosDir)
    val raw = withConfs(NanosAsLong -> "true") {
      spark.read.parquet(s"$nanosDir/events.parquet").select("event_id", "ts").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(raw.size == 8 && raw.values.forall(_ % 1000L != 0L))
    ev.select("event_id", "ts_ns", "ts_us").collect().foreach { r =>
      assert(r.getLong(1) == raw(r.getLong(0)))
      assert(r.getLong(2) == Math.floorDiv(raw(r.getLong(0)), 1000L))
    }
  }

  test("flipping a parquet conf re-infers the schema") {
    def ts = Tables(spark, sf, "events").schema("ts").dataType
    assert(withConfs(InferNtz -> "true")(ts) == TimestampNTZType)
    assert(withConfs(InferNtz -> "false")(ts) == TimestampType)
    assert(withConfs(InferNtz -> "true")(ts) == TimestampNTZType)
  }

  test("apply reads TIMESTAMP(NANOS) as a Long whatever the session had set") {
    def nanosTs = Tables(spark, nanosDir, "events").schema("ts").dataType
    assert(withConfs(NanosAsLong -> "false")(nanosTs) == LongType)
  }

  test("a file rewritten in place is re-inferred and re-spread") {
    val dir = Files.createTempDirectory("graft_tables_cache")
    val table = dir.resolve("t.parquet")
    // one parquet file written by Spark, copied over the table's one file
    def writeTable(df: org.apache.spark.sql.DataFrame): Unit = {
      val tmp = dir.resolve("out")
      df.coalesce(1).write.parquet(tmp.toString)
      val part = Files.list(tmp).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.copy(part, table, StandardCopyOption.REPLACE_EXISTING)
      deleteTree(tmp)
    }
    try {
      writeTable(spark.range(10).toDF("id"))
      val small = Tables(spark, dir.toString, "t")
      assert(small.schema == StructType(Seq(StructField("id", LongType))))
      assert(Tables.spread(small) eq small) // under 16 KiB: identity
      val plain = spark.read.parquet(table.toString) // not read through Tables
      assert(Tables.spread(plain) eq plain)

      // same file name, another schema, over 16 KiB in one row group
      writeTable(spark.range(4000).selectExpr("id", "sha2(cast(id AS STRING), 256) AS s"))
      val big = Tables(spark, dir.toString, "t")
      assert(big.schema.fieldNames.toSeq == Seq("id", "s"))
      assert(big.schema == spark.read.parquet(table.toString).schema)
      assert(big.count() == 4000L)
      assert(!(Tables.spread(big) eq big))
      val plainBig = spark.read.parquet(table.toString)
      assert(!(Tables.spread(plainBig) eq plainBig))
    } finally deleteTree(dir)
  }

  /** The number of Spark jobs `body` starts. */
  private def jobsStartedBy(body: => Unit): Int = {
    val marker = "graft.test.marker"
    val started = new ConcurrentLinkedQueue[Option[String]]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        started.add(Option(j.properties).flatMap(p => Option(p.getProperty(marker))))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      // the listener bus is asynchronous and ordered: once a marked
      // job's start is seen, every job started before it has been too
      spark.sparkContext.setLocalProperty(marker, "flush")
      try spark.range(1).collect()
      finally spark.sparkContext.setLocalProperty(marker, null)
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!started.asScala.exists(_.isDefined) && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(started.asScala.exists(_.isDefined), "the marked job was never seen")
      started.asScala.takeWhile(_.isEmpty).size
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("building q5_region_revenue again runs no job") {
    val q5 = SparkEntry.queries("q5_region_revenue")
    q5(spark, sf) // fills the entries of its six tables
    val before = jobsStartedBy(q5(spark, sf))
    assert(before == 0, s"$before jobs ran while building q5_region_revenue")
  }

  test("building q_rfm, q_cuped and text_pmi again runs no job: " +
      "their one-row aggregates are joined, not checkpointed") {
    for (name <- Seq("q_rfm", "q_cuped", "text_pmi")) {
      val gate = SparkEntry.queries(name)
      gate(spark, sf) // fills the entries of its tables
      val jobs = jobsStartedBy(gate(spark, sf))
      assert(jobs == 0, s"$jobs jobs ran while building $name")
    }
  }

  test("building q_did again runs no job; it answers one row, and none " +
      "when an arm is empty") {
    val did = SparkEntry.queries("q_did")
    did(spark, sf) // fills the entry of its one table
    val jobs = jobsStartedBy(did(spark, sf))
    assert(jobs == 0, s"$jobs jobs ran while building q_did")
    assert(did(spark, sf).count() == 1)
    // only even users: the treated arm (user_id % 2 = 1) is empty
    val dir = Files.createTempDirectory("q_did_one_arm")
    try {
      Tables.events(spark, sf).where("user_id % 2 = 0")
        .selectExpr("event_id", "timestamp_micros(ts_us) AS ts", "user_id",
          "event_type", "value", "props")
        .write.parquet(dir.resolve("events.parquet").toString)
      assert(did(spark, dir.toString).count() == 0)
    } finally deleteTree(dir)
  }

  private def deleteTree(p: Path): Unit =
    Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
}
