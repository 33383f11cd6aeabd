package graft

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.types.StructType

/** Loader for the driver-generated test tables (TESTDATA.md).
  *
  * `events.ts` has shipped in two encodings across data drops:
  * TIMESTAMP(NANOS) (read as a raw Long via `spark.sql.legacy.parquet.
  * nanosAsLong`) and TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ). Both
  * normalize to the same internal surface — `ts_us` (epoch µs, = DuckDB
  * `epoch_us(ts)` under the UTC session timezone every entry point
  * sets) and `ts_ns` (int64 nanos) — so every downstream query and
  * oracle compares on exact integers, never on raw sub-second
  * timestamps.
  *
  * Schema cache. `spark.read.parquet` infers the schema in a one-task
  * job on every call; [[apply]] pays that once per file version per
  * JVM. One JVM-wide entry per table path holds the schema Spark itself
  * inferred (`spark.read.parquet(path).schema`, so its nanos, NTZ and
  * field-metadata rules are Spark's own), and [[apply]] reads with
  * `spark.read.schema(cached).parquet(path)`: the same relation, and no
  * job beyond the listing every read makes (itself a job when the path
  * holds more than `spark.sql.sources.parallelPartitionDiscovery.
  * threshold` directories). The entry is keyed by
  *  - the path, length and modification time of every file that read
  *    lists under the path, and
  *  - every `spark.sql.parquet.*` and `spark.sql.legacy.parquet.*` conf
  *    set on the session, `nanosAsLong` included.
  * When either part differs from the entry's, [[apply]] reads again
  * with Spark's inference and replaces the entry, so an added, removed
  * or rewritten file or a flipped conf is seen on the next read. A
  * rewrite is seen only when it changes the file's length or its
  * modification time at the filesystem's granularity: milliseconds on a
  * local disk and HDFS, one second on S3-style object stores. A rewrite
  * of the same length inside one tick reads with the earlier schema.
  * [[spread]] keys its footer layout on the same file versions.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Round 17 (optimization, guide §2.5 "input skew — one huge
    * unsplittable file"): a parquet ROW GROUP is the unit of scan
    * parallelism, and the driver-generated test tables are each ONE
    * row group — so every scan stage runs on a single task no matter
    * how small `maxPartitionBytes` is set, serializing all scan-side
    * expression work (regex counts, shingle kernels, decimal casts) on
    * one core of 32. Job-level receipt: q1's main job ran at
    * parallelism ~1.7 (wall 0.97 s vs 1.67 s summed task time).
    *
    * [[spread]] is the guide's remedy — "repartition immediately after
    * the read" — applied SELECTIVELY at the operators whose downstream
    * per-row work dominates the exchange cost (signature kernels,
    * regex counting, profiling aggregates); a blanket spread in
    * [[apply]] measurably regressed light scan→agg queries
    * (dedup_exact 0.67 → 0.82 s), so each call site is an explicit,
    * measured decision. Scale-adaptive by construction: the decision
    * derives from the source files' own footers (row-group count +
    * byte size, bounded driver-side metadata reads cached per file
    * version), so a production table — many files, many row groups —
    * passes through untouched and no exchange is added. The partition
    * count derives from bytes/64 KB clamped to [2, defaultParallelism],
    * never a hard-coded cluster constant. Filters and column pruning
    * still reach the scan (Catalyst pushes both through Repartition;
    * plan receipts in plans/r17). Round-robin placement is
    * deterministic under retries (sortBeforeRepartition, on by
    * default since SPARK-23207) and every gate is hash-checked over
    * the spread path at sf0.01/sf0.1.
    */
  private val SpreadMinBytes = 16L << 10
  private val SpreadMaxBytes = 256L << 20
  private val SpreadTargetBytesPerPartition = 64L << 10

  /** Repartition `df` for parallel downstream expression work iff its
    * source files are under-split (fewer row groups than the session's
    * parallelism) and between 16 KiB and 256 MiB, small enough that
    * the exchange is trivially cheap. Identity otherwise — including
    * on every realistically sized production table. The (row groups,
    * bytes) are cached per version of `df`'s input files, so a
    * rewritten file gets a fresh decision.
    */
  def spread(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val names = df.inputFiles
    if (names.isEmpty) return df
    val cap = spark.sparkContext.defaultParallelism
    if (cap <= 1) return df
    val files = inputStatuses(df, names)
    // bounded cache key (hash of the files' versions, not the multi-MB
    // list itself) INCLUDING the cap, so a partial early-exited scan is
    // only ever reused under the parallelism it was valid for (ADVICE r17)
    val key = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      files.foreach { f =>
        md.update(s"${f.getPath}\u0000${f.getLen}\u0000${f.getModificationTime}\u0000"
          .getBytes("UTF-8"))
      }
      java.util.Base64.getEncoder.encodeToString(md.digest()) + s":$cap"
    }
    val (rowGroups, bytes) =
      layoutCache.getOrElseUpdate(key, footerScan(spark, files.iterator, cap))
    val n = math.min(cap.toLong,
      math.max(2L, bytes / SpreadTargetBytesPerPartition)).toInt
    if (rowGroups < n && bytes >= SpreadMinBytes && bytes <= SpreadMaxBytes)
      df.repartition(n)
    else df
  }

  /** (row groups, bytes) summed over footers, per [[spread]] key. */
  private val layoutCache = TrieMap.empty[String, (Int, Long)]

  /** (row groups, bytes) summed over `files`' footers. Early exit (ADVICE
    * r17): once rg >= cap or b > SpreadMaxBytes the decision is identity
    * whatever the remaining files hold, so a many-file production table
    * costs O(few) footer reads, not O(#files).
    */
  private def footerScan(spark: SparkSession, files: Iterator[FileStatus],
                         cap: Int): (Int, Long) = {
    val conf = spark.sessionState.newHadoopConf()
    var rg = 0; var b = 0L
    while (files.hasNext && rg < cap && b <= SpreadMaxBytes) {
      val f = files.next()
      b += f.getLen
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f.getPath, conf))
      try rg += reader.getRowGroups.size finally reader.close()
    }
    (rg, b)
  }

  /** Every file the file relations in `df`'s plan listed when `df` was
    * built: no filesystem call.
    */
  private def listedFiles(df: DataFrame): Seq[FileStatus] =
    df.queryExecution.analyzed.collect { case l: LogicalRelation => l.relation }
      .collect { case r: HadoopFsRelation => r.location }
      .collect { case i: PartitioningAwareFileIndex => i.allFiles() }
      .flatten

  /** The status of each of `df`'s input files `names`, sorted by path:
    * from the listings `df`'s relations made, and looked up on the
    * filesystem only for a file no listing holds.
    */
  private def inputStatuses(df: DataFrame, names: Array[String]): Seq[FileStatus] = {
    val listed = listedFiles(df).map(f => f.getPath.toUri.toString -> f).toMap
    lazy val conf = df.sparkSession.sessionState.newHadoopConf()
    names.toSeq.sorted.map { n =>
      listed.getOrElse(n, { val p = new Path(n); p.getFileSystem(conf).getFileStatus(p) })
    }
  }

  /** What [[apply]] knows of one table path: the (path, length,
    * modification time) of each file and the parquet confs it was read
    * at, and the schema Spark inferred then.
    */
  private final case class Entry(files: Seq[(String, Long, Long)],
                                 confs: Seq[(String, String)],
                                 schema: StructType)

  /** One entry per table path, JVM-wide. */
  private val entries = TrieMap.empty[String, Entry]

  private def versionOf(df: DataFrame): Seq[(String, Long, Long)] =
    listedFiles(df).map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).sorted

  /** The one materialization rule for a reused or fenced intermediate:
    * an eager reliable `checkpoint` when the SparkContext has a
    * checkpoint directory (`setCheckpointDir`, or Spark's own
    * `spark.checkpoint.dir`), else an eager `localCheckpoint`.
    *
    * Both truncate lineage. With a directory the rows are files there,
    * so a lost executor costs a re-read, not the query; Spark removes
    * those files only when `spark.cleaner.referenceTracking.cleanCheckpoints`
    * is on. Without one the rows are executor-local blocks: the plan
    * and the local-mode behaviour are those of `localCheckpoint`, and a
    * lost executor fails any query that still reads them. Every
    * checkpoint in the library goes through here (a source-scan spec
    * pins that).
    */
  def materialize(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(eager = true)
    else df.localCheckpoint(eager = true)

  /** Conf key for [[barrier]]: `checkpoint` (default) | `persist` |
    * `off`.
    */
  val BarrierModeKey = "graft.pipeline.barrier"

  /** Plan barrier for a computed heavy projection that a pushed-down
    * filter would otherwise re-evaluate below the exchange (the
    * pipeline_clean pathology: a filter over a computed column
    * evaluated twice). All three modes are row-identical
    * (BarrierModeSpec):
    *
    *  - `checkpoint` (default): [[materialize]]. Sizing: callers pass
    *    ID-plus-scalars projections (~16-40 B/row).
    *  - `persist`: MEMORY_AND_DISK persist, which keeps lineage and
    *    spills. Nothing here unpersists it: its blocks are freed by LRU
    *    eviction or by the caller's unpersist (or
    *    `spark.catalog.clearCache()`).
    *  - `off`: no barrier; correct, but the pushed-down filter may
    *    re-evaluate the heavy expression below the exchange.
    */
  def barrier(df: DataFrame): DataFrame =
    df.sparkSession.conf.getOption(BarrierModeKey).getOrElse("checkpoint") match {
      case "checkpoint" => materialize(df)
      case "persist" =>
        df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      case "off" => df
      case other => throw new IllegalArgumentException(
        s"$BarrierModeKey must be checkpoint|persist|off, got '$other'")
    }

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$dir/$name.parquet"
    val confs = spark.conf.getAll.toSeq.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
    }.sorted
    val cached = entries.get(path).filter(_.confs == confs).flatMap { e =>
      val df = spark.read.schema(e.schema).parquet(path)
      Option.when(versionOf(df) == e.files)(df)
    }
    cached.getOrElse {
      val df = spark.read.parquet(path)
      entries.put(path, Entry(versionOf(df), confs, df.schema))
      df
    }
  }

  def lineitem(s: SparkSession, d: String): DataFrame   = apply(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame     = apply(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame   = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = apply(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame     = apply(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame     = apply(s, d, "region")
  /** events with `ts_ns` (int64 nanos) and `ts_us` (epoch µs, = DuckDB's
    * `epoch_us(ts)`) replacing the raw `ts` column, whichever parquet
    * encoding the data drop used.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val raw = apply(s, d, "events")
    val normalized = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => // TIMESTAMP(NANOS) drop
        raw.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts_us", expr("ts_ns div 1000")) // integer div: double would lose ns bits
      case org.apache.spark.sql.types.TimestampType |
           org.apache.spark.sql.types.TimestampNTZType =>
        // TIMESTAMP(MICROS) drop: NTZ→LTZ cast is exact under the UTC session tz
        raw.withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
          .withColumn("ts_ns", col("ts_us") * lit(1000L))
          .drop("ts")
      case other =>
        // fail loudly: a future drop with a different encoding (string,
        // INT96, nanos without the nanosAsLong conf) would otherwise be
        // silently mis-normalized into wrong µs values everywhere
        throw new IllegalStateException(
          s"events.ts has unsupported type $other; expected INT64 nanos " +
            "or TIMESTAMP/TIMESTAMP_NTZ micros — extend Tables.events deliberately")
    }
    normalized.select("event_id", "ts_ns", "user_id", "event_type",
      "value", "props", "ts_us")
  }
  def documents(s: SparkSession, d: String): DataFrame  = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
