package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Hive-style partitioned parquet layout — the Spark analog of
  * ClickHouse's `PARTITION BY` clause (the reference's tables carry a
  * partition-key idiom like toYYYYMM; reference main.py:65 creates the
  * MergeTree those queries run against).
  *
  * The contract that matters at 100 TB: a query filtering on the
  * partition column must plan PartitionFilters (directory pruning, no
  * file even opened), not PushedFilters (row-group skipping after the
  * file is listed). The spec asserts exactly that on the physical plan.
  */
object PartitionedLake {

  /** Write `df` partitioned by `cols` (low-cardinality keys only —
    * each distinct tuple is a directory). `maxRecordsPerFile` bounds
    * file size exactly like the reference's chunk_size bounds insert
    * batches (main.py:106-116).
    */
  def write(df: DataFrame, path: String, cols: Seq[String],
            maxRecordsPerFile: Long = 1000000L): Unit =
    LocalFs.writer(df.write)
      .mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(cols: _*)
      .parquet(path)

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Month-partitioned event layout: the CH `PARTITION BY toYYYYMM`
    * idiom. Adds the derived partition column, writes, returns reader.
    */
  def writeEventsByMonth(events: DataFrame, path: String): Unit =
    write(
      events.withColumn("yyyymm",
        date_format(timestamp_micros(col("ts_us")), "yyyyMM").cast("int")),
      path, Seq("yyyymm"))

  /** `OPTIMIZE TABLE … PARTITION p` analog (reference main.py:178
    * forces the whole-table merge; ClickHouse scopes it per partition):
    * ReplacingMerge-dedup ONE partition and compact its files, leaving
    * every other partition's bytes untouched.
    *
    * At 100 TB this is the only affordable shape — compaction work is
    * proportional to the partition, not the lake. The rewrite stages to
    * a sibling temp directory and swaps via rename, so the job never
    * reads and overwrites the same files (Spark refuses that plan, for
    * good reason).
    */
  def optimizePartition(spark: SparkSession, path: String,
                        partCol: String, partValue: Any,
                        keys: Seq[String], version: Seq[String],
                        maxRecordsPerFile: Long = 1000000L,
                        numPartitions: Option[Int] = None): Unit = {
    val partDir = s"$path/$partCol=$partValue"
    val merged = graft.operators.ReplacingMerge.optimize(
      spark.read.parquet(partDir), keys, version.map(col), numPartitions)
    val tmpDir = s"$path/.optimize_tmp_$partCol=$partValue"
    LocalFs.writer(merged.write).mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .parquet(tmpDir)
    swapInPlace(spark, path, partDir, tmpDir)
  }

  /** Crash-safe partition swap: dst is renamed aside, tmp renamed in,
    * and only then is the old data deleted — every intermediate state
    * leaves either the old or the new bytes at a recoverable path
    * (never the delete-then-rename window where the partition is gone
    * and a failed rename loses it for good).
    */
  private def swapInPlace(spark: SparkSession, path: String,
                          partDir: String, tmpDir: String): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val dst = new org.apache.hadoop.fs.Path(partDir)
    val tmp = new org.apache.hadoop.fs.Path(tmpDir)
    val old = new org.apache.hadoop.fs.Path(
      dst.getParent, "." + dst.getName + ".old")
    fs.delete(old, true) // leftover from a previous crashed swap
    if (fs.exists(dst) && !fs.rename(dst, old))
      throw new java.io.IOException(s"rename $dst -> $old failed")
    if (!fs.rename(tmp, dst)) {
      // roll back so the partition is never left missing
      if (fs.exists(old)) fs.rename(old, dst)
      throw new java.io.IOException(s"rename $tmpDir -> $dst failed")
    }
    fs.delete(old, true)
  }

  /** ClickHouse `ALTER TABLE … DELETE/UPDATE … WHERE` analog: a
    * MUTATION rewrites affected data in place. Here the unit of
    * rewrite is the partition (CH's is the part): only partitions
    * whose values appear in `parts` are read, transformed, and
    * swapped via the same temp-dir rename as [[optimizePartition]];
    * every other partition's bytes are untouched. At 100 TB the cost
    * is proportional to the partitions hit, never the lake — and a
    * caller that derives `parts` from the predicate's partition-key
    * range gets CH's mutation-scoping behavior exactly.
    */
  def mutatePartitions(spark: SparkSession, path: String, partCol: String,
                       parts: Seq[Any], mutate: DataFrame => DataFrame,
                       maxRecordsPerFile: Long = 1000000L): Unit =
    parts.foreach { p =>
      val partDir = s"$path/$partCol=$p"
      // The partition column lives only in the directory name; surface
      // it so a predicate like `col(partCol) === x` resolves inside
      // `mutate`, then drop it again before the partition-local write.
      val withPart = spark.read.parquet(partDir).withColumn(partCol, lit(p))
      val mutated = mutate(withPart).drop(partCol)
      val tmpDir = s"$path/.mutate_tmp_$partCol=$p"
      LocalFs.writer(mutated.write).mode("overwrite")
        .option("maxRecordsPerFile", maxRecordsPerFile)
        .parquet(tmpDir)
      swapInPlace(spark, path, partDir, tmpDir)
    }

  /** `ALTER TABLE … DELETE WHERE pred` — rows matching `pred` vanish
    * from the listed partitions.
    */
  def deleteWhere(spark: SparkSession, path: String, partCol: String,
                  parts: Seq[Any],
                  pred: org.apache.spark.sql.Column): Unit =
    mutatePartitions(spark, path, partCol, parts, _.filter(!pred))

  /** `ALTER TABLE … UPDATE col = expr WHERE pred` — conditional
    * column rewrite in the listed partitions.
    */
  def updateWhere(spark: SparkSession, path: String, partCol: String,
                  parts: Seq[Any], pred: org.apache.spark.sql.Column,
                  assignments: Map[String, org.apache.spark.sql.Column]): Unit =
    mutatePartitions(spark, path, partCol, parts, df =>
      assignments.foldLeft(df) { case (d, (c, e)) =>
        d.withColumn(c, when(pred, e).otherwise(col(c)))
      })
}
