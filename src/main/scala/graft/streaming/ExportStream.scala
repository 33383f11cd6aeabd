package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.TrainExport
import graft.sinks.LocalFs

/** Streaming training-corpus export: deliver each micro-batch into its
  * OWN subtree of the sharded layout (`dir/batch=<id>/shard=<s>`) with
  * a per-batch manifest at `dir/_manifest/batch=<id>`. A consumer can
  * audit the growing corpus at ANY point with [[TrainExport.verify]]:
  * [[TrainExport.readManifest]] merges the per-batch manifests on read
  * (counts add, checksums XOR — [[TrainExport.mergeManifests]]'s
  * composition law), so the stored manifest always equals the manifest
  * of everything delivered so far.
  *
  * Delivery is EXACTLY-ONCE per micro-batch, not at-least-once: Spark
  * re-runs a failed or restarted batch with the SAME batchId, and both
  * writes target the batch's own subtree with mode overwrite — a retry
  * REPLACES the earlier partial delivery instead of appending next to
  * it. (A plain append into a shared layout would duplicate rows AND
  * double-merge the manifest; worse, the audit could not see it,
  * because a duplicated row's checksum XORs self-cancel while the
  * duplicated counts inflate both sides equally.) Pass
  * `checkpointLocation` so batch ids survive a query restart — without
  * it a restarted query begins again at batch 0 and overwrites prior
  * deliveries.
  *
  * foreachBatch is the right seam (same reasoning as AnnStream's
  * re-train loop): the export needs batch boundaries, and the manifest
  * must describe exactly the bytes the batch wrote.
  */
object ExportStream {

  /** Idempotently deliver one micro-batch: shard-partitioned data under
    * `dir/batch=<batchId>`, manifest (recomputed from the WRITTEN
    * files, the writeShards rule) under `dir/_manifest/batch=<batchId>`.
    * Calling again with the same batchId replaces both — the retry
    * path.
    */
  def deliverBatch(batch: DataFrame, batchId: Long, idCol: String,
                   tokenCol: String, dir: String, nShards: Int,
                   seed: Long = 42L): Unit = {
    val spark = batch.sparkSession
    val sorted = batch
      .withColumn("shard",
        TrainExport.shardAssign(col(idCol), nShards, seed))
      .withColumn("_ord", xxhash64(col(idCol), lit(seed)))
      .repartition(nShards, col("shard"))
      .sortWithinPartitions("shard", "_ord")
      .drop("_ord")
    LocalFs.writer(sorted.write).mode("overwrite").partitionBy("shard")
      .parquet(s"$dir/batch=$batchId")
    val manifest = TrainExport.recompute(
      spark.read.parquet(s"$dir/batch=$batchId"), idCol, tokenCol, seed)
    LocalFs.writer(manifest.coalesce(1).write).mode("overwrite")
      .parquet(s"$dir/_manifest/batch=$batchId")
  }

  def appendShards(stream: DataFrame, idCol: String, tokenCol: String,
                   dir: String, nShards: Int, seed: Long = 42L,
                   queryName: String = "graft_export",
                   checkpointLocation: Option[String] = None): StreamingQuery = {
    val writer = stream.writeStream
      .queryName(queryName)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          deliverBatch(batch, batchId, idCol, tokenCol, dir, nShards, seed)
      }
    checkpointLocation.foreach(cp => writer.option("checkpointLocation", cp))
    writer.start()
  }
}
