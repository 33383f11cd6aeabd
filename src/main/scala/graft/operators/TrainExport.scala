package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sinks.LocalFs

/** Training-corpus export (SURVEY.md §2 C27) — the last mile of the
  * pipeline: write the cleaned/mixed corpus as N deterministic shards
  * with a verifiable manifest, so a training job (or a later session)
  * can prove it is reading exactly the corpus the pipeline produced.
  *
  * Everything is a pure function of (id, seed) — shard assignment is
  * the portable md5 bucket, the per-shard checksum is a bit_xor fold
  * of a 60-bit md5 value: commutative and associative, so it is
  * REDUCTION-ORDER-INDEPENDENT (identical on a 1000-executor cluster,
  * a rerun, or another engine entirely — DuckDB/ClickHouse/Trino can
  * all recompute it to audit a delivered corpus).
  *
  * Scale shape: the manifest is one groupBy(shard) with map-side
  * partials; the write is one repartition on shard (each output file
  * covers exactly one shard) with rows ordered by the seeded hash —
  * the deterministic training order, produced by the shuffle itself.
  */
object TrainExport {

  /** Shard for `id`: portable md5 bucket mod nShards. */
  def shardAssign(id: Column, nShards: Int, seed: Long = 42L): Column =
    pmod(Sampling.portableBucket(id, seed), lit(nShards.toLong))

  /** 60-bit portable checksum value: first 15 hex chars of
    * md5("<id>:<seed>") — wide enough that per-shard XOR collisions
    * are negligible, narrow enough to stay a positive BIGINT anywhere.
    */
  def checksum60(id: Column, seed: Long = 42L): Column =
    conv(substring(md5(concat_ws(":", id.cast("string"), lit(seed))), 1, 15),
      16, 10).cast("long")

  /** Per-shard manifest: (shard, n_rows, n_tokens, checksum). */
  def manifest(docs: DataFrame, idCol: String, tokenCol: String,
               nShards: Int, seed: Long = 42L): DataFrame =
    docs.select(
        shardAssign(col(idCol), nShards, seed).as("shard"),
        col(tokenCol), checksum60(col(idCol), seed).as("_ck"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_rows"), sum(col(tokenCol)).as("n_tokens"),
        expr("bit_xor(_ck)").as("checksum"))

  /** Merge stacked manifest rows (e.g. per-micro-batch manifests of
    * disjoint row sets) into one: counts and token sums ADD, checksums
    * XOR — both commutative and associative, so manifests compose in
    * any order and any grouping. This law is what makes INCREMENTAL
    * delivery auditable: the manifest of a union is the merge of the
    * parts' manifests.
    */
  def mergeManifests(stacked: DataFrame): DataFrame =
    stacked.groupBy("shard")
      .agg(sum("n_rows").as("n_rows"), sum("n_tokens").as("n_tokens"),
        expr("bit_xor(checksum)").as("checksum"))

  /** Write `docs` as one parquet dir per shard under `dir`, rows in
    * the seeded-hash training order, plus the manifest at
    * `dir/_manifest`. Returns the manifest.
    */
  def writeShards(docs: DataFrame, idCol: String, tokenCol: String,
                  dir: String, nShards: Int, seed: Long = 42L): DataFrame = {
    val withShard = docs
      .withColumn("shard", shardAssign(col(idCol), nShards, seed))
      .withColumn("_ord", xxhash64(col(idCol), lit(seed)))
    val sorted = withShard
      .repartition(nShards, col("shard"))
      .sortWithinPartitions("shard", "_ord")
      .drop("_ord")
    LocalFs.writer(sorted.write).mode("overwrite").partitionBy("shard")
      .parquet(dir)
    // The stored manifest describes the bytes actually written, not a
    // second scan of `docs`: if the input is not perfectly
    // deterministic across actions (re-read mutated source, unstable
    // sample), a re-derived manifest would checksum a corpus that was
    // never delivered. Reading the fresh shard files back makes
    // stored == verify-recomputed true by construction.
    val spark = docs.sparkSession
    val m = recompute(spark.read.parquet(dir), idCol, tokenCol, seed)
    LocalFs.writer(m.coalesce(1).write).mode("overwrite")
      .parquet(s"$dir/_manifest")
    spark.read.parquet(s"$dir/_manifest")
  }

  /** Manifest recomputed from delivered shard files (shard is the
    * partition column of the written layout). */
  private[graft] def recompute(data: DataFrame, idCol: String,
                               tokenCol: String, seed: Long): DataFrame =
    data.select(col("shard").cast("long").as("shard"), col(tokenCol),
        checksum60(col(idCol), seed).as("_ck"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_rows"), sum(col(tokenCol)).as("n_tokens"),
        expr("bit_xor(_ck)").as("checksum"))

  /** Audit a written export: recompute the manifest from the shard
    * files and diff against the stored one. Returns the discrepancy
    * rows (empty = intact); any lost/extra/corrupted row flips its
    * shard's checksum or counts.
    */
  def verify(spark: SparkSession, dir: String, idCol: String,
             tokenCol: String, seed: Long = 42L): DataFrame = {
    val stored = readManifest(spark, dir)
    val recomputed = recompute(spark.read.parquet(dir), idCol, tokenCol, seed)
    stored.withColumn("side", lit("stored"))
      .unionByName(recomputed.withColumn("side", lit("recomputed")))
      .groupBy("shard", "n_rows", "n_tokens", "checksum")
      .agg(count(lit(1)).as("sides"))
      .filter(col("sides") =!= 2)
  }

  /** The stored manifest of an export. The batch writer stores one
    * merged file; a streaming writer (ExportStreamSpec's reference)
    * stores one manifest per committed micro-batch under
    * `_manifest/batch=<id>` — merging on read (counts add, checksums
    * XOR) makes both layouts one API, and lets a retried micro-batch
    * OVERWRITE its own manifest instead of double-merging it.
    */
  def readManifest(spark: SparkSession, dir: String): DataFrame =
    mergeManifests(spark.read.parquet(s"$dir/_manifest")
      .select("shard", "n_rows", "n_tokens", "checksum"))

  /** DuckDB replica of [[manifest]] over `table` (oracle seam). */
  def manifestSql(table: String, idCol: String, tokenExpr: String,
                  nShards: Int, seed: Long = 42L): String = {
    val key = s"CAST($idCol AS VARCHAR)"
    val h = s"md5($key || ':$seed')"
    // positional hex decode of chars 1..15 (the md5BucketSql technique,
    // full-width instead of mod-1e6)
    val ck = (1 to 15).map { i =>
      val p = BigInt(16).pow(15 - i)
      s"(strpos('0123456789abcdef', substring($h,$i,1))-1)*$p"
    }.mkString("(", " + ", ")")
    val bucket = graft.DedupQueries.md5BucketSql(key, seed)
    s"""SELECT CAST($bucket % $nShards AS BIGINT) AS shard,
       | count(*) AS n_rows, CAST(sum($tokenExpr) AS BIGINT) AS n_tokens,
       | bit_xor(CAST($ck AS BIGINT)) AS checksum
       |FROM $table GROUP BY 1 ORDER BY shard""".stripMargin
  }
}
