package graft

import org.apache.spark.{CheckpointDirScope, SparkException}

import graft.operators.IvfIndex

/** Lost-executor census over the 38 gates whose build checkpoints
  * (every such build goes through [[Tables.materialize]]). A lost
  * executor takes its blocks with it; here that is simulated by
  * unpersisting every RDD the build persisted before the gate runs.
  * Under a checkpoint directory the build's checkpoints are files, so
  * every gate must still answer. Without one they are executor-local
  * blocks, and q_interval_join shows what losing them does.
  */
class CheckpointCensusSpec extends SparkFunSuite {

  /** Builds whose lost blocks fail the gate unless they are reliable. */
  private val failingWithoutDir = Seq(
    "ann_ivf2pq", "ann_ivfopq", "ann_ivfpq", "ann_ivfpq_rerank",
    "ann_ivfpq_residual", "ann_ivfsq", "ann_opq", "ann_pq", "ann_range",
    "ann_sq8", "dedup_containment", "dedup_minhash_pairs",
    "dedup_minhash_verified", "dedup_ngram_jaccard", "dedup_simhash",
    "pipeline_ccnet_buckets", "pipeline_ccnet_export", "sample_weighted",
    "span_stream_flags", "text_span_dedup", "text_span_runs",
    "text_span_scrub", "pipeline_clean", "q_audience_overlap",
    "q_audience_overlap_sketch", "q_cohort_ltv", "q_fill_interp",
    "q_fill_locf", "q_gini", "q_interval_join", "q_item_cooccur",
    "q_kmv_sketch", "text_lm_score")

  /** Builds that checkpoint but use their blocks up during construction. */
  private val survivingWithoutDir = Seq(
    "ann_ivf2", "ann_ivf_dist", "dedup_keep_best", "dedup_minhash",
    "q_pagerank")

  /** The two survivors whose only checkpoints are in a model training
    * that [[VectorQueries]] memoizes JVM-wide: an earlier gate or suite
    * may have trained it, so the census retrains under the directory.
    */
  private val memoizedTraining: Map[String, () => Any] = Map(
    "ann_ivf2" -> (() => IvfIndex.trainTwoLevel(Tables.embeddings(spark, sf),
      k1 = VectorQueries.Ivf2K1, k2 = VectorQueries.Ivf2K2)),
    "ann_ivf_dist" -> (() => IvfIndex.trainDistributed(Tables.embeddings(spark, sf),
      nList = VectorQueries.IvfDistNList)))

  /** Builds `name`, runs `afterBuild`, drops every RDD the build
    * persisted (blocking), and runs the gate into the noop sink.
    */
  private def buildLoseRun(name: String)(afterBuild: => Unit): Unit = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val df = SparkEntry.queries(name)(spark, sf)
    afterBuild
    sc.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!before(id)) rdd.unpersist(blocking = true)
    }
    df.write.format("noop").mode("overwrite").save()
  }

  for (name <- failingWithoutDir ++ survivingWithoutDir)
    test(s"$name answers after losing its build's blocks under a checkpoint directory") {
      CheckpointDirScope.withCheckpointDir(spark.sparkContext) { dir =>
        memoizedTraining.get(name).foreach(_())
        buildLoseRun(name) {
          assert(CheckpointDirScope.filesUnder(dir) > 0,
            s"$name wrote no checkpoint under the directory")
        }
      }
    }

  test("without a checkpoint directory q_interval_join fails after losing its build's blocks") {
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
    val e = intercept[SparkException](buildLoseRun("q_interval_join")(()))
    val messages = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString("\n")
    assert(messages.contains("CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"), messages)
  }
}
