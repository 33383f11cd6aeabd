package graft

/** VERDICT r17 #8: the `graft.pipeline.barrier` conf must only change
  * the PHYSICAL materialization of the scored projection (checkpoint
  * barrier vs lineage-keeping persist vs no barrier at all), never a
  * row — pinned here for both barrier call sites (pipeline_clean,
  * sample_weighted) across all three modes, plus the loud refusal on
  * an unknown mode.
  */
class BarrierModeSpec extends SparkFunSuite {

  private def rows(name: String): Set[String] = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect().map(_.toString).toSet
  }

  private def withMode[T](mode: Option[String])(f: => T): T = {
    val prev = spark.conf.getOption(Tables.BarrierModeKey)
    mode match {
      case Some(m) => spark.conf.set(Tables.BarrierModeKey, m)
      case None => spark.conf.unset(Tables.BarrierModeKey)
    }
    try f
    finally prev match {
      case Some(v) => spark.conf.set(Tables.BarrierModeKey, v)
      case None => spark.conf.unset(Tables.BarrierModeKey)
    }
  }

  for (name <- Seq("pipeline_clean", "sample_weighted")) {
    test(s"$name: checkpoint, persist and off barriers are row-identical") {
      val ck = withMode(None)(rows(name)) // default = checkpoint
      val ps = withMode(Some("persist"))(rows(name))
      // persist mode never unpersists: drop its blocks from the shared session
      spark.catalog.clearCache()
      val off = withMode(Some("off"))(rows(name))
      assert(ck.nonEmpty)
      assert(ck == ps, "persist mode drifted from checkpoint mode")
      assert(ck == off, "off mode drifted from checkpoint mode")
    }
  }

  test("unknown barrier mode refuses loudly") {
    val e = intercept[IllegalArgumentException] {
      withMode(Some("bogus"))(rows("sample_weighted"))
    }
    assert(e.getMessage.contains(Tables.BarrierModeKey))
  }
}
