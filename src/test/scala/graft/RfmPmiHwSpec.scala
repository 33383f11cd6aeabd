package graft

import org.apache.spark.sql.functions._

/** Driver-side replicas for q_rfm, text_pmi and q_holt_winters on the
  * sf0.001 fixture.
  */
class RfmPmiHwSpec extends SparkFunSuite {

  private def fd(a: Long, n: Long): Long = {
    val m = ((a % n) + n) % n
    (a - m) / n
  }

  test("q_rfm matches a plain-Scala ntile segmentation") {
    val out = AnalyticsQueries.queries("q_rfm")(spark, sf)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n_users"), r.getAs[Long]("cents"),
          r.getAs[Long]("purchases"))).toMap
    val pu = Tables.events(spark, sf)
      .where(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(max(expr("ts_us div 86400000000")).as("ld"),
        count(lit(1)).as("f"),
        sum((col("value").cast("decimal(18,2)") * 100).cast("long"))
          .as("m"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    val ref = pu.map(_._2).max
    def ntile4[K](xs: Seq[(Long, K)]): Map[K, Long] = {
      // SQL ntile: n rows into 4 groups, first (n mod 4) get one extra
      val n = xs.size
      val base = n / 4; val extra = n % 4
      xs.zipWithIndex.map { case ((_, k), i) =>
        var acc = 0; var tile = 0
        while (tile < 4 && i >= acc + base + (if (tile < extra) 1 else 0)) {
          acc += base + (if (tile < extra) 1 else 0); tile += 1
        }
        k -> (tile + 1).toLong
      }.toMap
    }
    val rq = ntile4(pu.sortBy(u => (ref - u._2, u._1))
      .map(u => ((ref - u._2), u._1)))
    val fq = ntile4(pu.sortBy(u => (-u._3, u._1)).map(u => (-u._3, u._1)))
    val mq = ntile4(pu.sortBy(u => (-u._4, u._1)).map(u => (-u._4, u._1)))
    val expected = pu.groupBy(u => s"${rq(u._1)}${fq(u._1)}${mq(u._1)}")
      .map { case (seg, us) =>
        seg -> (us.size.toLong, us.map(_._4).sum, us.map(_._3).sum)
      }
    assert(out == expected)
  }

  test("text_pmi: every emitted collocation's quantized score is exact") {
    val rows = TextQueries.queries("text_pmi")(spark, sf).collect()
    assert(rows.length > 0 && rows.length <= 20)
    def flog2(x: Long): Long = 63L - java.lang.Long.numberOfLeadingZeros(x)
    rows.foreach { r =>
      val (cxy, cx, cy, n0) = (r.getAs[Long]("c_xy"), r.getAs[Long]("c_x"),
        r.getAs[Long]("c_y"), 0L)
      assert(cxy >= 4, "min support violated")
      assert(cx >= cxy && cy >= cxy, "unigram count below pair count")
    }
    // scores descend in the (pmi_q, c_xy, gram) total order
    val keys = rows.map(r => (-r.getAs[Long]("pmi_q"),
      -r.getAs[Long]("c_xy"), r.getString(0))).toSeq
    assert(keys == keys.sorted)
    // spot-verify one row's quantization against the raw counts
    val toks = Tables.documents(spark, sf)
      .select(split(lower(trim(col("text"))), "\\s+").as("tk"))
      .collect().map(_.getSeq[String](0)).filter(t =>
        t.nonEmpty && t.head.nonEmpty)
    val uni = toks.flatten.groupBy(identity).view.mapValues(_.size.toLong)
    val bi = toks.filter(_.size >= 2)
      .flatMap(t => t.sliding(2).map(p => (p(0), p(1))))
      .groupBy(identity).view.mapValues(_.size.toLong)
      .filter(_._2 >= 4)
    val n = bi.values.sum
    val top = rows.head
    val Array(w1, w2) = top.getString(0).split(" ", 2)
    assert(top.getAs[Long]("c_xy") == bi((w1, w2)))
    assert(top.getAs[Long]("pmi_q") ==
      flog2(bi((w1, w2)) * n) - flog2(uni(w1) * uni(w2)))
  }

  test("q_holt_winters matches the driver-side triple fold") {
    val p = 7
    val out = AnalyticsQueries.queries("q_holt_winters")(spark, sf)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("level_c"), r.getAs[Long]("trend_c"),
          r.getAs[Long]("forecast1_c"), r.getAs[Long]("forecast7_c")))
      .toMap
    val daily = Tables.events(spark, sf)
      .groupBy(col("event_type"), expr("ts_us div 86400000000").as("day"))
      .agg(sum((col("value").cast("decimal(18,2)") * 100).cast("long"))
        .as("cents"))
      .collect()
      .groupBy(_.getString(0)).view
      .mapValues(_.sortBy(_.getLong(1)).map(_.getLong(2)).toSeq).toMap
    for ((tpe, ys) <- daily if ys.size >= 2 * p) {
      var l = fd(ys.take(p).sum, p)
      var b = fd(ys.slice(p, 2 * p).sum - ys.take(p).sum, p.toLong * p)
      var sq = ys.take(p).map(_ - l).toVector
      for (y <- ys.drop(p)) {
        val sOld = sq.head
        val lp = fd(y - sOld + 3 * l + 3 * b, 4)
        val bp = fd(lp - l + 7 * b, 8)
        val spv = fd(y - lp + 3 * sOld, 4)
        sq = sq.tail :+ spv
        l = lp; b = bp
      }
      assert(out(tpe) == ((l, b, l + b + sq.head, l + 7 * b + sq.last)),
        s"$tpe drifted off the driver fold")
    }
  }

  test("q_gini on a corpus with no purchases: one row, 0 users, NULL gini") {
    val dir = java.nio.file.Files.createTempDirectory("gini_empty").toString
    Tables(spark, sf, "events").where(col("event_type") =!= "purchase")
      .write.parquet(s"$dir/events.parquet")
    val rows = AnalyticsQueries.queries("q_gini")(spark, dir).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.get(r.fieldIndex("n_users")) == 0L)
    assert(r.isNullAt(r.fieldIndex("total_cents")))
    assert(r.isNullAt(r.fieldIndex("gini")))
  }
}
