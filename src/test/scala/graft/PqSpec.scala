package graft

import org.apache.spark.sql.functions._
import graft.operators.{PqIndex, Similarity}

class PqSpec extends SparkFunSuite {

  test("PQ ADC recall vs exact L2 top-k is far above chance") {
    // the right yardstick: ADC approximates L2 distance, so recall is
    // measured against EXACT L2 top-k (vs cosine it conflates the
    // quantization loss with the metric mismatch on unnormalized
    // vectors and tells you nothing about the codes)
    val corpus = Tables.embeddings(spark, sf)
    val probes = corpus.filter(col("vec_id") % 50 === 0)
    val model = PqIndex.train(corpus, dim = 64, m = 16, k = 16)
    val pq = PqIndex.topK(corpus, probes, model, k = 5)
      .select("probe_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    val all = corpus.select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val probeIds = all.keys.filter(_ % 50 == 0)
    val exact = (for {
      p <- probeIds
      top = all.toSeq.filter(_._1 != p)
        .map { case (id, v) =>
          val pv = all(p)
          var d = 0.0; var i = 0
          while (i < v.length) { val dd = pv(i) - v(i); d += dd * dd; i += 1 }
          (id, d)
        }.sortBy { case (id, d) => (d, id) }.take(5)
      (id, _) <- top
    } yield (p, id)).toSet

    val recall = (pq & exact).size.toDouble / exact.size
    // random top-5 of ~n lands ~1%; 16x16 codes = a 16-byte sketch
    // over near-random 64-dim data, PQ's honest worst case (SURVEY
    // C29 records the m/k recall sweep: 0.18 at m=4 -> 0.6 at m=16,k=64)
    assert(recall >= 0.35, s"PQ L2 recall $recall")
  }

  test("codes are total, in range, and encoding is deterministic") {
    val corpus = Tables.embeddings(spark, sf)
    val model = PqIndex.train(corpus, dim = 64, m = 16, k = 16)
    assert(model.m == 16 && model.k == 16 && model.dSub == 4)
    val codes = corpus.select(PqIndex.encode(col("embedding"), model).as("c"))
    val flat = codes.select(explode(col("c")).as("ci"))
    assert(flat.where(col("ci") < 0 || col("ci") >= 16).count() == 0)
    assert(codes.count() == corpus.count())
    val a = corpus.select(col("vec_id"), PqIndex.encode(col("embedding"), model).as("c"))
      .orderBy("vec_id").collect().toSeq
    val b = corpus.repartition(7)
      .select(col("vec_id"), PqIndex.encode(col("embedding"), model).as("c"))
      .orderBy("vec_id").collect().toSeq
    assert(a == b)
  }

  test("residual codes: valid, deterministic, and recall not below raw at equal budget") {
    import graft.operators.IvfIndex
    val corpus = Tables.embeddings(spark, sf)
    val probes = corpus.filter(col("vec_id") % 50 === 0)
    val ivf = IvfIndex.train(corpus, nList = VectorQueries.IvfNList)
    val raw = PqIndex.train(corpus, dim = 64, m = 16, k = 16)
    val res = PqIndex.trainResidual(corpus, ivf, dim = 64, m = 16, k = 16)
    assert(res.m == 16 && res.k == 16 && res.dSub == 4)

    // exact L2 ground truth
    val all = corpus.select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val exact = (for {
      p <- all.keys.filter(_ % 50 == 0)
      (id, _) <- all.toSeq.filter(_._1 != p).map { case (id, v) =>
        val pv = all(p); var s = 0.0; var i = 0
        while (i < v.length) { val dd = pv(i) - v(i); s += dd * dd; i += 1 }
        (id, s)
      }.sortBy { case (id, d) => (d, id) }.take(5)
    } yield (p, id)).toSet
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.select("probe_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (got & exact).size.toDouble / exact.size
    }
    val rRaw = recall(PqIndex.topKIvf(corpus, probes, ivf, raw, 5, 4))
    val rRes = recall(PqIndex.topKIvfResidual(corpus, probes, ivf, res, 5, 4))
    // On near-random synthetic data by_residual's advantage is corpus-
    // dependent: a round-9 sweep at sf0.1 (2000 vecs) measured residual >= raw
    // at every swept (m,k), but at sf0.01 (200 vecs) raw wins — there
    // is no real cluster structure for residuals to exploit. So the
    // spec asserts VALIDITY (far above the ~2.5% chance floor, both
    // paths), not superiority; SURVEY §12 records the measured sweep.
    assert(rRes > 0.10, s"residual recall $rRes near chance")
    assert(rRaw > 0.10, s"raw recall $rRaw near chance")
  }

  test("ivfpq rerank: exact-L2 top-k of the ADC shortlist, recall >= ADC-only, refine joins broadcast") {
    import graft.operators.IvfIndex
    val corpus = Tables.embeddings(spark, sf)
    val probes = corpus.filter(col("vec_id") % 50 === 0)
    val ivf = IvfIndex.train(corpus, nList = VectorQueries.IvfNList)
    val pq = PqIndex.train(corpus, dim = 64, m = 16, k = 16)
    val rerank = PqIndex.topKIvfRerank(corpus, probes, ivf, pq, k = 5,
      shortlist = 20, nProbe = 4)

    // the refine pass must stay shuffle-free: tiny shortlist + probe
    // sides broadcast against the single corpus re-scan
    val plan = rerank.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), "refine join not broadcast")
    assert(!plan.contains("SortMergeJoin"), "refine pass shuffles the corpus")

    // semantic identity: rerank(k) IS the exact-L2 (d2 asc, vec_id)
    // top-k restricted to the ADC shortlist — nothing else
    val all = corpus.select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def d2(p: Long, c: Long): Double = {
      val (pv, cv) = (all(p), all(c)); var s = 0.0; var i = 0
      while (i < pv.length) { val dd = pv(i) - cv(i); s += dd * dd; i += 1 }
      s
    }
    val sl = PqIndex.topKIvf(corpus, probes, ivf, pq, k = 20, nProbe = 4)
      .select("probe_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expected = sl.groupBy(_._1).toSeq.flatMap { case (p, cands) =>
      cands.toSeq.map { case (_, c) => (c, d2(p, c)) }
        .sortBy { case (c, d) => (d, c) }.take(5).zipWithIndex
        .map { case ((c, d), i) => (p, c, d, (i + 1).toLong) }
    }.toSet
    val got = rerank.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(got == expected, "rerank != exact-L2 top-k of the shortlist")

    // recall vs exact global top-5 can only improve over ADC@5: any
    // exact-top-5 member inside the shortlist outranks all but <5
    // shortlist members by exact distance, so rerank keeps it
    val exact = (for {
      p <- all.keys.filter(_ % 50 == 0)
      (c, _) <- all.keys.filter(_ != p).map(c => (c, d2(p, c))).toSeq
        .sortBy { case (c, d) => (d, c) }.take(5)
    } yield (p, c)).toSet
    def recall(pairs: Set[(Long, Long)]): Double =
      (pairs & exact).size.toDouble / exact.size
    val rAdc = recall(PqIndex.topKIvf(corpus, probes, ivf, pq, 5, 4)
      .select("probe_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet)
    val rRr = recall(got.map { case (p, c, _, _) => (p, c) })
    assert(rRr >= rAdc, s"rerank recall $rRr below ADC-only $rAdc")
  }

  test("ivf2-pq composition: valid recall, deterministic, ADC unchanged by the quantizer") {
    import graft.operators.IvfIndex
    val corpus = Tables.embeddings(spark, sf)
    val probes = corpus.filter(col("vec_id") % 50 === 0)
    val ivf2 = IvfIndex.trainTwoLevel(corpus, k1 = 4, k2 = 4)
    val pq = PqIndex.train(corpus, dim = 64, m = 16, k = 16)
    val got = PqIndex.topKIvf2(corpus, probes, ivf2, pq, k = 5,
      nProbe1 = 2, nProbe = 4)
    val rows = got.orderBy("probe_id", "rk").collect().toSeq
    // deterministic under repartitioning (both models are fixed; the
    // join + rank replay identically)
    val rows2 = PqIndex.topKIvf2(corpus.repartition(7), probes, ivf2, pq,
        k = 5, nProbe1 = 2, nProbe = 4)
      .orderBy("probe_id", "rk").collect().toSeq
    assert(rows == rows2)
    // the quantizer only bounds WHICH candidates are scored — the ADC
    // value of any (probe, vec) pair must equal the exhaustive ann_pq
    // scan's for the same pair (scoring composes, never re-derives)
    val full = PqIndex.topK(corpus, probes, pq, k = Int.MaxValue)
      .select("probe_id", "vec_id", "ad2").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    rows.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      assert(full(key) == r.getDouble(2),
        s"ADC diverged for $key: ${full(key)} vs ${r.getDouble(2)}")
    }
    // recall vs exact L2: far above the ~2.5% chance floor (two-level
    // cells + 16-byte codes on near-random data — the honest floor)
    val all = corpus.select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val exact = (for {
      p <- all.keys.filter(_ % 50 == 0)
      (id, _) <- all.toSeq.filter(_._1 != p).map { case (id, v) =>
        val pv = all(p); var s = 0.0; var i = 0
        while (i < v.length) { val dd = pv(i) - v(i); s += dd * dd; i += 1 }
        (id, s)
      }.sortBy { case (id, d) => (d, id) }.take(5)
    } yield (p, id)).toSet
    val gotSet = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (gotSet & exact).size.toDouble / exact.size
    assert(recall > 0.10, s"ivf2pq recall $recall near chance")
  }

  test("pq oracle SQL materializes with bit-exact centroid transport") {
    val old = sys.props.get("graft.oracle.sfDir")
    try {
      System.setProperty("graft.oracle.sfDir", sf)
      val sql = VectorQueries.oracles.get("ann_pq")
      assert(sql.nonEmpty, "ann_pq oracle missing with active session + sfDir")
      // m*k codebook rows inlined, components as mantissa * 2^e
      assert(sql.get.split("::DOUBLE\\[\\]").length - 1 ==
        VectorQueries.PqM * VectorQueries.PqK)
      assert(sql.get.contains("pow(2.0, "))
    } finally {
      old match {
        case Some(v) => System.setProperty("graft.oracle.sfDir", v)
        case None => System.clearProperty("graft.oracle.sfDir")
      }
    }
  }
}
