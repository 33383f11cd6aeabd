package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbor (SURVEY.md §2 C7b):
  * a k-means coarse quantizer splits the corpus into nList cells; each
  * probe scores only the vectors in its nProbe nearest cells.
  *
  * Scale shape: training samples a tiny fraction of the corpus once;
  * cell assignment is a map-side argmin against broadcast centroids
  * (no shuffle); the probe-cell equi-join replaces the all-pairs scan.
  * Compared with hyperplane LSH (Similarity.lshTopK), IVF adapts to the
  * data distribution — cells follow density, so recall at equal cost is
  * usually higher on clustered embeddings.
  */
object IvfIndex {

  final case class Model(centroids: Seq[Seq[Double]]) {
    def nList: Int = centroids.size
  }

  /** Minimum training samples per centroid before Lloyd's means stop
    * being statistics: below this the quantizer memorizes its sample.
    * FAISS warns under ~39/centroid; 32 is the floor we auto-raise to.
    */
  val MinSamplesPerCentroid = 32

  /** Train the coarse quantizer — BIT-DETERMINISTIC: same data in,
    * same centroids out, across runs and JVMs. That property is what
    * lets the gate inline the trained centroids into an independent
    * SQL oracle and hash-compare exact output rows.
    *
    * Shape (the FAISS-standard one): cluster a bounded sample on the
    * driver, not the corpus on the cluster — at 100 TB the quantizer is
    * still trained from a bounded sample and the model is nList × dim
    * doubles. Determinism comes from (a) a deterministic sample — the
    * first `cap` vectors in lexicographic vector order (a total order;
    * equal keys are identical vectors), (b) evenly-spaced seeding from
    * that order, (c) Lloyd's iterations whose means fold left-to-right
    * in sample order. Distributed float reduction would surrender (c)
    * to task completion order, which is why training is driver-side —
    * the assignment step (the n·k·dim part) fans out across driver
    * cores, but assignments land in a fixed array and the means still
    * fold sequentially in sample order, so parallelism never touches
    * a float reduction.
    *
    * K/SAMPLE COUPLING (round 10 — closes the silent-degradation
    * caveat): the effective cap is max(sampleCap,
    * [[MinSamplesPerCentroid]] · nList), so growing nList with the
    * √n rule AUTOMATICALLY grows the training sample instead of
    * silently training 16k samples against 16k+ centroids (1 sample
    * per centroid — memorization, not clustering). An explicitly tiny
    * sampleCap cannot underfeed training either — the floor wins.
    * Driver-side Lloyd's is O(cap · k · dim · iters) ≈ 2e9 flops/iter
    * at k=1024/dim=64 — sub-second per iteration parallel; past
    * k ≈ 8192 move training to a distributed k-means (and accept
    * losing bit-determinism) — guarded loudly below.
    *
    * `seed` is kept for API stability; the procedure has no random
    * choices left to seed.
    */
  def train(vecs: DataFrame, nList: Int = 16, seed: Long = 42L,
            vecCol: String = "embedding", maxIter: Int = 10,
            sampleCap: Int = 16384): Model = {
    require(nList <= 8192,
      s"nList=$nList: driver-side deterministic Lloyd's is " +
        s"O(sample*k*dim) and sized for k <= 8192; larger coarse " +
        "quantizers need distributed k-means")
    val cap = math.max(sampleCap, MinSamplesPerCentroid * nList)
    val sample: Array[Array[Double]] = vecs
      .select(col(vecCol).cast("array<double>").as("v"))
      .where(col("v").isNotNull && size(col("v")) > 0)
      .orderBy(col("v"))
      .limit(cap)
      .collect()
      .map(_.getSeq[Double](0).toArray)
    require(sample.nonEmpty, "cannot train IVF on an empty corpus")
    val n = sample.length
    val k = math.min(nList, n)
    val dim = sample(0).length
    var centroids = Array.tabulate(k)(j => sample((j.toLong * n / k).toInt).clone())
    val assign = new Array[Int](n)
    var iter = 0
    var moved = true
    while (iter < maxIter && moved) {
      // parallel argmin (pure per-sample, order-free by construction);
      // the FOLD below stays sequential in sample order — determinism
      // lives there, not here
      val cs = centroids
      java.util.stream.IntStream.range(0, n).parallel()
        .forEach(i => assign(i) = nearest(sample(i), cs))
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Long](k)
      var si = 0
      while (si < n) {
        val v = sample(si)
        val c = assign(si)
        val s = sums(c); var i = 0
        while (i < dim) { s(i) += v(i); i += 1 }
        counts(c) += 1
        si += 1
      }
      moved = false
      val next = Array.tabulate(k) { c =>
        if (counts(c) == 0) centroids(c) // empty cell keeps its centroid
        else {
          val m = Array.tabulate(dim)(i => sums(c)(i) / counts(c))
          if (!java.util.Arrays.equals(m, centroids(c))) moved = true
          m
        }
      }
      centroids = next
      iter += 1
    }
    Model(centroids.toSeq.map(_.toSeq))
  }

  /** DISTRIBUTED k-means (round 10) — the path past [[train]]'s
    * k ≤ 8192 driver envelope, for coarse quantizers at the
    * nList ≈ √n rule's corpus scale (10¹⁰ vectors → nList ≈ 10⁵).
    *
    * STILL BIT-DETERMINISTIC — the property the old guard assumed a
    * cluster must surrender is rescued by the repo's standard
    * order-independence discipline: every per-dimension mean
    * accumulates as an exact DECIMAL(38,18) sum (each double element
    * casts identically wherever it is summed; decimal addition is
    * associative+commutative and exact), so any partitioning, task order
    * or executor count produces the same sums, the same means, the
    * same centroids. IvfSpec pins this against a repartitioned rerun.
    *
    * Shape per iteration: cell assignment is the same fused
    * [[graft.functions.VectorOps.centroidDists]] map-side kernel the
    * serving path uses (k-independent generated code); the mean build
    * shuffles (cell, dim) decimal partials — map-side combine bounds
    * each task's output at k·dim rows. Seeding is deterministic
    * without a global sort: bucket vectors by xxhash64 mod nList and
    * take the lexicographic MIN vector of each bucket (a pure
    * aggregate; empty buckets simply yield k_eff < nList, matching
    * [[train]]'s k = min(nList, n) rule). Empty cells keep their
    * centroid, as in [[train]].
    */
  def trainDistributed(vecs: DataFrame, nList: Int,
                       vecCol: String = "embedding",
                       maxIter: Int = 10,
                       samplesPerCentroid: Int = 256,
                       knownCount: Option[Long] = None): Model = {
    import org.apache.spark.sql.types.DecimalType
    require(nList >= 1 && nList <= 65536,
      s"nList=$nList out of the supported 1..65536 range")
    require(samplesPerCentroid >= MinSamplesPerCentroid,
      s"samplesPerCentroid=$samplesPerCentroid below the " +
        s"$MinSamplesPerCentroid memorization floor")
    val all = vecs
      .select(col(vecCol).cast("array<double>").as("v"))
      .where(col("v").isNotNull && size(col("v")) > 0)
    // FAISS-style training subsample: ~samplesPerCentroid vectors per
    // centroid suffice for the coarse quantizer; past that the
    // per-iteration corpus scan is pure waste. The filter is a pure
    // deterministic function of the vector (hash mod ratio), so the
    // sample — and therefore the trained model — stays independent of
    // partitioning and corpus order. Corpora at or under the target
    // train on everything (ratio 1), keeping small-corpus results
    // (and the gates) bit-identical to the unsampled path.
    val target = samplesPerCentroid.toLong * nList
    val nAll = knownCount.getOrElse(all.count())
    val ratio = math.max(1L, nAll / math.max(1L, target))
    // the sample hash is SALTED so it is independent of the seeding
    // hash below: filtering on xxhash64(v) % ratio and then bucketing
    // on xxhash64(v) % nList would alias (survivors share residues
    // mod gcd(ratio, nList) — with power-of-two ratios and nLists
    // most seed buckets would be structurally empty)
    val v = (if (ratio > 1L)
        all.where(pmod(xxhash64(lit(0x5eedL), col("v")), lit(ratio)) === 0L)
      else all)
      .transform(graft.Tables.materialize) // read once; every iteration reuses it
    val seedRows = v
      .groupBy(pmod(xxhash64(col("v")), lit(nList.toLong)).as("b"))
      .agg(min(col("v")).as("v"))
      .orderBy("b")
      .collect()
    require(seedRows.nonEmpty, "cannot train IVF on an empty corpus")
    var model = Model(seedRows.map(_.getSeq[Double](1)).toSeq)
    val dec = DecimalType(38, 18)
    var iter = 0
    var moved = true
    while (iter < maxIter && moved) {
      val stats = v
        .select(assignCell(col("v"), model).as("cell"),
          posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy("cell", "dim")
        .agg(sum(col("x").cast(dec)).as("s"), count(lit(1)).as("n"))
        .select(col("cell"), col("dim"),
          (col("s") / col("n")).cast("double").as("m"))
        .collect()
      val next = model.centroids.map(_.toArray).toArray
      stats.foreach { r =>
        // NULL cell/dim = the assignment kernel or posexplode saw a
        // ragged/NULL vector — name the cause instead of an opaque
        // NPE, mirroring the two-level trainer's guard (ADVICE r11)
        require(!r.isNullAt(0) && !r.isNullAt(1),
          "distributed k-means: NULL cell/dim in the stats row - " +
            "ragged or NULL vector dimensions in the corpus")
        // a NULL mean means the DECIMAL(38,18) sum overflowed (vector
        // magnitudes × sample size beyond 10^20) — refuse loudly
        // instead of surfacing an opaque NPE (ADVICE r10)
        require(!r.isNullAt(2),
          s"distributed k-means: NULL mean for (cell=${r.get(0)}, " +
            s"dim=${r.get(1)}) - DECIMAL(38,18) sum overflow; scale " +
            "the vectors down (or reduce samplesPerCentroid)")
        next(r.getInt(0))(r.getInt(1)) = r.getDouble(2)
      }
      val nm = Model(next.map(_.toSeq).toSeq)
      moved = nm.centroids != model.centroids
      model = nm
      iter += 1
    }
    // the checkpointed sample's blocks are released by the
    // ContextCleaner once this frame is unreachable (Dataset.unpersist
    // does NOT reach checkpoint blocks — it only uncaches
    // CacheManager entries); the returned model holds no reference
    model
  }

  /** TWO-LEVEL coarse quantizer (round 10) — the assignment-cost
    * answer at nList ≈ √n corpus scale: flat IVF pays O(k) distances
    * per vector to assign it; at k = 10⁵ that dominates the index
    * build. Level 1 splits the corpus into k1 super-cells, each
    * super-cell trains its OWN k2-cell sub-quantizer — assignment
    * costs k1 + k2 ≈ 2√k distances, and serving probes super-cells
    * first, then sub-cells (the inverted-multi-index idea, Babenko &
    * Lempitsky 2012, in its hierarchical-k-means form).
    *
    * `sub(i)` may have fewer than k2 centroids (hash-seed buckets can
    * be empty on small cells, mirroring k_eff = min(k, n)); global
    * cell ids are dense: cell (c1, j) = bases(c1) + j.
    */
  final case class Model2(level1: Model, sub: Seq[Model]) {
    require(level1.nList == sub.length, "one sub-quantizer per super-cell")
    val bases: Array[Int] = sub.map(_.nList).scanLeft(0)(_ + _).toArray
    def nCells: Int = bases.last
    def subMatrices: Seq[Seq[Seq[Double]]] = sub.map(_.centroids)
  }

  /** Train the two-level quantizer — both levels through the decimal-
    * exact distributed machinery, so the whole model is
    * BIT-DETERMINISTIC under any partitioning (same argument as
    * [[trainDistributed]]; level 2 is one GROUPED Lloyd's: per-
    * (super-cell, sub-cell, dim) decimal sums, every super-cell
    * converging in the same jobs). Seeding per super-cell is the same
    * salted hash-bucket-min aggregate, so no per-cell driver loops —
    * k1 sub-quantizers train in k1-parallel inside each iteration.
    */
  def trainTwoLevel(vecs: DataFrame, k1: Int, k2: Int,
                    vecCol: String = "embedding",
                    maxIter: Int = 10,
                    samplesPerCentroid: Int = 256): Model2 = {
    import org.apache.spark.sql.types.DecimalType
    require(k1 >= 1 && k2 >= 1 && k1.toLong * k2 <= (1 << 20),
      s"k1*k2 = ${k1.toLong * k2} out of range")
    val all = vecs
      .select(col(vecCol).cast("array<double>").as("v"))
      .where(col("v").isNotNull && size(col("v")) > 0)
    // one corpus count serves both levels (review r10c: trainDistributed
    // recounted the identically-filtered frame)
    val nAll = all.count()
    val m1 = trainDistributed(vecs, k1, vecCol, maxIter,
      samplesPerCentroid, knownCount = Some(nAll))
    val target = samplesPerCentroid.toLong * k1 * k2
    val ratio = math.max(1L, nAll / math.max(1L, target))
    val sampled = (if (ratio > 1L)
        all.where(pmod(xxhash64(lit(0x5eed2L), col("v")), lit(ratio)) === 0L)
      else all)
    val withC1 = sampled
      .withColumn("c1", assignCell(col("v"), m1))
      .transform(graft.Tables.materialize)
    // per-super-cell seeding: salted hash buckets, lexicographic min
    val seedRows = withC1
      .groupBy(col("c1"),
        pmod(xxhash64(lit(0x5eed3L), col("v")), lit(k2.toLong)).as("b"))
      .agg(min(col("v")).as("v"))
      .orderBy("c1", "b")
      .collect()
    var subs: Array[Array[Array[Double]]] = {
      val byCell = seedRows.groupBy(_.getInt(0))
      Array.tabulate(m1.nList)(c =>
        byCell.getOrElse(c, Array.empty)
          .map(_.getSeq[Double](2).toArray))
    }
    // a super-cell that received no level-2 seeds (genuinely empty, or
    // all members dropped by the level-2 sample — possible at exactly
    // the large-k1 regime this exists for) degrades to ONE sub-cell:
    // its own level-1 centroid. Assignment stays total, the family's
    // "empty cells keep their centroid" rule, never an abort.
    subs = subs.zipWithIndex.map { case (b, c) =>
      if (b.nonEmpty) b else Array(m1.centroids(c).toArray)
    }
    val dec = DecimalType(38, 18)
    var iter = 0
    var moved = true
    while (iter < maxIter && moved) {
      val subSeq = subs.map(_.map(_.toSeq).toSeq).toSeq
      val d2 = graft.functions.VectorOps.centroidSliceDists(
        col("v"), col("c1"), subSeq)
      val stats = withC1
        .withColumn("j",
          (array_position(d2, array_min(d2)) - 1).cast("int"))
        .select(col("c1"), col("j"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy("c1", "j", "dim")
        .agg(sum(col("x").cast(dec)).as("s"), count(lit(1)).as("n"))
        .select(col("c1"), col("j"), col("dim"),
          (col("s") / col("n")).cast("double").as("m"))
        .collect()
      val next = subs.map(_.map(_.clone()))
      stats.foreach { r =>
        // NULL j = the slice-distance kernel returned NULL (ragged
        // vector dimensions vs the sub-matrix); NULL mean = decimal
        // sum overflow — name the cause, don't NPE (ADVICE r10)
        require(!r.isNullAt(1),
          s"two-level k-means: NULL sub-cell for super-cell ${r.get(0)} " +
            "- inconsistent vector dimensions in the corpus")
        require(!r.isNullAt(3),
          s"two-level k-means: NULL mean for (c1=${r.get(0)}, " +
            s"j=${r.get(1)}, dim=${r.get(2)}) - DECIMAL(38,18) sum " +
            "overflow; scale the vectors down")
        next(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getDouble(3)
      }
      moved = !next.zip(subs).forall { case (a, b) =>
        a.zip(b).forall { case (x, y) => java.util.Arrays.equals(x, y) }
      }
      subs = next
      iter += 1
    }
    // withC1's checkpoint blocks: ContextCleaner-released once
    // unreachable (see the trainDistributed note)
    Model2(m1, subs.toSeq.map(b => Model(b.toSeq.map(_.toSeq))))
  }

  /** Global cell id of a vector under the two-level model:
    * bases(c1) + argmin over sub(c1) — k1 + k2 distances, both
    * through the fused kernels, first index wins ties at both levels.
    */
  def assignCell2(vec: Column, m: Model2): Column = {
    val c1 = assignCell(vec, m.level1)
    val d2 = graft.functions.VectorOps.centroidSliceDists(
      vec, c1, m.subMatrices)
    val j = (array_position(d2, array_min(d2)) - 1).cast("int")
    (element_at(typedlit(m.bases.toSeq), c1 + 1) + j).cast("int")
  }

  /** The nProbe nearest GLOBAL cells under two-level probing: the
    * nProbe1 nearest super-cells by level-1 distance, then all their
    * sub-cells ranked by level-2 distance with (distance, cell id)
    * ties — the candidate set serving scans.
    */
  def probeCells2(vec: Column, m: Model2, nProbe1: Int, nProbe: Int): Column = {
    val d1 = graft.functions.VectorOps.centroidDists(vec, m.level1.centroids)
    val top1 = slice(
      transform(
        array_sort(zip_with(d1, typedlit(m.level1.centroids.indices.toList),
          (dd, i) => struct(dd.as("d"), i.as("i")))),
        s => s.getField("i")),
      1, nProbe1)
    val sizes = typedlit(m.sub.map(_.nList))
    val bases = typedlit(m.bases.toSeq)
    val cand = flatten(transform(top1, c1 =>
      zip_with(
        graft.functions.VectorOps.centroidSliceDists(vec, c1, m.subMatrices),
        transform(sequence(lit(0), element_at(sizes, c1 + 1) - 1),
          j => element_at(bases, c1 + 1) + j),
        (dd, g) => struct(dd.as("d"), g.as("g")))))
    slice(transform(array_sort(cand), s => s.getField("g")), 1, nProbe)
  }

  /** Approximate top-k under the two-level quantizer — identical join
    * shape to [[topK]], with global cells from [[assignCell2]] /
    * [[probeCells2]].
    */
  def topK2(corpus: DataFrame, probes: DataFrame, model: Model2,
            k: Int, nProbe1: Int = 2, nProbe: Int = 4,
            idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    cellTopK(corpus, probes, k, idCol, vecCol,
      v => assignCell2(v, model),
      v => probeCells2(v, model, nProbe1, nProbe))

  /** The shared probe-cell-join serving pipeline behind [[topK]] and
    * [[topK2]]: corpus rows carry their cell, probe rows explode their
    * probe cells, the equi-join bounds candidates, bounded TopK ranks.
    */
  private def cellTopK(corpus: DataFrame, probes: DataFrame, k: Int,
                       idCol: String, vecCol: String,
                       cellOf: Column => Column,
                       probeCellsOf: Column => Column): DataFrame = {
    val c = corpus.select(col(idCol).as("vec_id"), col(vecCol).as("vec"),
      cellOf(col(vecCol)).as("cell"))
    val p = probes.select(col(idCol).as("probe_id"), col(vecCol).as("probe_vec"),
        explode(probeCellsOf(col(vecCol))).as("cell"))
    val scored = c.join(broadcast(p),
        c("cell") === p("cell") && col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        Similarity.cosine(col("probe_vec"), col("vec")).as("cos"))
    scored.groupBy("probe_id")
      .agg(graft.functions.TopK.topk(k)(col("cos"), col("vec_id")).as("top"))
      .select(col("probe_id"), posexplode(col("top")))
      .select(col("probe_id"), col("col._2").as("vec_id"),
        col("col._1").as("cos"), (col("pos") + 1).cast("long").as("rk"))
  }

  /** Argmin over centroids, first index wins ties — the same rule
    * [[assignCell]] applies distributed-side.
    */
  private def nearest(v: Array[Double], cs: Array[Array[Double]]): Int = {
    var best = 0; var bestD = Double.MaxValue; var c = 0
    while (c < cs.length) {
      var d = 0.0; var i = 0
      val ctr = cs(c)
      while (i < v.length) { val dd = v(i) - ctr(i); d += dd * dd; i += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Distances to every centroid as ONE fused-kernel array column
    * (round 10): the k-column form `array(sqDist(v,c_1)…)` blew the
    * janino method-size cliff around k ≈ 1000, exactly where the
    * nList ≈ √n rule needs to go at corpus scale; the matrix kernel's
    * generated code is size-independent of k. Each distance folds
    * bit-identically to the sqDist HOF order, so every cell decision
    * the oracles replay is unchanged.
    */
  private def dists(vec: Column, model: Model): Column =
    graft.functions.VectorOps.centroidDists(vec, model.centroids)

  /** Index of the nearest centroid (map-side, codegen'd; first index
    * wins ties — array_position returns the FIRST match).
    */
  def assignCell(vec: Column, model: Model): Column = {
    val d = dists(vec, model)
    (array_position(d, array_min(d)) - 1).cast("int")
  }

  /** The nProbe nearest cells of a probe vector, as an array column. */
  def probeCells(vec: Column, model: Model, nProbe: Int): Column =
    slice(
      transform(
        array_sort(
          zip_with(dists(vec, model), typedlit(model.centroids.indices.toList),
            (dd, i) => struct(dd.as("d"), i.as("i")))),
        s => s.getField("i")),
      1, nProbe)

  /** Approximate top-k: probes scan only their nProbe cells. */
  def topK(corpus: DataFrame, probes: DataFrame, model: Model,
           k: Int, nProbe: Int = 2,
           idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    cellTopK(corpus, probes, k, idCol, vecCol,
      v => assignCell(v, model),
      v => probeCells(v, model, nProbe))

  /** Radius search (round 12) — FAISS `range_search` on an IVF index:
    * ALL neighbors within squared L2 distance r2, not a fixed top-k —
    * the shape dedup thresholds and "find everything this close"
    * retrieval actually want (a k cutoff silently truncates dense
    * neighborhoods and pads sparse ones). Same candidate bound as
    * [[topK]]: only the probe's nProbe cells are scanned, the probe
    * side broadcasts as bare (probe_id, cell) pairs plus one raw
    * vector per probe, and there is NO per-probe window at all —
    * the filter is a scan-stage predicate, so the output never
    * shuffles. The (id, cell, vec) index materializes before the
    * join ([[PqIndex]]'s 140× rule: a lazy assignment projection
    * re-evaluates k centroid distances PER CANDIDATE in the join's
    * emit path). d2 folds via the bit-exact
    * [[graft.functions.VectorOps.sqDist]], so the r2 comparison
    * replays identically in the oracle.
    */
  def rangeSearch(corpus: DataFrame, probes: DataFrame, model: Model,
                  r2: Double, nProbe: Int = 2, idCol: String = "vec_id",
                  vecCol: String = "embedding"): DataFrame = {
    val indexed = corpus.select(col(idCol).as("vec_id"), col(vecCol).as("_cv"),
      assignCell(col(vecCol), model).as("cell")).transform(graft.Tables.materialize)
    val pc = probes.select(col(idCol).as("probe_id"),
      explode(probeCells(col(vecCol), model, nProbe)).as("cell"))
    val pv = probes.select(col(idCol).as("probe_id"), col(vecCol).as("_pv"))
    indexed.join(broadcast(pc),
        indexed("cell") === pc("cell") && col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"), col("_cv"))
      .join(broadcast(pv), "probe_id")
      .select(col("probe_id"), col("vec_id"),
        graft.functions.VectorOps.sqDist(col("_pv"), col("_cv")).as("d2"))
      .filter(col("d2") <= r2)
  }
}
