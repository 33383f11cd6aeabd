package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization ANN (SURVEY.md §2 C29) — Jégou et al. 2011,
  * the FAISS `PQ` stage: split each d-dim vector into `m` subspaces,
  * vector-quantize each subspace against its own k-centroid codebook,
  * and score probes against the CODES via asymmetric distance
  * computation (ADC) — a per-probe lookup table turns each candidate
  * into m table reads and m-1 adds.
  *
  * Why it matters at 100 TB: a 768-dim float32 corpus is ~3 KB/vector;
  * PQ codes at m=16, k=256 are 16 BYTES/vector — the corpus collapses
  * ~200×, usually into memory. IVF bounds WHICH vectors are scored;
  * PQ bounds the COST and MEMORY of scoring each one. The two compose
  * (IVF-PQ) by running ADC inside probed cells only.
  *
  * Determinism discipline (same as [[IvfIndex]]): per-subspace
  * codebooks train with the identical bit-deterministic driver-side
  * k-means on the sliced sample; encoding is first-index argmin; the
  * ADC sum is a FIXED left-to-right m-term add — so the trained
  * codebooks inline into a DuckDB oracle that re-derives codes, LUTs
  * and rankings bit-exactly.
  */
object PqIndex {

  /** m codebooks of k centroids over d/m-dim subspaces. */
  final case class PqModel(subCentroids: Seq[Seq[Seq[Double]]]) {
    def m: Int = subCentroids.size
    def k: Int = subCentroids.head.size
    def dSub: Int = subCentroids.head.head.size
  }

  /** Train per-subspace codebooks — delegates each subspace to the
    * bit-deterministic [[IvfIndex.train]] over the sliced vectors.
    */
  def train(vecs: DataFrame, dim: Int, m: Int = 4, k: Int = 16,
            vecCol: String = "embedding", sampleCap: Int = 16384): PqModel = {
    require(dim % m == 0, s"dim $dim must divide into $m subspaces")
    val dSub = dim / m
    PqModel((0 until m).map { j =>
      IvfIndex.train(
        vecs.select(slice(col(vecCol), j * dSub + 1, dSub).as("embedding")),
        nList = k, sampleCap = sampleCap).centroids
    })
  }

  /** PQ codes for a vector column: array of m argmin centroid indices
    * (first index wins ties), computed map-side against the broadcast
    * codebooks — the 100 TB encode pass is one scan, zero shuffle.
    *
    * One fused codegen kernel since round 11
    * ([[graft.functions.PqCodesExpr]]): the previous m×k slice/sqDist
    * expression tree re-materialized each subspace slice once per
    * centroid — 256 array copies per row at (m=16, k=16), the
    * dominant cost of every PQ serve (and an OOM when the input is
    * itself computed, e.g. residuals). Decisions are bit-identical
    * (spec-pinned against the composed form).
    */
  def encode(vec: Column, model: PqModel): Column =
    graft.functions.VectorOps.pqCodes(vec, model.subCentroids)

  /** Per-probe ADC lookup table: m × k squared distances from the
    * probe's subvectors to every codebook centroid. Fused kernel
    * (round 11, [[graft.functions.PqLutExpr]]); the distances are
    * OUTPUT values, and the kernel folds in the exact SqDistExpr
    * order, so the gate's ad2 column is bit-unchanged.
    */
  def lut(vec: Column, model: PqModel): Column =
    graft.functions.VectorOps.pqLut(vec, model.subCentroids)

  // EAGER: every encode below materializes the coded corpus
  // (graft.Tables.materialize) BEFORE the serving join — the coded
  // corpus IS the index (ids + cells + m-byte codes; what a production
  // deployment stores), and leaving it lazy lets whole-stage codegen
  // defer the encode/assignment projection into the join's emit path,
  // re-evaluating it PER CANDIDATE instead of per corpus row. Measured
  // (AnnDiag, round 12, 20k-vector mog corpus, 100 probes, nProbe 16):
  // topKIvf2 28.2 s → 0.20 s (140×; the two-level assignment tree is
  // the expensive deferred expr), topKIvf ~2× from the deferred PqCodes
  // alone.
  //
  // Callers wrap the corpus in Tables.spread BEFORE the encode
  // projection (round 18): the checkpoint pins the scan's partition
  // count, so an under-split corpus file would both encode serially
  // AND serve the whole candidate sweep from one task (the
  // ScalarQuant/mrl finding — sf1 JobProfile: wall ≈ Σtask). Identity
  // on any realistically-written table.

  /** Exhaustive ADC top-k over the coded corpus: probes broadcast with
    * their LUTs; every candidate costs m element_at reads and a fixed
    * left-to-right (m-1)-add — the compressed-domain scan that replaces
    * touching raw floats. Ranking: (approx distance asc, vec_id).
    */
  def topK(corpus: DataFrame, probes: DataFrame, model: PqModel, k: Int,
           idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val coded = graft.Tables.materialize(graft.Tables.spread(corpus)
      .select(col(idCol).as("vec_id"),
        encode(col(vecCol), model).as("codes")))
    val p = probes.select(col(idCol).as("probe_id"),
      lut(col(vecCol), model).as("lut"))
    rank(coded.join(broadcast(p), col("vec_id") =!= col("probe_id")), model, k)
  }

  /** IVF-PQ — the full FAISS shape: the coarse quantizer bounds WHICH
    * vectors are scored (probe-cell equi-join instead of the exhaustive
    * pair set), PQ bounds the COST and MEMORY of scoring each one (ADC
    * over codes). At 100 TB the candidate stream is cells-worth of
    * 16-byte codes, never raw floats.
    */
  /** The two-broadcast candidate shape shared by [[topKIvf]] and
    * [[topKIvf2]] (round 12): the EXPLODED probe side carries only
    * bare (probe_id, cell) pairs — 12 B/row — and the m×k-double LUT
    * rides a SECOND broadcast keyed by probe_id, attached once per
    * candidate after the cell join. Carrying the LUT through the
    * explode (the round-11 shape) duplicated it nProbe× in the
    * broadcast: at k=256 codes and nProbe=256 that is 32 KB × 256 ≈
    * 8 MB PER PROBE — measured 16.5 s → (see ann_corpus_r12) on the
    * 200k mog corpus, vs ~1 s with the LUT broadcast once. (The
    * residual variant keeps per-(probe, cell) LUTs — cell-relative
    * residuals make that irreducible; its budget is the nProbe knob.)
    */
  private def cellCandidates(coded: DataFrame, probes: DataFrame,
                             probeCellsCol: Column, lutCol: Column,
                             idCol: String): DataFrame = {
    val pc = probes.select(col(idCol).as("probe_id"),
      explode(probeCellsCol).as("cell"))
    val pl = probes.select(col(idCol).as("probe_id"), lutCol.as("lut"))
    coded.join(broadcast(pc),
        coded("cell") === pc("cell") && col("vec_id") =!= col("probe_id"))
      .select("probe_id", "vec_id", "codes")
      .join(broadcast(pl), "probe_id")
  }

  def topKIvf(corpus: DataFrame, probes: DataFrame, ivf: IvfIndex.Model,
              model: PqModel, k: Int, nProbe: Int = 4,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val coded = graft.Tables.materialize(graft.Tables.spread(corpus)
      .select(col(idCol).as("vec_id"),
        encode(col(vecCol), model).as("codes"),
        IvfIndex.assignCell(col(vecCol), ivf).as("cell")))
    rank(cellCandidates(coded, probes,
      IvfIndex.probeCells(col(vecCol), ivf, nProbe),
      lut(col(vecCol), model), idCol), model, k)
  }

  /** IVF2-PQ (round 11) — the two-level coarse quantizer composed
    * with PQ codes: FAISS's actual 10¹⁰-vector serving configuration
    * (inverted multi-index + ADC). [[IvfIndex.Model2]] bounds WHICH
    * vectors are scored at k1+k2 ≈ 2√k assignment distances (vs
    * [[topKIvf]]'s O(k) flat assignment — the cost that dominates the
    * index build at nList ≈ √n); PQ bounds the COST of scoring each
    * one. Identical join shape to [[topKIvf]]: global cells from
    * assignCell2/probeCells2, candidates as (cell, m-byte code) rows,
    * ADC the same fixed-order add.
    */
  def topKIvf2(corpus: DataFrame, probes: DataFrame, ivf2: IvfIndex.Model2,
               model: PqModel, k: Int, nProbe1: Int = 2, nProbe: Int = 4,
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val coded = graft.Tables.materialize(graft.Tables.spread(corpus)
      .select(col(idCol).as("vec_id"),
        encode(col(vecCol), model).as("codes"),
        IvfIndex.assignCell2(col(vecCol), ivf2).as("cell")))
    rank(cellCandidates(coded, probes,
      IvfIndex.probeCells2(col(vecCol), ivf2, nProbe1, nProbe),
      lut(col(vecCol), model), idCol), model, k)
  }

  /** IVF-PQ shortlist → EXACT rerank (round 12) — the composition the
    * round-12 corpus study proved necessary: on corpora whose within-
    * cluster noise sits at the quantization scale, ADC over m-byte
    * codes reaches 0.04-0.22 recall@5 while exact rerank reaches ~1.0
    * (tools/ann_corpus_r12.json), which is exactly how production
    * FAISS deployments run — ADC is the SHORTLIST stage, a small
    * exact refine pass restores the ranking (the `IndexRefineFlat`
    * idea). Shape at 100 TB: the ADC pass touches only probed-cell
    * codes (never raw floats); the refine pass re-reads raw vectors
    * for |probes|·shortlist ids ONLY, via a BROADCAST semi-join of
    * the tiny (probe_id, vec_id) shortlist against the corpus — one
    * more corpus scan, zero shuffle, and on an id-partitioned store
    * the broadcast id set prunes to the touched files. Ranking is
    * (exact squared L2 asc, vec_id); the exact distance folds via
    * [[graft.functions.VectorOps.sqDist]] so the oracle can replay it
    * bit-for-bit.
    */
  def topKIvfRerank(corpus: DataFrame, probes: DataFrame,
                    ivf: IvfIndex.Model, model: PqModel, k: Int,
                    shortlist: Int, nProbe: Int = 4,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(shortlist >= k, s"shortlist $shortlist must be >= k $k")
    val sl = topKIvf(corpus, probes, ivf, model, shortlist, nProbe,
      idCol, vecCol).select(col("probe_id"), col("vec_id"))
    val p = probes.select(col(idCol).as("probe_id"), col(vecCol).as("_pv"))
    corpus.select(col(idCol).as("vec_id"), col(vecCol).as("_cv"))
      .join(broadcast(sl), "vec_id")
      .join(broadcast(p), "probe_id")
      .select(col("probe_id"), col("vec_id"),
        graft.functions.VectorOps.sqDist(col("_pv"), col("_cv")).as("d2"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("probe_id").orderBy(col("d2").asc, col("vec_id"))))
      .filter(col("rk") <= k)
      .select(col("probe_id"), col("vec_id"), col("d2"),
        col("rk").cast("long").as("rk"))
  }

  /** The vector minus its coarse cell's centroid (round 9) — what
    * FAISS's IVFPQ actually quantizes (`by_residual`): residuals
    * concentrate near the origin with far less variance than raw
    * vectors, so the same m×k code budget spends its centroids on a
    * much smaller ball — the standard single biggest recall win at
    * fixed code size. Pure map-side arithmetic: centroid lookup from
    * the broadcast model + one zip_with subtract.
    */
  def residual(vec: Column, ivf: IvfIndex.Model, cell: Column): Column = {
    val cents = typedlit(ivf.centroids)
    zip_with(vec, element_at(cents, cell + 1),
      (x, c) => x.cast("double") - c)
  }

  /** Train codebooks on RESIDUALS (vec − assigned-cell centroid)
    * instead of raw vectors. Same bit-deterministic driver-side
    * k-means; the residual transform is itself deterministic given the
    * (deterministic) IVF model, so these codebooks inline into the
    * oracle exactly like the raw ones.
    */
  def trainResidual(vecs: DataFrame, ivf: IvfIndex.Model, dim: Int,
                    m: Int = 4, k: Int = 16, vecCol: String = "embedding",
                    sampleCap: Int = 16384): PqModel = {
    val res = vecs.select(residual(col(vecCol), ivf,
      IvfIndex.assignCell(col(vecCol), ivf)).as("embedding"))
    train(res, dim, m, k, "embedding", sampleCap)
  }

  /** IVF-PQ over residual codes — the full FAISS IVFPQ serving shape.
    * Differences from [[topKIvf]]: corpus codes encode the residual
    * against the vector's OWN cell, and each probe builds one LUT PER
    * PROBED CELL (its residual is cell-relative), so the broadcast
    * probe side is nProbe rows per probe, each carrying its own m×k
    * table. Candidate cost is unchanged: m table reads + fixed-order
    * adds over 16-byte codes.
    */
  def topKIvfResidual(corpus: DataFrame, probes: DataFrame,
                      ivf: IvfIndex.Model, model: PqModel, k: Int,
                      nProbe: Int = 4, idCol: String = "vec_id",
                      vecCol: String = "embedding"): DataFrame = {
    val coded = graft.Tables.materialize(graft.Tables.spread(corpus)
      .withColumn("cell", IvfIndex.assignCell(col(vecCol), ivf))
      .select(col(idCol).as("vec_id"), col("cell"),
        encode(residual(col(vecCol), ivf, col("cell")), model).as("codes")))
    val p = probes
      .select(col(idCol).as("probe_id"), col(vecCol).as("_pv"),
        explode(IvfIndex.probeCells(col(vecCol), ivf, nProbe)).as("cell"))
      .select(col("probe_id"), col("cell"),
        lut(residual(col("_pv"), ivf, col("cell")), model).as("lut"))
    rank(coded.join(broadcast(p),
      coded("cell") === p("cell") && col("vec_id") =!= col("probe_id")), model, k)
  }

  /** Shared ADC scoring + (ad2 asc, vec_id) ranking over candidate
    * (codes, lut) pairs.
    */
  private def rank(cand: DataFrame, model: PqModel, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ad2 = (0 until model.m).map { j =>
      element_at(element_at(col("lut"), j + 1),
        element_at(col("codes"), j + 1) + 1)
    }.reduce(_ + _)
    cand.select(col("probe_id"), col("vec_id"), ad2.as("ad2"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("probe_id").orderBy(col("ad2").asc, col("vec_id"))))
      .filter(col("rk") <= k)
      .select(col("probe_id"), col("vec_id"), col("ad2"),
        col("rk").cast("long").as("rk"))
  }
}
