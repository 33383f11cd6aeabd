package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scalar quantization ANN (SURVEY.md §2 C29f/C29g) — the FAISS
  * `IndexScalarQuantizer` / `IndexIVFScalarQuantizer` (SQ8) rung of
  * the compression ladder: each DIMENSION quantizes independently to
  * one byte against a per-dimension trained [min, max] range, so a
  * d-dim float32 vector collapses 4× to d bytes with far gentler
  * recall loss than PQ's d/4-byte codes (every dimension keeps 256
  * levels instead of sharing a 4-dim codebook entry).
  *
  * Why it matters at 100 TB: SQ8 is the middle rung between raw
  * floats (exact, 4d bytes) and PQ (16 bytes, shortlist-grade): a
  * 768-dim corpus drops from 3 KB to 768 B/vector — 4× more of the
  * corpus fits in executor memory with near-exact ranking, and the
  * IVF composition bounds WHICH vectors pay even that. Training is
  * one map-side-combinable min/max aggregate (vs k-means iterations);
  * encoding is one scan, zero shuffle.
  *
  * Determinism discipline (same as [[IvfIndex]]/[[PqIndex]]): per-dim
  * min/max are exact order-independent aggregates, so the trained
  * ranges inline into a DuckDB oracle as literals; encode is
  * floor-clamp arithmetic and the asymmetric distance folds in the
  * exact [[graft.functions.VectorOps.sqDist]] element order — every
  * code and rank decision replays bit-for-bit.
  *
  * Reference semantics: main.py migrates rows byte-faithfully; the
  * ANN surface is mandate scope (training-data pipeline), not a port.
  */
object ScalarQuant {

  /** Per-dimension trained ranges. `width(i)` = (max−min)/256 — 256 is
    * a power of two, so the divide is exact and the width carries only
    * the rounding of (max−min), which the oracle literal reproduces.
    */
  final case class SqModel(mins: Array[Double], maxs: Array[Double]) {
    def dim: Int = mins.length
    val widths: Array[Double] = mins.indices.map(i => (maxs(i) - mins(i)) / 256.0).toArray
  }

  /** Train per-dimension [min, max]: one posexplode → groupBy(dim)
    * min/max — partial-aggregated map-side, so the 100 TB training
    * pass is one scan with a dim-row shuffle (64 rows here). Collect
    * is dim rows. Loud refusals on ragged/non-finite corpora: a NULL
    * min means some vector lacks the dimension; a non-finite range
    * would make every code collapse to one bucket.
    */
  def train(vecs: DataFrame, dim: Int, vecCol: String = "embedding"): SqModel = {
    val rows = vecs
      .select(posexplode(transform(col(vecCol), _.cast("double"))))
      .groupBy(col("pos")).agg(min(col("col")).as("mn"), max(col("col")).as("mx"))
      .collect()
    require(rows.length == dim,
      s"scalar-quant training saw ${rows.length} dimensions, expected $dim " +
        "(ragged vectors in the corpus?)")
    val mins = new Array[Double](dim)
    val maxs = new Array[Double](dim)
    rows.foreach { r =>
      require(!r.isNullAt(1) && !r.isNullAt(2),
        s"scalar-quant training: NULL range at dim ${r.getInt(0)} — " +
          "NULL elements in the corpus")
      val (p, mn, mx) = (r.getInt(0), r.getDouble(1), r.getDouble(2))
      require(java.lang.Double.isFinite(mn) && java.lang.Double.isFinite(mx) &&
        java.lang.Double.isFinite(mx - mn),
        s"scalar-quant training: non-finite range [$mn, $mx] at dim $p")
      mins(p) = mn; maxs(p) = mx
    }
    SqModel(mins, maxs)
  }

  /** SQ8 codes: per-dim floor((x−min)/width) clamped to [0, 255]
    * (FAISS QT_8bit). Map-side arithmetic against the broadcast
    * ranges — the encode pass is one scan, zero shuffle. A zero-width
    * (constant) dimension codes 0.
    */
  def encode(vec: Column, model: SqModel): Column = {
    val mn = typedlit(model.mins.toSeq)
    val w = typedlit(model.widths.toSeq)
    transform(vec, (x, i) => {
      val m0 = element_at(mn, i + 1)
      val w0 = element_at(w, i + 1)
      when(w0 === 0.0, lit(0)).otherwise(
        least(greatest(floor((x.cast("double") - m0) / w0), lit(0.0)), lit(255.0))
          .cast("int"))
    })
  }

  /** Bucket-midpoint reconstruction: min + (code + 0.5)·width — two
    * roundings per element (mul then add), replayed verbatim by the
    * oracle's `mn[i] + (code[i] + 0.5) * w[i]`.
    */
  def reconstruct(codes: Column, model: SqModel): Column = {
    val mn = typedlit(model.mins.toSeq)
    val w = typedlit(model.widths.toSeq)
    transform(codes, (c, i) =>
      element_at(mn, i + 1) + (c.cast("double") + lit(0.5)) * element_at(w, i + 1))
  }

  // EAGER coded index (graft.Tables.materialize at each encode below),
  // same rationale as PqIndex: the coded corpus IS the index; leaving it
  // lazy lets codegen re-encode per candidate inside the serving join
  // (the round-12 140× bug class).

  /** Shared asymmetric-distance scoring + (ad2 asc, vec_id) ranking:
    * exact probe vs bucket-midpoint reconstruction, folded in the
    * bit-exact SqDistExpr element order. The fused [[
    * graft.functions.SqAdcDistExpr]] kernel (round 18) performs the
    * identical per-element recon + fold without materializing the
    * reconstruction array per candidate (the interpreted `transform`
    * lambda dominated the sweep at 10× scale) — distances, and so
    * ranks, are bit-identical to sqDist ∘ [[reconstruct]].
    */
  private def rank(cand: DataFrame, model: SqModel, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    cand.select(col("probe_id"), col("vec_id"),
        graft.functions.VectorOps.sqAdcDist(col("_pv"),
          col("codes"), model.mins, model.widths).as("ad2"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("probe_id").orderBy(col("ad2").asc, col("vec_id"))))
      .filter(col("rk") <= k)
      .select(col("probe_id"), col("vec_id"), col("ad2"),
        col("rk").cast("long").as("rk"))
  }

  /** Exhaustive SQ8 top-k: probes broadcast with their raw vectors;
    * every candidate costs d byte reads + the d-term fold over the
    * reconstruction — the compressed-domain scan at 1/4 the raw I/O.
    */
  def topK(corpus: DataFrame, probes: DataFrame, model: SqModel, k: Int,
           idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // spread (round 18): the coded index inherits the scan's partition
    // count through the checkpoint; an under-split corpus file would
    // serialize the n×p ADC sweep onto one core. Identity at scale.
    val coded = graft.Tables.materialize(graft.Tables.spread(corpus)
      .select(col(idCol).as("vec_id"),
        encode(col(vecCol), model).as("codes")))
    val p = probes.select(col(idCol).as("probe_id"), col(vecCol).as("_pv"))
    rank(coded.join(broadcast(p), col("vec_id") =!= col("probe_id")), model, k)
  }

  /** IVF-SQ8 — FAISS `IndexIVFScalarQuantizer`: the coarse quantizer
    * bounds WHICH vectors are scored (probe-cell equi-join), SQ8
    * bounds the I/O of scoring each one (d-byte codes, never raw
    * floats). Two-broadcast candidate shape as [[PqIndex.topKIvf]]:
    * the exploded probe side carries bare (probe_id, cell) pairs, the
    * probe's raw vector rides a second broadcast attached once per
    * candidate after the cell join.
    */
  def topKIvf(corpus: DataFrame, probes: DataFrame, ivf: IvfIndex.Model,
              model: SqModel, k: Int, nProbe: Int = 4,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val coded = graft.Tables.materialize(graft.Tables.spread(corpus)
      .select(col(idCol).as("vec_id"),
        encode(col(vecCol), model).as("codes"),
        IvfIndex.assignCell(col(vecCol), ivf).as("cell")))
    val pc = probes.select(col(idCol).as("probe_id"),
      explode(IvfIndex.probeCells(col(vecCol), ivf, nProbe)).as("cell"))
    val pv = probes.select(col(idCol).as("probe_id"), col(vecCol).as("_pv"))
    rank(coded.join(broadcast(pc),
        coded("cell") === pc("cell") && col("vec_id") =!= col("probe_id"))
      .select("probe_id", "vec_id", "codes")
      .join(broadcast(pv), "probe_id"), model, k)
  }
}
