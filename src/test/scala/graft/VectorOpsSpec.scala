package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity

class VectorOpsSpec extends SparkFunSuite {
  import spark.implicits._

  test("codegen dot product is BIT-identical to the HOF fold on real embeddings") {
    val e = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val pairs = e.as("a").join(e.as("b"),
        col("a.vec_id") + 1 === col("b.vec_id"))
      .select(
        Similarity.dot(col("a.embedding"), col("b.embedding")).as("fused"),
        Similarity.dotHof(col("a.embedding"), col("b.embedding")).as("hof"))
      .collect()
    assert(pairs.nonEmpty)
    pairs.foreach { r =>
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)))
    }
  }

  test("null contract matches zip_with padding: mismatch/null-element/null-array") {
    val df = Seq(
      (Some(Seq(1.0f, 2.0f)), Some(Seq(3.0f, 4.0f))),   // 11.0
      (Some(Seq(1.0f, 2.0f)), Some(Seq(3.0f))),          // length mismatch -> null
      (None, Some(Seq(1.0f)))                            // null array -> null
    ).toDF("a", "b")
    val got = df.select(Similarity.dot(col("a"), col("b"))).collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(got.toSeq == Seq(Some(11.0), None, None))
    // null element -> null (same as HOF form)
    val withNullElem = spark.sql(
      "SELECT array(CAST(1.0 AS FLOAT), CAST(NULL AS FLOAT)) AS a, " +
        "array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)) AS b")
    assert(withNullElem.select(Similarity.dot(col("a"), col("b")))
      .head().isNullAt(0))
  }

  test("mixed float/double inputs (vector vs hyperplane literal)") {
    val df = Seq(Seq(1.0f, 2.0f)).toDF("v")
    val got = df.select(
      Similarity.dot(col("v"), typedlit(Seq(0.5, 0.25))).as("d")).head().getDouble(0)
    assert(got == 1.0)
  }

  test("sq_dist kernel is BIT-identical to its HOF fold on real embeddings") {
    val cent = Seq.tabulate(64)(i => (i % 7) * 0.125 - 0.375)
    val e = Tables.embeddings(spark, sf).select("embedding")
    val both = e.select(
      graft.functions.VectorOps.sqDist(col("embedding"), typedlit(cent))
        .as("fused"),
      aggregate(zip_with(col("embedding"), typedlit(cent),
        (x, c) => { val dd = x.cast("double") - c; dd * dd }),
        lit(0.0), (acc, v) => acc + v).as("hof"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)))
    }
  }

  test("ANN hot path plans the fused kernels inside whole-stage codegen") {
    // the scale claim is that cell assignment/encode stay codegen'd —
    // guard against a regression back to interpreted HOFs at the plan
    // level: sq_dist must appear inside a WholeStageCodegen subtree
    val m = graft.operators.IvfIndex.train(
      Tables.embeddings(spark, sf), nList = 4)
    val plan = Tables.embeddings(spark, sf)
      .select(graft.operators.IvfIndex.assignCell(col("embedding"), m))
      .queryExecution.executedPlan.toString
    assert(plan.contains("centroid_dists"), "fused kernel missing from the plan")
    // the `*(n)` prefix IS executedPlan.toString's WholeStageCodegen
    // marker — an interpreted fallback would print a bare `Project`
    assert(plan.linesIterator.exists(l =>
      l.trim.matches("""\*\(\d+\) Project .*""")),
      "assignCell's projection fell out of whole-stage codegen")
  }

  test("centroid_dists matrix kernel is BIT-identical to per-centroid sq_dist columns") {
    val m = graft.operators.IvfIndex.train(
      Tables.embeddings(spark, sf), nList = 7) // odd k, not a tidy power
    val matrix = graft.functions.VectorOps
      .centroidDists(col("embedding"), m.centroids)
    val columns = array(m.centroids.map(c =>
      graft.functions.VectorOps.sqDist(col("embedding"), typedlit(c))): _*)
    val bad = Tables.embeddings(spark, sf)
      .select(matrix.as("a"), columns.as("b"))
      .filter(col("a") =!= col("b"))
    assert(bad.count() == 0)
  }

  test("pq_codes / pq_lut kernels are BIT-identical to the slice/sqDist composition") {
    // the round-11 fused encode: decisions (codes) and values (LUT
    // distances) must replay the m×k slice+sqDist expression tree
    // exactly — codes by first-win argmin, LUT by the SqDistExpr fold
    val corpus = Tables.embeddings(spark, sf)
    val model = graft.operators.PqIndex.train(corpus, dim = 64, m = 16, k = 16)
    def composedCodes(vec: org.apache.spark.sql.Column) =
      array(model.subCentroids.zipWithIndex.map { case (cents, j) =>
        val sv = slice(vec, j * model.dSub + 1, model.dSub)
        val dists = array(cents.map(c =>
          graft.functions.VectorOps.sqDist(sv, typedlit(c))): _*)
        (array_position(dists, array_min(dists)) - 1).cast("int")
      }: _*)
    def composedLut(vec: org.apache.spark.sql.Column) =
      array(model.subCentroids.zipWithIndex.map { case (cents, j) =>
        val sv = slice(vec, j * model.dSub + 1, model.dSub)
        array(cents.map(c =>
          graft.functions.VectorOps.sqDist(sv, typedlit(c))): _*)
      }: _*)
    val badCodes = corpus.select(
        graft.operators.PqIndex.encode(col("embedding"), model).as("a"),
        composedCodes(col("embedding")).as("b"))
      .filter(col("a") =!= col("b"))
    assert(badCodes.count() == 0)
    val badLut = corpus.select(
        graft.operators.PqIndex.lut(col("embedding"), model).as("a"),
        composedLut(col("embedding")).as("b"))
      .filter(col("a") =!= col("b"))
    assert(badLut.count() == 0)
    // null/ragged contract: NULL out, not garbage
    import spark.implicits._
    val ragged = Seq(Tuple1(Seq(1.0, 2.0))).toDF("v")
    assert(ragged.select(graft.operators.PqIndex.encode(col("v"), model))
      .head().isNullAt(0))
    assert(ragged.select(graft.operators.PqIndex.lut(col("v"), model))
      .head().isNullAt(0))
  }

  test("centroid_dists survives k past the janino cliff (k=1200) in one plan") {
    // 1200 sq_dist COLUMNS would blow generated-method size; the
    // matrix kernel's code is k-independent — this pins that property
    val dim = 8
    val ctrs: Seq[Seq[Double]] =
      (0 until 1200).map(c => (0 until dim).map(i => (c * 31 + i).toDouble / 7.0))
    import spark.implicits._
    val v = Seq(Tuple1((0 until dim).map(i => i.toDouble))).toDF("v")
    val row = v.select(
        graft.functions.VectorOps.centroidDists(col("v"), ctrs).as("d"))
      .select(size(col("d")).as("n"), element_at(col("d"), 1).as("d0"))
      .head()
    assert(row.getInt(0) == 1200)
    // first centroid = [0/7, 1/7, ...]: distance computed left-to-right
    val exp = (0 until dim).map { i =>
      val dd = i.toDouble - (i.toDouble / 7.0); dd * dd
    }.sum
    assert(row.getDouble(1) == exp)
  }

  private val vecChild = org.apache.spark.sql.catalyst.expressions.Literal.create(
    Seq(1.0, 2.0), org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.DoubleType))
  private def matrix(last: Double) = Array(Array(0.0, 1.0), Array(2.0, last))

  test("centroid_dists: equal centroids in distinct arrays are semanticEquals") {
    import graft.functions.CentroidDistsExpr
    val a = CentroidDistsExpr(vecChild, matrix(3.0))
    val b = CentroidDistsExpr(vecChild, matrix(3.0))
    assert(a.semanticEquals(b) && a.semanticHash() == b.semanticHash())
    assert(!a.semanticEquals(CentroidDistsExpr(vecChild, matrix(4.0))))
  }

  test("pq_codes: equal codebooks in distinct arrays are semanticEquals") {
    import graft.functions.PqCodesExpr
    val a = PqCodesExpr(vecChild, Array(matrix(3.0)))
    val b = PqCodesExpr(vecChild, Array(matrix(3.0)))
    assert(a.semanticEquals(b) && a.semanticHash() == b.semanticHash())
    assert(!a.semanticEquals(PqCodesExpr(vecChild, Array(matrix(4.0)))))
  }

  test("pq_lut: equal codebooks in distinct arrays are semanticEquals") {
    import graft.functions.PqLutExpr
    val a = PqLutExpr(vecChild, Array(matrix(3.0)))
    val b = PqLutExpr(vecChild, Array(matrix(3.0)))
    assert(a.semanticEquals(b) && a.semanticHash() == b.semanticHash())
    assert(!a.semanticEquals(PqLutExpr(vecChild, Array(matrix(4.0)))))
  }
}
