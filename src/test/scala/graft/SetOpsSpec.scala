package graft

import org.apache.spark.sql.functions._
import graft.functions.SetOps

class SetOpsSpec extends SparkFunSuite {

  import spark.implicits._

  test("merge count equals array_intersect size when need <= true count") {
    val rnd = new scala.util.Random(11)
    val rows = Seq.fill(300) {
      val a = Seq.fill(rnd.nextInt(40) + 1)(rnd.nextInt(60).toLong)
        .distinct.sorted
      val b = Seq.fill(rnd.nextInt(40) + 1)(rnd.nextInt(60).toLong)
        .distinct.sorted
      (a, b)
    }
    val df = rows.toDF("a", "b")
    val out = df.select(
      SetOps.sortedIntersectCount(col("a"), col("b"), lit(0L)).as("cnt"),
      size(array_intersect(col("a"), col("b"))).cast("long").as("ref"))
    assert(out.where(col("cnt") =!= col("ref")).count() == 0)
  }

  test("early abort under-reports only when the threshold is unreachable") {
    val df = Seq(
      (Seq(1L, 2L, 3L, 4L), Seq(3L, 4L, 5L, 6L))   // true count 2
    ).toDF("a", "b")
    def cnt(need: Long): Long = df.select(
      SetOps.sortedIntersectCount(col("a"), col("b"), lit(need))).head().getLong(0)
    assert(cnt(0L) == 2 && cnt(2L) == 2, "exact when reachable")
    val aborted = cnt(4L) // need 4 of max 4 overlap, impossible after first miss
    assert(aborted < 4, "aborted result stays below need")
  }

  test("interpreted eval matches codegen") {
    val df = Seq((Seq(1L, 5L, 9L), Seq(5L, 9L, 11L))).toDF("a", "b")
    val codegen = df.select(SetOps.sortedIntersectCount(
      col("a"), col("b"), lit(0L))).head().getLong(0)
    val interp = graft.functions.SortedIntersectCountExpr(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Seq(1L, 5L, 9L), org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType)),
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Seq(5L, 9L, 11L), org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType)),
      org.apache.spark.sql.catalyst.expressions.Literal(0L))
      .eval(null).asInstanceOf[Long]
    assert(codegen == 2L && interp == 2L)
  }

  test("bitmap verify: vocabBitmap + bitmapAndCount equals the sorted merge") {
    // random sorted distinct sets over a shared closed vocabulary —
    // the regime the dense-bitset verify (round 18) fires in
    val rnd = new scala.util.Random(17)
    val vocab = Seq.fill(500)(rnd.nextLong()).distinct.sorted.toArray
    val rows = Seq.fill(300) {
      val a = Seq.fill(rnd.nextInt(60) + 1)(vocab(rnd.nextInt(vocab.length)))
        .distinct.sorted
      val b = Seq.fill(rnd.nextInt(60) + 1)(vocab(rnd.nextInt(vocab.length)))
        .distinct.sorted
      (a, b)
    }
    val df = rows.toDF("a", "b")
    val out = df.select(
      SetOps.bitmapAndCount(
        SetOps.vocabBitmap(col("a"), vocab),
        SetOps.vocabBitmap(col("b"), vocab), lit(0L)).as("cnt"),
      SetOps.sortedIntersectCount(col("a"), col("b"), lit(0L)).as("ref"))
    assert(out.where(col("cnt") =!= col("ref")).count() == 0)
  }

  test("bitmap verify: early abort under-reports only when need is unreachable") {
    val vocab = (1L to 256L).toArray // 4 words
    val df = Seq((Seq(1L, 2L, 3L, 4L), Seq(3L, 4L, 200L, 201L))).toDF("a", "b")
    def cnt(need: Long): Long = df.select(SetOps.bitmapAndCount(
      SetOps.vocabBitmap(col("a"), vocab),
      SetOps.vocabBitmap(col("b"), vocab), lit(need))).head().getLong(0)
    assert(cnt(0L) == 2 && cnt(2L) == 2, "exact when reachable")
    // need > 64*words is provably unreachable from word 0: abort < need
    assert(cnt(300L) < 300L)
  }

  test("bitmap verify: interpreted eval matches codegen") {
    val vocab = Array(1L, 5L, 9L, 11L)
    val at = org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.LongType)
    def arr(xs: Seq[Long]) =
      org.apache.spark.sql.catalyst.expressions.Literal.create(xs, at)
    val bmA = graft.functions.BitmapFromSortedExpr(arr(Seq(1L, 5L, 9L)), vocab)
      .eval(null)
    val bmB = graft.functions.BitmapFromSortedExpr(arr(Seq(5L, 9L, 11L)), vocab)
      .eval(null)
    val interp = graft.functions.BitmapAndCountExpr(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        bmA, at), org.apache.spark.sql.catalyst.expressions.Literal.create(
        bmB, at), org.apache.spark.sql.catalyst.expressions.Literal(0L))
      .eval(null).asInstanceOf[Long]
    val codegen = Seq((Seq(1L, 5L, 9L), Seq(5L, 9L, 11L))).toDF("a", "b")
      .select(SetOps.bitmapAndCount(
        SetOps.vocabBitmap(col("a"), vocab),
        SetOps.vocabBitmap(col("b"), vocab), lit(0L))).head().getLong(0)
    assert(interp == 2L && codegen == 2L)
  }

  test("bitmap build: equal vocabularies in distinct arrays are semanticEquals") {
    val at = org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.LongType)
    val child = org.apache.spark.sql.catalyst.expressions.Literal.create(
      Seq(1L, 5L), at)
    val a = graft.functions.BitmapFromSortedExpr(child, Array(1L, 5L, 9L))
    val b = graft.functions.BitmapFromSortedExpr(child, Array(1L, 5L, 9L))
    val c = graft.functions.BitmapFromSortedExpr(child, Array(1L, 5L, 11L))
    assert(a.semanticEquals(b) && a.semanticHash() == b.semanticHash())
    assert(!a.semanticEquals(c))
  }
}
