package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftShim
import org.apache.spark.sql.types._

/** Codegen'd sorted-merge intersection count with threshold early-abort
  * — the verification kernel of the exact set-overlap dedup family
  * (SURVEY §2 C3/C28).
  *
  * Contract: `left` and `right` are long arrays sorted ASCENDING with
  * distinct non-null elements (what `array_sort(array_distinct(...))`
  * over hash shingles produces); `need` is the overlap the caller's
  * threshold requires. The merge walks both arrays once and ABORTS as
  * soon as `count + min(remaining_a, remaining_b) < need` — the true
  * intersection provably cannot reach the threshold, so the caller's
  * `result >= need` filter is exact while below-threshold pairs (the
  * overwhelming majority on a dense candidate set) cost only the few
  * steps it takes to prove they lose.
  *
  * vs the built-in `array_intersect`: that materializes a per-row hash
  * set and the intersection ARRAY just to take its size — allocation
  * per candidate pair, no early exit. On 12M verify pairs that is the
  * difference between an allocation-bound stage and a branch-predicted
  * merge loop over primitive longs.
  */
case class SortedIntersectCountExpr(first: Expression, second: Expression,
                                    third: Expression)
    extends TernaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean =
    first.nullable || second.nullable || third.nullable
  override def prettyName: String = "sorted_intersect_count"

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _), LongType) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b, c) => TypeCheckResult.TypeCheckFailure(
        s"sorted_intersect_count requires (array<long>, array<long>, long), got $a / $b / $c")
    }

  override protected def nullSafeEval(l: Any, r: Any, t: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val need = t.asInstanceOf[Long]
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var cnt = 0L
    while (i < na && j < nb &&
           cnt + math.min(na - i, nb - j) >= need) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { cnt += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    cnt
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, t) => {
      val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val cnt = ctx.freshName("cnt")
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      s"""
         |int $na = $a.numElements();
         |int $nb = $b.numElements();
         |int $i = 0; int $j = 0; long $cnt = 0L;
         |while ($i < $na && $j < $nb &&
         |       $cnt + java.lang.Math.min($na - $i, $nb - $j) >= $t) {
         |  long $x = $a.getLong($i);
         |  long $y = $b.getLong($j);
         |  if ($x == $y) { $cnt++; $i++; $j++; }
         |  else if ($x < $y) { $i++; } else { $j++; }
         |}
         |${ev.value} = $cnt;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): SortedIntersectCountExpr =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** Codegen'd positional-agreement count with threshold early-abort —
  * the MinHash signature-estimate kernel (round 17, optimization).
  *
  * Contract: `left` and `right` are long arrays of equal length (the
  * 128-long MinHash signatures); `need` is the agreement count the
  * caller's `est >= threshold` filter requires. Replaces the
  * declarative `aggregate(zip_with(a, b, (x,y) -> if(x=y,1,0)), ...)`
  * pair, which allocates the zipped intermediate array and runs two
  * lambda interpreters per candidate pair — on the ~10⁵-10⁶ candidate
  * pairs a low-entropy band join emits, that is the dominant estimate
  * cost. The merge aborts once `cnt + remaining < need` (the pair
  * provably fails the threshold), so the count is exact whenever the
  * filter can keep the row.
  */
case class SigAgreeCountExpr(first: Expression, second: Expression,
                             third: Expression)
    extends TernaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean =
    first.nullable || second.nullable || third.nullable
  override def prettyName: String = "sig_agree_count"

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _), LongType) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b, c) => TypeCheckResult.TypeCheckFailure(
        s"sig_agree_count requires (array<long>, array<long>, long), got $a / $b / $c")
    }

  override protected def nullSafeEval(l: Any, r: Any, t: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val need = t.asInstanceOf[Long]
    val n = math.min(a.numElements(), b.numElements())
    var i = 0; var cnt = 0L
    while (i < n && cnt + (n - i) >= need) {
      if (a.getLong(i) == b.getLong(i)) cnt += 1
      i += 1
    }
    cnt
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, t) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val cnt = ctx.freshName("cnt")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |int $i = 0; long $cnt = 0L;
         |while ($i < $n && $cnt + ($n - $i) >= $t) {
         |  if ($a.getLong($i) == $b.getLong($i)) { $cnt++; }
         |  $i++;
         |}
         |${ev.value} = $cnt;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): SigAgreeCountExpr =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** Codegen'd dense-vocabulary bitset build (round 18, optimization) —
  * maps a sorted distinct long-hash set onto a fixed CORPUS VOCABULARY
  * (the sorted distinct grams of the whole corpus, captured as a
  * bounded driver-side array) and returns the membership bitset as
  * packed long words. Exact: bit j is set iff vocab(j) ∈ set; grams
  * outside the vocabulary cannot exist by construction (the vocabulary
  * IS the corpus's distinct-gram relation).
  *
  * Why: in the CLOSED-VOCABULARY regime the all-pairs sweep verifies
  * ~n²/2 candidate pairs, each with an O(|A|+|B|) sorted-merge. When
  * the vocabulary is small (|V|/64 words ≤ the average set size), the
  * same intersection count is Σ popcount(a&b) over |V|/64 words —
  * branch-free, allocation-free, and the broadcast side shrinks from
  * |A| longs to |V|/64 words per doc.
  */
case class BitmapFromSortedExpr(child: Expression, vocab: Array[Long])
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "vocab_bitmap"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"vocab_bitmap requires array<long>, got $other")
  }

  override protected def nullSafeEval(input: Any): Any =
    SetOps.bitmapOf(input.asInstanceOf[ArrayData], vocab)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val vocabRef = ctx.addReferenceObj("vocab", vocab, "long[]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.SetOps.bitmapOf($c, $vocabRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): BitmapFromSortedExpr =
    copy(child = newChild)

  // A case class compares Array fields by reference, so two equal
  // vocabularies would defeat semanticEquals/CSE: compare by content.
  override def equals(other: Any): Boolean = other match {
    case o: BitmapFromSortedExpr =>
      child == o.child && java.util.Arrays.equals(vocab, o.vocab)
    case _ => false
  }

  private lazy val vocabHash = java.util.Arrays.hashCode(vocab)
  override def hashCode(): Int = 31 * child.hashCode() + vocabHash
}

/** Codegen'd popcount-of-AND intersection count over two packed-long
  * bitsets, with the same threshold early-abort contract as
  * [[SortedIntersectCountExpr]]: the result is exact whenever it is
  * >= `need`; the loop aborts (provably < `need`) once even 64 set
  * bits per remaining word could not reach the threshold.
  */
case class BitmapAndCountExpr(first: Expression, second: Expression,
                              third: Expression)
    extends TernaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean =
    first.nullable || second.nullable || third.nullable
  override def prettyName: String = "bitmap_and_count"

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _), LongType) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b, c) => TypeCheckResult.TypeCheckFailure(
        s"bitmap_and_count requires (array<long>, array<long>, long), got $a / $b / $c")
    }

  override protected def nullSafeEval(l: Any, r: Any, t: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val need = t.asInstanceOf[Long]
    val nw = math.min(a.numElements(), b.numElements())
    var i = 0; var cnt = 0L
    while (i < nw && cnt + ((nw - i).toLong << 6) >= need) {
      cnt += java.lang.Long.bitCount(a.getLong(i) & b.getLong(i))
      i += 1
    }
    cnt
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, t) => {
      val nw = ctx.freshName("nw")
      val i = ctx.freshName("i")
      val cnt = ctx.freshName("cnt")
      s"""
         |int $nw = java.lang.Math.min($a.numElements(), $b.numElements());
         |int $i = 0; long $cnt = 0L;
         |while ($i < $nw && $cnt + (((long) ($nw - $i)) << 6) >= $t) {
         |  $cnt += java.lang.Long.bitCount($a.getLong($i) & $b.getLong($i));
         |  $i++;
         |}
         |${ev.value} = $cnt;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): BitmapAndCountExpr =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object SetOps {
  /** |A∩B| for sorted distinct long arrays, exact whenever the result
    * is >= `need`, early-aborted (still provably < `need`) otherwise.
    */
  def sortedIntersectCount(a: Column, b: Column, need: Column): Column =
    graftShim.column(SortedIntersectCountExpr(
      graftShim.expression(a), graftShim.expression(b),
      graftShim.expression(need)))

  /** Runtime kernel of [[BitmapFromSortedExpr]]: membership bitset of
    * a sorted distinct long array against a sorted vocabulary.
    */
  def bitmapOf(a: ArrayData, vocab: Array[Long]): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val nWords = (vocab.length + 63) >>> 6
    val words = new Array[Long](nWords)
    val n = a.numElements()
    var i = 0
    while (i < n) {
      val j = java.util.Arrays.binarySearch(vocab, a.getLong(i))
      if (j >= 0) words(j >>> 6) |= 1L << (j & 63)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(words)
  }

  /** Packed-long membership bitset of a sorted long set against the
    * (sorted, bounded) corpus vocabulary.
    */
  def vocabBitmap(a: Column, vocab: Array[Long]): Column =
    graftShim.column(BitmapFromSortedExpr(graftShim.expression(a), vocab))

  /** Σ popcount(a&b) over two packed bitsets, exact whenever the
    * result is >= `need`, early-aborted (still provably < `need`)
    * otherwise.
    */
  def bitmapAndCount(a: Column, b: Column, need: Column): Column =
    graftShim.column(BitmapAndCountExpr(
      graftShim.expression(a), graftShim.expression(b),
      graftShim.expression(need)))

  /** Count of positions where two equal-length long arrays agree,
    * exact whenever the result is >= `need`, early-aborted (still
    * provably < `need`) otherwise.
    */
  def sigAgreeCount(a: Column, b: Column, need: Column): Column =
    graftShim.column(SigAgreeCountExpr(
      graftShim.expression(a), graftShim.expression(b),
      graftShim.expression(need)))
}
