package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression computing distinct word n-gram shingles in one
  * pass over the document.
  *
  * Replaces the HOF formulation (split + transform(sequence) of concat_ws of
  * element_at + array_distinct): interpreted HOF lambdas re-evaluate the
  * `split` per element access, so a ~60-word document paid ~290 grams x 3
  * element_at x split-of-the-whole-text — measured ~60 ms/doc, which
  * multiplied into minutes whenever a plan evaluated the shingle projection
  * more than once (self-join sides, verify sides). Here it is one tokenize +
  * one LinkedHashSet pass per document, inside whole-stage codegen.
  *
  * Semantics are identical to the HOF version (and to the DuckDB oracle's
  * string_split replication): words are single-space splits with empties
  * kept (split's limit=-1), documents shorter than `n` words contribute
  * their whole text as a single shingle, distinct keeps first-occurrence
  * order.
  */
final case class ShinglesExpr(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, "shingle size must be >= 1")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_shingles"

  override protected def nullSafeEval(input: Any): Any =
    ShinglesExpr.compute(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.text.ShinglesExpr.compute($s, $n)")

  override protected def withNewChildInternal(newChild: Expression): ShinglesExpr =
    copy(child = newChild)
}

object ShinglesExpr {

  def compute(text: UTF8String, n: Int): GenericArrayData = {
    val str = text.toString
    // single-space split keeping empty tokens, trailing included (limit -1)
    val words = new java.util.ArrayList[String]()
    var start = 0
    var i = str.indexOf(' ')
    while (i >= 0) {
      words.add(str.substring(start, i))
      start = i + 1
      i = str.indexOf(' ', start)
    }
    words.add(str.substring(start))
    val m = words.size()
    val out = new java.util.LinkedHashSet[UTF8String]()
    if (m >= n) {
      val sb = new java.lang.StringBuilder()
      var j = 0
      while (j <= m - n) {
        sb.setLength(0)
        var k = 0
        while (k < n) {
          if (k > 0) sb.append(' ')
          sb.append(words.get(j + k))
          k += 1
        }
        out.add(UTF8String.fromString(sb.toString))
        j += 1
      }
    } else {
      out.add(text) // whole text: join of ALL single-space tokens == input
    }
    new GenericArrayData(out.toArray)
  }

  def shingles(text: Column, n: Int): Column =
    org.apache.spark.sql.graft.ExpressionBridge.column(
      ShinglesExpr(org.apache.spark.sql.graft.ExpressionBridge.expression(text), n))
}

/** Native distinct-intersection count over two string arrays PRE-SORTED in
  * Spark's string order (`sort_array` / UTF8String binary comparison) — the
  * verify kernel of every exact-Jaccard and containment pass. A two-pointer
  * merge scan: zero allocation per pair, no hashing, and none of the
  * intersection and union ARRAYS that `size(array_intersect(a, b))`
  * materializes only to take their length (the dominant stage of the sf1
  * PPJoin verify). The sort is paid ONCE per document row on the
  * shingle-table side of the verify join; the merge runs per CANDIDATE
  * PAIR. Skipping null elements keeps the kernel total on any input;
  * correctness requires both inputs sorted (callers sort, nothing checks).
  *
  * It takes a per-pair REQUIRED count and exits early: it returns the exact
  * intersection count when it is >= `needed`, and -1 as soon as the
  * remaining elements cannot reach `needed`
  * (`c + min(remaining_a, remaining_b) < needed`). Verify stages drop
  * sub-threshold pairs anyway — at sf1 ~99.9% of PPJoin candidates fail
  * verify, and most share only their one colliding prefix token, so the
  * bound trips well before the merge finishes. The result is deterministic:
  * exact count iff count >= needed, else -1 (the early exit never fires
  * when the true count reaches `needed`, because the bound it checks is an
  * upper bound on the final count).
  */
final case class SortedIntersectAtLeastExpr(first: Expression, second: Expression,
                                            third: Expression)
  extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def prettyName: String = "sorted_intersect_at_least"

  override protected def nullSafeEval(a: Any, b: Any, n: Any): Any =
    SortedIntersectCountExpr.computeAtLeast(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      n.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, n) =>
      s"graft.text.SortedIntersectCountExpr.computeAtLeast($a, $b, $n)")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): SortedIntersectAtLeastExpr =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object SortedIntersectCountExpr {

  def computeAtLeast(a: org.apache.spark.sql.catalyst.util.ArrayData,
                     b: org.apache.spark.sql.catalyst.util.ArrayData,
                     needed: Int): Int = {
    val n = a.numElements()
    val m = b.numElements()
    var i = 0
    var j = 0
    var c = 0
    while (i < n && j < m) {
      // remaining matches are bounded by the shorter tail; once even a
      // perfect tail cannot reach `needed`, the pair cannot qualify
      if (c + math.min(n - i, m - j) < needed) return -1
      if (a.isNullAt(i)) i += 1
      else if (b.isNullAt(j)) j += 1
      else {
        val cmp = a.getUTF8String(i).compareTo(b.getUTF8String(j))
        if (cmp == 0) { c += 1; i += 1; j += 1 }
        else if (cmp < 0) i += 1
        else j += 1
      }
    }
    if (c >= needed) c else -1
  }

  /** The exact merge count, [[computeAtLeast]]'s reference. */
  def compute(a: org.apache.spark.sql.catalyst.util.ArrayData,
              b: org.apache.spark.sql.catalyst.util.ArrayData): Int = {
    val n = a.numElements()
    val m = b.numElements()
    var i = 0
    var j = 0
    var c = 0
    while (i < n && j < m) {
      if (a.isNullAt(i)) i += 1
      else if (b.isNullAt(j)) j += 1
      else {
        val cmp = a.getUTF8String(i).compareTo(b.getUTF8String(j))
        if (cmp == 0) { c += 1; i += 1; j += 1 }
        else if (cmp < 0) i += 1
        else j += 1
      }
    }
    c
  }

  def sortedIntersectAtLeast(a: Column, b: Column, needed: Column): Column =
    org.apache.spark.sql.graft.ExpressionBridge.column(
      SortedIntersectAtLeastExpr(
        org.apache.spark.sql.graft.ExpressionBridge.expression(a),
        org.apache.spark.sql.graft.ExpressionBridge.expression(b),
        org.apache.spark.sql.graft.ExpressionBridge.expression(needed)))
}
