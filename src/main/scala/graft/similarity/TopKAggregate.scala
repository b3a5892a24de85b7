package graft.similarity

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded top-k selection as a PARTIAL-AGGREGATABLE native aggregate — the
  * scale-correct replacement for the `row_number() OVER (PARTITION BY g
  * ORDER BY ord, tie) <= k` idiom on quadratic candidate streams.
  *
  * The window form must EXCHANGE the full candidate stream on `g` and sort
  * every partition to keep k rows per group (at sf10 the seed-quality /
  * hard-negative / IVF streams are ~1B rows ≈ 26 GB shuffled for a top-3
  * answer). This aggregate keeps O(k) state per group, combines map-side
  * inside the candidate-producing task (typically a broadcast-join stage),
  * and ships only groups × k rows through the exchange — the shape that
  * still works when the candidate stream is 1000× bigger.
  *
  * Semantics: input is a struct whose field 0 is the ordering value
  * (DOUBLE), field 1 the deterministic tiebreak (LONG, always ascending);
  * remaining fields are payload. `eval` returns the k best input structs
  * sorted best-first — element i is exactly the row `row_number() = i+1`
  * would keep under ORDER BY (field0 desc|asc, field1 asc). Double order
  * matches Spark's SQL ordering (SQLOrderingUtil: NaN greatest,
  * -0.0 == 0.0). Null structs and null ord/tie fields are skipped (the
  * window idiom never produces them in this codebase).
  *
  * Memory: the in-flight hash state is O(groups-in-task × k); raise
  * `spark.sql.objectHashAggregate.sortBased.fallbackThreshold` (default
  * 128 groups) so wide tasks stay in hash mode — [[graft.GraftSession]]
  * sets it; the sort-based fallback is correct, just slower.
  */
final case class TopKByAgg(
    child: Expression,
    k: Int,
    ascending: Boolean,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKByAgg.Buffer] with UnaryLike[Expression] {

  require(k >= 1, s"k must be >= 1, got $k")

  private def structType: StructType = child.dataType.asInstanceOf[StructType]

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case s: StructType if s.length >= 2 &&
          s(0).dataType == DoubleType && s(1).dataType == LongType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"topk_by needs struct<ord: double, tie: bigint, ...>, got $other")
    }

  override def dataType: DataType = ArrayType(structType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "topk_by"

  override def createAggregationBuffer(): TopKByAgg.Buffer =
    new TopKByAgg.Buffer(k, ascending)

  override def update(buffer: TopKByAgg.Buffer, input: InternalRow): TopKByAgg.Buffer = {
    val v = child.eval(input)
    if (v != null) {
      val row = v.asInstanceOf[InternalRow]
      if (!row.isNullAt(0) && !row.isNullAt(1))
        buffer.insert(row.getDouble(0), row.getLong(1), row)
    }
    buffer
  }

  override def merge(buffer: TopKByAgg.Buffer, other: TopKByAgg.Buffer): TopKByAgg.Buffer = {
    var i = 0
    while (i < other.n) {
      buffer.insert(other.ords(i), other.ties(i), other.rows(i))
      i += 1
    }
    buffer
  }

  override def eval(buffer: TopKByAgg.Buffer): Any =
    new GenericArrayData(buffer.sortedRows.asInstanceOf[Array[Any]])

  @transient private lazy val proj = UnsafeProjection.create(structType)

  override def serialize(buffer: TopKByAgg.Buffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buffer.n)
    var i = 0
    while (i < buffer.n) {
      out.writeDouble(buffer.ords(i))
      out.writeLong(buffer.ties(i))
      val u = buffer.rows(i) match {
        case u: UnsafeRow => u
        case r => proj(r)
      }
      out.writeInt(u.getSizeInBytes)
      out.write(u.getBytes)
      i += 1
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): TopKByAgg.Buffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = new TopKByAgg.Buffer(k, ascending)
    val n = in.readInt()
    val fields = structType.length
    var i = 0
    while (i < n) {
      val ord = in.readDouble()
      val tie = in.readLong()
      val len = in.readInt()
      val rowBytes = new Array[Byte](len)
      in.readFully(rowBytes)
      val row = new UnsafeRow(fields)
      row.pointTo(rowBytes, len)
      buf.insert(ord, tie, row)
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKByAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKByAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): TopKByAgg =
    copy(child = newChild)
}

object TopKByAgg {

  /** Bounded top-k buffer: unsorted size-<=k arrays + worst-entry index.
    * Insert is one comparison against the current worst (O(1) for the
    * overwhelmingly common reject case) and an O(k) worst re-scan on the
    * rare replace — k is 1..~100 while candidate streams are millions.
    */
  final class Buffer(val k: Int, val ascending: Boolean) {
    val ords = new Array[Double](k)
    val ties = new Array[Long](k)
    val rows = new Array[InternalRow](k)
    var n = 0
    private var worstIdx = -1

    // negative when (o1, t1) ranks strictly better than (o2, t2).
    // SQLOrderingUtil is Spark SQL's double ordering (NaN greatest,
    // -0.0 == 0.0) — java.lang.Double.compare would rank -0.0 < 0.0 and
    // diverge from the window idiom this aggregate replaces.
    private def cmp(o1: Double, t1: Long, o2: Double, t2: Long): Int = {
      val c = if (ascending)
        org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles(o1, o2)
      else org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles(o2, o1)
      if (c != 0) c else java.lang.Long.compare(t1, t2)
    }

    private def rescanWorst(): Unit = {
      var w = 0
      var i = 1
      while (i < n) {
        if (cmp(ords(i), ties(i), ords(w), ties(w)) > 0) w = i
        i += 1
      }
      worstIdx = w
    }

    def insert(ord: Double, tie: Long, row: InternalRow): Unit = {
      if (n < k) {
        ords(n) = ord; ties(n) = tie; rows(n) = row.copy()
        n += 1
        if (n == k) rescanWorst()
      } else if (cmp(ord, tie, ords(worstIdx), ties(worstIdx)) < 0) {
        ords(worstIdx) = ord; ties(worstIdx) = tie; rows(worstIdx) = row.copy()
        rescanWorst()
      }
    }

    def sortedRows: Array[InternalRow] = {
      val idx = Array.range(0, n).sortWith((a, b) => cmp(ords(a), ties(a), ords(b), ties(b)) < 0)
      idx.map(rows)
    }
  }

  /** `topKBy(struct(ord, tie, payload...), k)` — array of the k best input
    * structs, best-first; `posexplode` it for `rank = pos + 1` identical to
    * the window row_number idiom.
    */
  def topKBy(input: Column, k: Int, ascending: Boolean = false): Column =
    org.apache.spark.sql.graft.ExpressionBridge.column(
      TopKByAgg(org.apache.spark.sql.graft.ExpressionBridge.expression(input),
        k, ascending).toAggregateExpression())
}
