package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{BinaryType, DataType, LongType}

/** Hash-aggregable last-write-wins: the value bytes of the cell with the
  * largest non-null ordering (`max_by(value, ord)` for binary values).
  *
  * It serves single-value LWW: one value per group (snapshot diff, a
  * single-qualifier read), or one column spelled per aggregate in SQL,
  * the shape [[graft.sources.KvIndexRouting]] recognizes. A pivot of N
  * qualifiers does not run N of these: [[LwwPivotAgg]] holds all N slots
  * in one buffer and finds a cell's slot with one lookup, where N
  * conditional `max_by_ts` aggregates evaluate N `CASE WHEN`s per cell
  * and keep N buffers per group.
  *
  * Why not the built-in `max_by`: it is a `DeclarativeAggregate` whose
  * buffer holds the BinaryType value, and `HashAggregateExec` requires
  * mutable fixed-width buffer fields — so a pivot spelled with it plans as
  * SortAggregate, sorting the full cell relation on both sides of the
  * exchange (measured ~2× the pivot cost at sf0.1). A
  * `TypedImperativeAggregate` runs in `ObjectHashAggregateExec`: hash-based
  * partial and final aggregation, no sorts, with the sort-based fallback
  * kicking in (correct, just slower) past
  * `spark.sql.objectHashAggregate.sortBased.fallbackThreshold` distinct
  * keys per partition — size shuffle partitions so the per-task group count
  * stays under it, exactly the spill discipline a 100-TB pivot needs.
  *
  * Winner test: [[MaxByTsAgg.wins]]. Equal-ordering ties — reachable, as
  * two writes of one cell may carry one ts — resolve to the
  * lexicographically-largest value bytes (unsigned compare, null
  * smallest), whatever the partition-merge order.
  */
case class MaxByTsAgg(
    valueExpr: Expression,
    ordExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[MaxByTsAgg.Buf] {

  override def children: Seq[Expression] = Seq(valueExpr, ordExpr)
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (valueExpr.dataType == BinaryType && ordExpr.dataType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"max_by_ts expects (binary, bigint), got " +
          s"(${valueExpr.dataType.simpleString}, ${ordExpr.dataType.simpleString})")
  }
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "max_by_ts"

  override def createAggregationBuffer(): MaxByTsAgg.Buf = new MaxByTsAgg.Buf

  override def update(b: MaxByTsAgg.Buf, input: InternalRow): MaxByTsAgg.Buf = {
    val ord = ordExpr.eval(input)
    if (ord != null) {
      val ts = ord.asInstanceOf[Long]
      if (MaxByTsAgg.canWin(ts, b.set, b.ts)) {
        val v = valueExpr.eval(input).asInstanceOf[Array[Byte]]
        if (MaxByTsAgg.wins(ts, v, b.set, b.ts, b.value)) {
          b.set = true
          b.ts = ts
          // copy: the evaluated bytes may alias reused row memory
          b.value = if (v == null) null else v.clone()
        }
      }
    }
    b
  }

  override def merge(b: MaxByTsAgg.Buf, o: MaxByTsAgg.Buf): MaxByTsAgg.Buf = {
    if (o.set && MaxByTsAgg.wins(o.ts, o.value, b.set, b.ts, b.value)) {
      b.set = true; b.ts = o.ts; b.value = o.value
    }
    b
  }

  override def eval(b: MaxByTsAgg.Buf): Any = if (b.set) b.value else null

  override def serialize(b: MaxByTsAgg.Buf): Array[Byte] = {
    if (!b.set) Array.emptyByteArray
    else {
      val vlen = if (b.value == null) -1 else b.value.length
      val out = ByteBuffer.allocate(12 + math.max(vlen, 0))
      out.putLong(b.ts).putInt(vlen)
      if (vlen > 0) out.put(b.value)
      out.array()
    }
  }

  override def deserialize(bytes: Array[Byte]): MaxByTsAgg.Buf = {
    val b = new MaxByTsAgg.Buf
    if (bytes.nonEmpty) {
      val in = ByteBuffer.wrap(bytes)
      b.set = true
      b.ts = in.getLong()
      val vlen = in.getInt()
      if (vlen < 0) b.value = null
      else { b.value = new Array[Byte](vlen); in.get(b.value) }
    }
    b
  }

  override def withNewMutableAggBufferOffset(o: Int): MaxByTsAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): MaxByTsAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): MaxByTsAgg =
    copy(valueExpr = c(0), ordExpr = c(1))
}

object MaxByTsAgg {
  /** Mutable per-group state: the winning (ts, value) so far. */
  final class Buf {
    var set: Boolean = false
    var ts: Long = Long.MinValue
    var value: Array[Byte] = null
  }

  /** The engine's one last-write-wins rule: does a cell (`ts`, `value`)
    * beat the winner held so far, if `held`? A higher ts wins; on equal ts
    * the lexicographically largest value ([[lexGt]]). A null ts never
    * wins: callers skip such a cell.
    */
  def wins(ts: Long, value: Array[Byte],
      held: Boolean, heldTs: Long, heldValue: Array[Byte]): Boolean =
    !held || ts > heldTs || (ts == heldTs && lexGt(value, heldValue))

  /** False when a cell at `ts` loses whatever its value: checked first, a
    * losing cell's value is never read.
    */
  def canWin(ts: Long, held: Boolean, heldTs: Long): Boolean = !held || ts >= heldTs

  /** Unsigned lexicographic `a > b`; null sorts smallest. The equal-ts
    * tie-break — an arbitrary but total and merge-order-independent order.
    */
  private def lexGt(a: Array[Byte], b: Array[Byte]): Boolean = {
    if (a == null) return false
    if (b == null) return true
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val x = a(i) & 0xff
      val y = b(i) & 0xff
      if (x != y) return x > y
      i += 1
    }
    a.length > b.length
  }

  /** `max_by(value, ord)` for binary values, hash-aggregable. */
  def maxByTs(value: Column, ord: Column): Column =
    bridge.toColumn(MaxByTsAgg(bridge.toExpression(value),
      bridge.toExpression(ord)).toAggregateExpression())
}
