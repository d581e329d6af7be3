package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, LongType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Last-write-wins pivot of a group's cells into one slot per qualifier:
  * slot `i` holds the value bytes of the max-ts cell whose qualifier is
  * `slots(i)`, null where the group has no such cell. The result is an
  * `array<binary>` in slot order; [[LwwSlots.get]] projects it back to
  * columns.
  *
  * It replaces N per-column `max_by_ts(value, CASE WHEN qualifier = c
  * THEN ts END)` aggregates with one: per cell, one qualifier→slot hash
  * probe instead of N interpreted CASE WHENs, and per group one buffer
  * instead of N. Cells with a null qualifier, a qualifier outside
  * `slots` or a null ts are skipped; a null value with a ts competes like
  * any other. The winner per slot is [[MaxByTsAgg.wins]], whatever the
  * merge order.
  * Like [[MaxByTsAgg]] it runs in `ObjectHashAggregateExec`.
  *
  * `slots` must be distinct; [[LwwSlots]] dedupes them.
  */
case class LwwPivotAgg(
    valueExpr: Expression,
    qualifierExpr: Expression,
    tsExpr: Expression,
    slots: Seq[String],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[LwwPivotAgg.Buf] {

  override def children: Seq[Expression] = Seq(valueExpr, qualifierExpr, tsExpr)
  override def checkInputDataTypes(): TypeCheckResult =
    if (valueExpr.dataType == BinaryType && qualifierExpr.dataType == StringType &&
        tsExpr.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "lww_pivot expects (binary, string, bigint), got " +
        Seq(valueExpr, qualifierExpr, tsExpr).map(_.dataType.simpleString)
          .mkString("(", ", ", ")"))
  override def dataType: DataType = ArrayType(BinaryType, containsNull = true)
  override def nullable: Boolean = false
  override def prettyName: String = "lww_pivot"

  @transient private lazy val slotOf: java.util.HashMap[UTF8String, Integer] = {
    val m = new java.util.HashMap[UTF8String, Integer](slots.length * 2)
    slots.zipWithIndex.foreach { case (q, i) => m.put(UTF8String.fromString(q), i) }
    m
  }

  override def createAggregationBuffer(): LwwPivotAgg.Buf =
    new LwwPivotAgg.Buf(slots.length)

  override def update(b: LwwPivotAgg.Buf, input: InternalRow): LwwPivotAgg.Buf = {
    val q = qualifierExpr.eval(input)
    if (q != null) {
      val i = slotOf.get(q)
      if (i != null) {
        val t = tsExpr.eval(input)
        if (t != null) {
          val ts = t.asInstanceOf[Long]
          val s: Int = i
          if (MaxByTsAgg.canWin(ts, b.set(s), b.ts(s))) {
            val v = valueExpr.eval(input).asInstanceOf[Array[Byte]]
            if (MaxByTsAgg.wins(ts, v, b.set(s), b.ts(s), b.values(s))) {
              b.set(s) = true
              b.ts(s) = ts
              // copy: the evaluated bytes may alias reused row memory
              b.values(s) = if (v == null) null else v.clone()
            }
          }
        }
      }
    }
    b
  }

  override def merge(b: LwwPivotAgg.Buf, o: LwwPivotAgg.Buf): LwwPivotAgg.Buf = {
    var s = 0
    while (s < b.set.length) {
      if (o.set(s) && MaxByTsAgg.wins(o.ts(s), o.values(s), b.set(s), b.ts(s), b.values(s))) {
        b.set(s) = true; b.ts(s) = o.ts(s); b.values(s) = o.values(s)
      }
      s += 1
    }
    b
  }

  override def eval(b: LwwPivotAgg.Buf): Any =
    new GenericArrayData(b.values.asInstanceOf[Array[Any]])

  /** Per slot: `int vlen` (-2 unset, -1 null value), then for a set slot
    * `long ts` and `vlen` value bytes.
    */
  override def serialize(b: LwwPivotAgg.Buf): Array[Byte] = {
    var size = 0
    var s = 0
    while (s < b.set.length) {
      size += 4
      if (b.set(s)) size += 8 + (if (b.values(s) == null) 0 else b.values(s).length)
      s += 1
    }
    val out = ByteBuffer.allocate(size)
    s = 0
    while (s < b.set.length) {
      if (!b.set(s)) out.putInt(-2)
      else if (b.values(s) == null) out.putInt(-1).putLong(b.ts(s))
      else out.putInt(b.values(s).length).putLong(b.ts(s)).put(b.values(s))
      s += 1
    }
    out.array()
  }

  override def deserialize(bytes: Array[Byte]): LwwPivotAgg.Buf = {
    val b = new LwwPivotAgg.Buf(slots.length)
    val in = ByteBuffer.wrap(bytes)
    var s = 0
    while (s < slots.length) {
      val vlen = in.getInt()
      if (vlen != -2) {
        b.set(s) = true
        b.ts(s) = in.getLong()
        if (vlen >= 0) { b.values(s) = new Array[Byte](vlen); in.get(b.values(s)) }
      }
      s += 1
    }
    b
  }

  override def withNewMutableAggBufferOffset(o: Int): LwwPivotAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): LwwPivotAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): LwwPivotAgg =
    copy(valueExpr = c(0), qualifierExpr = c(1), tsExpr = c(2))
}

object LwwPivotAgg {
  /** Mutable per-group state: the winning (ts, value) so far, per slot. */
  final class Buf(n: Int) {
    val set = new Array[Boolean](n)
    val ts = new Array[Long](n)
    val values = new Array[Array[Byte]](n)
  }
}

/** [[LwwPivotAgg]] streamed over cells whose equal rowKeys are adjacent
  * in their partition: one (`rowKey`, `_lww`) row per run of equal keys,
  * no exchange. Stateful like a Hive UDTF: each task evaluates its own
  * deserialized copy in partition order, and Spark calls [[terminate]]
  * after the last row (interpreted path only, hence no codegen).
  */
case class LwwAdjacentGroups(rowKey: Expression, value: Expression,
    qualifier: Expression, ts: Expression, slots: Seq[String])
  extends Generator with CodegenFallback {

  override def children: Seq[Expression] = Seq(rowKey, value, qualifier, ts)
  override def checkInputDataTypes(): TypeCheckResult = agg.checkInputDataTypes()
  override def elementSchema: StructType =
    new StructType().add("rowKey", StringType).add("_lww", agg.dataType, nullable = false)
  override def supportCodegen: Boolean = false

  @transient private lazy val agg = LwwPivotAgg(value, qualifier, ts, slots)
  @transient private var key: UTF8String = _
  @transient private var buf: LwwPivotAgg.Buf = _

  override def eval(row: InternalRow): IterableOnce[InternalRow] = {
    val k = rowKey.eval(row).asInstanceOf[UTF8String]
    val done = if (buf != null && k == key) Nil else terminate()
    if (buf == null) {
      key = Option(k).map(_.clone()).orNull // may alias reused row memory
      buf = agg.createAggregationBuffer()
    }
    agg.update(buf, row)
    done
  }

  override def terminate(): IterableOnce[InternalRow] = {
    val out = if (buf == null) Nil else InternalRow(key, agg.eval(buf)) :: Nil
    buf = null
    out
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): LwwAdjacentGroups =
    copy(rowKey = c(0), value = c(1), qualifier = c(2), ts = c(3))
}

/** The one way graft computes a last-write-wins pivot of cells
  * (`value`, `qualifier`, `ts` columns): [[agg]] is a single
  * [[LwwPivotAgg]] over the distinct `qualifiers`, and [[get]] reads one
  * qualifier's value back out of its result. [[LwwSlots.byRowKey]] is the
  * common per-rowKey shape.
  */
final class LwwSlots(qualifiers: Seq[String]) {
  private val slots: IndexedSeq[String] = qualifiers.distinct.toIndexedSeq
  private val index: Map[String, Int] = slots.zipWithIndex.toMap

  def agg: Column = bridge.toColumn(LwwPivotAgg(
    bridge.toExpression(col("value")), bridge.toExpression(col("qualifier")),
    bridge.toExpression(col("ts")), slots).toAggregateExpression())

  /** Qualifier `q`'s winning value (binary, null when absent) from the
    * column holding [[agg]]'s result.
    */
  def get(result: Column, q: String): Column = result.getItem(index(q))
}

object LwwSlots {
  /** `cells` grouped by `rowKey` and pivoted last-write-wins: `rowKey`,
    * then one binary column per `(qualifier, name)` pair, in order —
    * null where the key has no cell of that qualifier. Pairs may repeat a
    * qualifier; it still takes one slot.
    */
  def byRowKey(cells: DataFrame, columns: Seq[(String, String)]): DataFrame =
    pivot(columns)(lww => cells.groupBy(col("rowKey")).agg(lww.agg.as("_lww")))

  /** [[byRowKey]] with no exchange, for `cells` whose equal rowKeys are
    * adjacent in one partition (unchecked: [[LwwAdjacentGroups]]).
    */
  def byAdjacentRowKey(cells: DataFrame, columns: Seq[(String, String)]): DataFrame =
    pivot(columns) { lww =>
      val e = Seq("rowKey", "value", "qualifier", "ts").map(c => bridge.toExpression(col(c)))
      cells.select(bridge.toColumn(LwwAdjacentGroups(e(0), e(1), e(2), e(3), lww.slots)))
    }

  private def pivot(columns: Seq[(String, String)])(slotted: LwwSlots => DataFrame) = {
    val lww = new LwwSlots(columns.map(_._1))
    slotted(lww).select(col("rowKey") +: columns.map { case (q, name) =>
      lww.get(col("_lww"), q).as(name) }: _*)
  }
}
