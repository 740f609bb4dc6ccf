package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{GenericArrayData, TypeUtils}
import org.apache.spark.sql.graftbridge.GraftExprBridge
import org.apache.spark.sql.types._

/** A group's members as one sorted array, or NULL once the group holds more
  * than `cap` members: the bucket-array idiom of LSH dedup, basket mining
  * and per-gram source sets in one aggregate.
  *
  * Why one aggregate: the same result as a chain — count the group sizes,
  * filter them, join the sizes back to the members, then
  * `sort_array(collect_list(...))` — costs two reads of the member stream
  * (so a caller persists it) and a join. Here count, gate and collect are
  * one pass, and the buffer is bounded: once a group passes `cap` its
  * members are dropped and every later input is ignored, so a whale
  * bucket never holds more than `cap`+1 entries, through partial
  * aggregation, merge and serialization alike.
  *
  * Forms: the list form counts every input row; the set form
  * ([[capped_collect_set]]) counts distinct members. A NULL input counts
  * toward the cap (once in the set form) but is not emitted — what
  * `count(lit(1))` over the rows, or over their distinct rows, counts.
  * The array is sorted as `sort_array` sorts it (ascending; structs field
  * by field). Struct members are compared by their UnsafeRow bytes in the
  * set form.
  */
object CappedCollect {

  /** The aggregation buffer: the kept members (a list, or a set in the
    * distinct form), the NULLs counted, and whether the cap was passed. */
  final class Members(distinct: Boolean) {
    private[functions] var elems: java.util.Collection[Any] =
      if (distinct) new java.util.HashSet[Any] else new java.util.ArrayList[Any]
    var nulls = 0
    def overflowed: Boolean = elems == null

    /** Entries the buffer holds now (0 once overflowed). */
    def held: Int = if (elems == null) 0 else elems.size

    /** Add one member (`v` already an owned copy); past `cap`, drop all. */
    def add(v: Any, cap: Int): Unit = if (elems != null) {
      if (v == null) { if (!distinct || nulls == 0) nulls += 1 }
      else elems.add(v)
      if (elems.size.toLong + nulls > cap) overflow()
    }

    def overflow(): Unit = { elems = null; nulls = 0 }
  }

  case class CappedCollectAgg(child: Expression, cap: Int, distinct: Boolean,
                              mutableAggBufferOffset: Int = 0,
                              inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[Members] {
    require(cap >= 0, s"cap $cap must be non-negative")

    override def children: Seq[Expression] = Seq(child)
    override def nullable: Boolean = true
    override def dataType: DataType = ArrayType(child.dataType, containsNull = false)

    // Members are owned copies: an UnsafeRow for a nested type (so the set
    // form's equality is byte equality whatever row class the input was),
    // the value's own copy otherwise (input values alias Spark's buffers).
    @transient private lazy val ownCopy: Any => Any = child.dataType match {
      case dt @ (_: StructType | _: ArrayType) =>
        val proj = UnsafeProjection.create(Array[DataType](dt))
        v => proj(InternalRow(v)).copy().get(0, dt)
      case _ => InternalRow.copyValue
    }
    @transient private lazy val ordering = TypeUtils.getInterpretedOrdering(child.dataType)
    // serialized buffer: (members: array, or NULL once overflowed; nulls: int)
    @transient private lazy val bufferProjection = UnsafeProjection.create(
      Array[DataType](ArrayType(child.dataType, containsNull = false), IntegerType))

    override def createAggregationBuffer(): Members = new Members(distinct)

    override def update(buf: Members, input: InternalRow): Members = {
      if (!buf.overflowed) {
        val v = child.eval(input)
        buf.add(if (v == null) null else ownCopy(v), cap)
      }
      buf
    }

    override def merge(b1: Members, b2: Members): Members = {
      if (b2.overflowed) b1.overflow()
      else if (!b1.overflowed) {
        var i = 0
        while (i < b2.nulls && !b1.overflowed) { b1.add(null, cap); i += 1 }
        val it = b2.elems.iterator()
        while (it.hasNext && !b1.overflowed) b1.add(it.next(), cap)
      }
      b1
    }

    override def eval(buf: Members): Any =
      if (buf.overflowed) null
      else {
        val out = buf.elems.toArray
        java.util.Arrays.sort(out, ordering)
        new GenericArrayData(out)
      }

    override def serialize(buf: Members): Array[Byte] = {
      val members = if (buf.overflowed) null else new GenericArrayData(buf.elems.toArray)
      bufferProjection(InternalRow(members, buf.nulls)).getBytes
    }

    override def deserialize(bytes: Array[Byte]): Members = {
      val row = new UnsafeRow(2)
      row.pointTo(bytes, bytes.length)
      val buf = new Members(distinct)
      if (row.isNullAt(0)) buf.overflow()
      else {
        buf.nulls = row.getInt(1)
        // the bytes belong to this buffer alone, so members may point into them
        row.getArray(0).foreach(child.dataType, (_, v) => buf.elems.add(v))
      }
      buf
    }

    override def withNewMutableAggBufferOffset(o: Int): CappedCollectAgg =
      copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): CappedCollectAgg =
      copy(inputAggBufferOffset = o)
    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): CappedCollectAgg =
      copy(child = newChildren(0))
    override def prettyName: String =
      if (distinct) "capped_collect_set" else "capped_collect_list"
  }

  /** Column surface: `groupBy(g).agg(capped_collect_list(member, cap))` —
    * the group's members sorted, or NULL when it has more than `cap` rows. */
  def capped_collect_list(member: Column, cap: Int): Column = agg(member, cap, distinct = false)

  /** The distinct form: the group's distinct members sorted, or NULL when
    * it has more than `cap` distinct members. */
  def capped_collect_set(member: Column, cap: Int): Column = agg(member, cap, distinct = true)

  private def agg(member: Column, cap: Int, distinct: Boolean): Column =
    GraftExprBridge.column(
      CappedCollectAgg(GraftExprBridge.expression(member), cap, distinct)
        .toAggregateExpression())
}
