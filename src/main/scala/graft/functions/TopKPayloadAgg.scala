package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.graftbridge.GraftExprBridge
import org.apache.spark.sql.types._

/** [[TopKAgg]] with a carried payload: per-group top `k`
  * (id, score, payload: array&lt;long&gt;) triples by (score desc, id asc).
  *
  * Why a payload slot: the ANN/MMR reduction keeps the top candidates of a
  * corpus-sized stream in a bounded heap so only |groups|×k rows reach the
  * exchange. When a DOWNSTREAM stage then needs each survivor's vector
  * (MMR's pairwise-similarity step), re-attaching it costs a SECOND
  * map-only corpus scan — the dominant cost at 100 TB. Carrying the
  * quantized vector through the heap makes the whole pipeline one corpus
  * pass: the heap widens by `dim` longs per kept entry (k·dim longs per
  * group buffer — bounded, independent of corpus size), which is the right
  * trade whenever a corpus scan costs more than shipping k·dim longs per
  * group (always, past toy scale).
  *
  * Payloads are copied on insert (`toLongArray`) — the input `ArrayData`
  * aliases Spark's reused unsafe row buffer.
  *
  * Output: array<struct<neighbor_id:long, cos:double, payload:array<long>>>
  * sorted best-first.
  */
object TopKPayloadAgg {

  /** The [[TopKAgg.BoundedHeap]] of (score, id, payload) entries. */
  final class PHeap(k: Int) extends TopKAgg.BoundedHeap(k, withPayload = true) {
    def insert(score: Double, id: Long, payload: Array[Long]): Unit =
      insertEntry(score, id, payload)

    /** Entries sorted best-first: (score desc, id asc). */
    def sorted: Array[(Long, Double, Array[Long])] =
      bestFirst.map(i => (ids(i), scores(i), payloads(i)))
  }

  private val elementType = StructType(Seq(
    StructField("neighbor_id", LongType, nullable = false),
    StructField("cos", DoubleType, nullable = false),
    StructField("payload", ArrayType(LongType, containsNull = false),
      nullable = false)))

  case class TopKByScorePayload(score: Expression, id: Expression,
                                payload: Expression, k: Int,
                                mutableAggBufferOffset: Int = 0,
                                inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[PHeap] {

    override def children: Seq[Expression] = Seq(score, id, payload)
    override def nullable: Boolean = false
    override def dataType: DataType = ArrayType(elementType, containsNull = false)

    override def createAggregationBuffer(): PHeap = new PHeap(k)

    override def update(buf: PHeap, input: InternalRow): PHeap = {
      val s = score.eval(input)
      val i = id.eval(input)
      val p = payload.eval(input)
      if (s != null && i != null && p != null)
        buf.insert(s.asInstanceOf[Double], i.asInstanceOf[Long],
          p.asInstanceOf[ArrayData].toLongArray())
      buf
    }

    override def merge(b1: PHeap, b2: PHeap): PHeap = {
      var i = 0
      while (i < b2.size) {
        b1.insert(b2.scores(i), b2.ids(i), b2.payloads(i)); i += 1
      }
      b1
    }

    override def eval(buf: PHeap): Any =
      new GenericArrayData(buf.sorted.map { case (id, s, p) =>
        new GenericInternalRow(Array[Any](id, s, new GenericArrayData(p)))
      })

    override def serialize(buf: PHeap): Array[Byte] = {
      var bytes = 4
      var i = 0
      while (i < buf.size) { bytes += 16 + 4 + 8 * buf.payloads(i).length; i += 1 }
      val bb = ByteBuffer.allocate(bytes)
      bb.putInt(buf.size)
      i = 0
      while (i < buf.size) {
        bb.putDouble(buf.scores(i)); bb.putLong(buf.ids(i))
        val p = buf.payloads(i)
        bb.putInt(p.length)
        var j = 0
        while (j < p.length) { bb.putLong(p(j)); j += 1 }
        i += 1
      }
      bb.array()
    }

    override def deserialize(bytes: Array[Byte]): PHeap = {
      val bb = ByteBuffer.wrap(bytes)
      val n = bb.getInt
      val h = new PHeap(k)
      var i = 0
      while (i < n) {
        val s = bb.getDouble; val id = bb.getLong
        val len = bb.getInt
        val p = new Array[Long](len)
        var j = 0
        while (j < len) { p(j) = bb.getLong; j += 1 }
        h.insert(s, id, p)
        i += 1
      }
      h
    }

    override def withNewMutableAggBufferOffset(o: Int): TopKByScorePayload =
      copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): TopKByScorePayload =
      copy(inputAggBufferOffset = o)
    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): TopKByScorePayload =
      copy(score = newChildren(0), id = newChildren(1),
        payload = newChildren(2))
    override def prettyName: String = "topk_by_score_payload"
  }

  /** Column surface:
    * `groupBy(g).agg(topk_by_score_payload(score, id, payload, k))`. */
  def topk_by_score_payload(score: Column, id: Column, payload: Column,
                            k: Int): Column =
    GraftExprBridge.column(
      TopKByScorePayload(GraftExprBridge.expression(score),
        GraftExprBridge.expression(id),
        GraftExprBridge.expression(payload), k).toAggregateExpression())
}
