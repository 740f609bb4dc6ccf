package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.graftbridge.GraftExprBridge
import org.apache.spark.sql.types._

/** Bounded top-k as a native aggregate (TypedImperativeAggregate):
  * per-group top `k` (id, score) pairs by (score desc, id asc).
  *
  * Why not a window: `row_number() OVER (PARTITION BY g ORDER BY s)` must
  * shuffle and sort EVERY candidate row. This aggregate keeps a k-element
  * binary heap per group and aggregates PARTIALLY — each map task emits at
  * most k entries per group into the exchange, so a 100 TB candidate stream
  * reduces to |groups|×k rows of shuffle. The classic ANN reduction.
  *
  * Output: array<struct<neighbor_id:long, cos:double>> sorted best-first.
  */
object TopKAgg {

  /** Mutable bounded heap: root = worst kept element ("worse" =
    * lower score, then higher id), so insertion when full is a single
    * root-replace + sift-down. With `withPayload` each entry carries a
    * payload array alongside ([[TopKPayloadAgg]]); without, `payloads` is
    * null and stays untouched. */
  abstract class BoundedHeap(val k: Int, withPayload: Boolean) {
    val scores = new Array[Double](k)
    val ids = new Array[Long](k)
    val payloads: Array[Array[Long]] = if (withPayload) new Array(k) else null
    var size = 0

    @inline private def worse(s1: Double, i1: Long, s2: Double, i2: Long): Boolean =
      s1 < s2 || (s1 == s2 && i1 > i2)

    @inline private def put(i: Int, score: Double, id: Long, payload: Array[Long]): Unit = {
      scores(i) = score; ids(i) = id
      if (withPayload) payloads(i) = payload
    }

    protected def insertEntry(score: Double, id: Long, payload: Array[Long]): Unit = {
      if (size < k) {
        var i = size
        put(i, score, id, payload); size += 1
        // sift up (heap ordered by worseness: parent worse than children)
        while (i > 0) {
          val p = (i - 1) / 2
          if (worse(scores(i), ids(i), scores(p), ids(p))) {
            swap(i, p); i = p
          } else return
        }
      } else if (k > 0 && worse(scores(0), ids(0), score, id)) {
        put(0, score, id, payload)
        siftDown(0)
      }
    }

    private def swap(a: Int, b: Int): Unit = {
      val ts = scores(a); scores(a) = scores(b); scores(b) = ts
      val ti = ids(a); ids(a) = ids(b); ids(b) = ti
      if (withPayload) { val tp = payloads(a); payloads(a) = payloads(b); payloads(b) = tp }
    }

    private def siftDown(i0: Int): Unit = {
      var i = i0
      while (true) {
        val l = 2 * i + 1; val r = 2 * i + 2
        var w = i
        if (l < size && worse(scores(l), ids(l), scores(w), ids(w))) w = l
        if (r < size && worse(scores(r), ids(r), scores(w), ids(w))) w = r
        if (w == i) return
        swap(i, w); i = w
      }
    }

    /** Entry slots best-first: (score desc, id asc). */
    protected def bestFirst: Array[Int] =
      (0 until size).toArray.sortBy(i => (-scores(i), ids(i)))
  }

  /** The heap of (score, id) entries. */
  final class Heap(k: Int) extends BoundedHeap(k, withPayload = false) {
    def insert(score: Double, id: Long): Unit = insertEntry(score, id, null)

    /** Entries sorted best-first: (score desc, id asc). */
    def sorted: Array[(Long, Double)] = bestFirst.map(i => (ids(i), scores(i)))
  }

  private val elementType = StructType(Seq(
    StructField("neighbor_id", LongType, nullable = false),
    StructField("cos", DoubleType, nullable = false)))

  case class TopKByScore(score: Expression, id: Expression, k: Int,
                         mutableAggBufferOffset: Int = 0,
                         inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[Heap] {

    override def children: Seq[Expression] = Seq(score, id)
    override def nullable: Boolean = false
    override def dataType: DataType = ArrayType(elementType, containsNull = false)

    override def createAggregationBuffer(): Heap = new Heap(k)

    override def update(buf: Heap, input: InternalRow): Heap = {
      val s = score.eval(input)
      val i = id.eval(input)
      if (s != null && i != null)
        buf.insert(s.asInstanceOf[Double], i.asInstanceOf[Long])
      buf
    }

    override def merge(b1: Heap, b2: Heap): Heap = {
      var i = 0
      while (i < b2.size) { b1.insert(b2.scores(i), b2.ids(i)); i += 1 }
      b1
    }

    override def eval(buf: Heap): Any =
      new GenericArrayData(buf.sorted.map { case (id, s) =>
        new GenericInternalRow(Array[Any](id, s))
      })

    override def serialize(buf: Heap): Array[Byte] = {
      val bb = ByteBuffer.allocate(4 + buf.size * 16)
      bb.putInt(buf.size)
      var i = 0
      while (i < buf.size) { bb.putDouble(buf.scores(i)); bb.putLong(buf.ids(i)); i += 1 }
      bb.array()
    }

    override def deserialize(bytes: Array[Byte]): Heap = {
      val bb = ByteBuffer.wrap(bytes)
      val n = bb.getInt
      val h = new Heap(k)
      var i = 0
      while (i < n) { h.insert(bb.getDouble, bb.getLong); i += 1 }
      h
    }

    override def withNewMutableAggBufferOffset(o: Int): TopKByScore =
      copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): TopKByScore =
      copy(inputAggBufferOffset = o)
    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): TopKByScore =
      copy(score = newChildren(0), id = newChildren(1))
    override def prettyName: String = "topk_by_score"
  }

  /** Column surface: `groupBy(g).agg(topk_by_score(score, id, k))`. */
  def topk_by_score(score: Column, id: Column, k: Int): Column =
    GraftExprBridge.column(
      TopKByScore(GraftExprBridge.expression(score),
        GraftExprBridge.expression(id), k).toAggregateExpression())
}
