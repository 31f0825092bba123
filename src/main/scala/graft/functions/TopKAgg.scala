package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded-heap top-k aggregate: `top_k_ids(score, id, k)` returns the
  * ids of the k largest (score, id) pairs, ordered descending
  * (id ascending on score ties).
  *
  * This is the scale-path alternative to
  * `row_number().over(Window.partitionBy(...).orderBy(score))`:
  * the window form fully sorts every partition's rows; this aggregate
  * keeps an O(k) heap per group, combines partially map-side, and
  * merges heaps at the reducer — no sort of the full data anywhere.
  * (`TypedImperativeAggregate`, the Catalyst mechanism built-in
  * sketches like HLL use.)
  */
case class TopKIds(
    scoreExpr: Expression,
    idExpr: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKIds.Buf] {

  override def children: Seq[Expression] = Seq(scoreExpr, idExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def createAggregationBuffer(): TopKIds.Buf = new TopKIds.Buf(k)

  override def update(buf: TopKIds.Buf, input: InternalRow): TopKIds.Buf = {
    val s = scoreExpr.eval(input)
    val i = idExpr.eval(input)
    if (s != null && i != null) {
      buf.add(s.asInstanceOf[Double], i.asInstanceOf[Long])
    }
    buf
  }

  override def merge(buf: TopKIds.Buf, other: TopKIds.Buf): TopKIds.Buf = {
    other.foreach(buf.add)
    buf
  }

  override def eval(buf: TopKIds.Buf): Any = {
    // descending score, ascending id on ties
    val sorted = buf.toArray.sortBy { case (s, i) => (-s, i) }
    new GenericArrayData(sorted.map(_._2))
  }

  override def serialize(buf: TopKIds.Buf): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    val arr = buf.toArray
    out.writeInt(arr.length)
    arr.foreach { case (s, i) => out.writeDouble(s); out.writeLong(i) }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): TopKIds.Buf = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = new TopKIds.Buf(k)
    var j = 0
    while (j < n) { buf.add(in.readDouble(), in.readLong()); j += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKIds =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKIds =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKIds =
    copy(scoreExpr = newChildren(0), idExpr = newChildren(1))
}

object TopKIds {
  /** Bounded min-heap of (score, id) keeping the k LARGEST entries;
    * ties resolved toward smaller ids (a larger id with equal score
    * does not evict a smaller one).
    */
  final class Buf(k: Int) {
    private val scores = new Array[Double](k)
    private val ids = new Array[Long](k)
    private var n = 0

    // min-heap ordering: entry a is "less" (= first to evict) if its
    // score is lower, or equal-scored with a LARGER id.
    private def less(s1: Double, i1: Long, s2: Double, i2: Long): Boolean =
      s1 < s2 || (s1 == s2 && i1 > i2)

    private def swap(a: Int, b: Int): Unit = {
      val ts = scores(a); scores(a) = scores(b); scores(b) = ts
      val ti = ids(a); ids(a) = ids(b); ids(b) = ti
    }

    private def siftUp(start: Int): Unit = {
      var c = start
      while (c > 0 && less(scores(c), ids(c), scores((c - 1) / 2), ids((c - 1) / 2))) {
        swap(c, (c - 1) / 2); c = (c - 1) / 2
      }
    }

    private def siftDown(): Unit = {
      var p = 0
      var done = false
      while (!done) {
        val l = 2 * p + 1; val r = 2 * p + 2
        var m = p
        if (l < n && less(scores(l), ids(l), scores(m), ids(m))) m = l
        if (r < n && less(scores(r), ids(r), scores(m), ids(m))) m = r
        if (m == p) done = true else { swap(p, m); p = m }
      }
    }

    def add(s: Double, i: Long): Unit =
      if (n < k) {
        scores(n) = s; ids(n) = i; n += 1; siftUp(n - 1)
      } else if (less(scores(0), ids(0), s, i)) {
        scores(0) = s; ids(0) = i; siftDown()
      }

    def add(e: (Double, Long)): Unit = add(e._1, e._2)

    def foreach(f: ((Double, Long)) => Unit): Unit = {
      var j = 0
      while (j < n) { f((scores(j), ids(j))); j += 1 }
    }

    def toArray: Array[(Double, Long)] = {
      val out = new Array[(Double, Long)](n)
      var j = 0
      while (j < n) { out(j) = (scores(j), ids(j)); j += 1 }
      out
    }
  }

  /** Column builder: `topKIds(score, id, k)`. */
  def topKIds(score: Column, id: Column, k: Int): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.toColumn(
      TopKIds(GraftColumnBridge.toExpression(score),
        GraftColumnBridge.toExpression(id), k).toAggregateExpression())
  }
}
