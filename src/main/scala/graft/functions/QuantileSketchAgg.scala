package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Mergeable quantile sketch (KLL-style level compaction, Karnin,
  * Lang & Liberty 2016) — the member that completes the engine's
  * mergeable-sketch family (KMV q38, HLL q47/q49, CMS
  * text_cms_topk/stream_cms, Bloom cur_decontaminate_bloom,
  * Misra-Gries text_freq_items): `quantile_sketch(value, capacity,
  * probes…)` returns the discrete quantile estimates at the probe
  * ranks.
  *
  * Structure: a stack of level buffers; level i items carry weight
  * 2^i. A level reaching `capacity` sorts and COMPACTS — every other
  * item (odd positions, a DETERMINISTIC offset where the paper flips
  * a coin: reproducibility is worth the small systematic bias at the
  * engine's exact-at-test-scale posture) promotes to level i+1 with
  * doubled weight. State is O(capacity · log(n/capacity)) regardless
  * of input size; two sketches merge by level-wise concatenation +
  * re-compaction — the map-side partial IS the sketch, so a 100 TB
  * column aggregates with one exchange of sketch-sized partials,
  * where the exact q14 form sorts whole partitions and q27's GK
  * sketch covers the built-in path.
  *
  * Query semantics: quantile(p) = the smallest value whose cumulative
  * weight reaches `ceil(p · W)` (SQL's discrete quantile). With
  * `capacity ≥ n` no compaction ever fires, every item keeps weight
  * 1 and the answer is the EXACT order statistic — the
  * FreqItems/KMV discipline that lets the DuckDB oracle hash-gate
  * the full sketch machinery at test scale while the approximate
  * path engages beyond it (PropertySpec pins the compacting regime's
  * rank-error bound instead).
  */
case class QuantileSketch(
    valueExpr: Expression,
    capacity: Int,
    probes: Seq[Double],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[QuantileSketch.Buf] with ImplicitCastInputTypes {

  require(capacity >= 2, s"quantile_sketch capacity must be >= 2, got $capacity")

  override def children: Seq[Expression] = Seq(valueExpr)
  override def inputTypes: Seq[org.apache.spark.sql.GraftColumnBridge.AbstractType] =
    Seq(DoubleType)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def createAggregationBuffer(): QuantileSketch.Buf =
    new QuantileSketch.Buf(capacity)

  override def update(buf: QuantileSketch.Buf, input: InternalRow): QuantileSketch.Buf = {
    val v = valueExpr.eval(input)
    if (v != null) buf.add(v.asInstanceOf[Double])
    buf
  }

  override def merge(buf: QuantileSketch.Buf, other: QuantileSketch.Buf): QuantileSketch.Buf = {
    buf.mergeIn(other)
    buf
  }

  override def eval(buf: QuantileSketch.Buf): Any =
    new GenericArrayData(buf.quantiles(probes))

  override def serialize(buf: QuantileSketch.Buf): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    val lv = buf.levelArrays
    out.writeInt(lv.length)
    lv.foreach { arr =>
      out.writeInt(arr.length)
      arr.foreach(out.writeDouble)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): QuantileSketch.Buf = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val nLevels = in.readInt()
    val buf = new QuantileSketch.Buf(capacity)
    var i = 0
    while (i < nLevels) {
      val n = in.readInt()
      val arr = new Array[Double](n)
      var j = 0
      while (j < n) { arr(j) = in.readDouble(); j += 1 }
      buf.loadLevel(i, arr)
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): QuantileSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): QuantileSketch =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): QuantileSketch =
    copy(valueExpr = newChildren(0))
}

object QuantileSketch {
  /** Level-stack sketch state. Level i holds items of weight 2^i. */
  final class Buf(capacity: Int) {
    private val levels =
      scala.collection.mutable.ArrayBuffer(
        scala.collection.mutable.ArrayBuffer.empty[Double])

    def add(v: Double): Unit = {
      levels(0) += v
      if (levels(0).length >= capacity) compact(0)
    }

    /** Sort level i, promote its odd-position items to level i+1
      * (deterministic compaction offset), clear level i; cascade.
      * Odd-length levels (possible after mergeIn/deserialize) retain
      * their last item at level i — standard KLL — so total sketch
      * weight W stays exactly n instead of drifting low. */
    private def compact(i: Int): Unit = {
      val sorted = levels(i).sorted
      levels(i).clear()
      if (i + 1 == levels.length)
        levels += scala.collection.mutable.ArrayBuffer.empty[Double]
      val even = sorted.length - (sorted.length % 2)
      var j = 1
      while (j < even) { levels(i + 1) += sorted(j); j += 2 }
      if (sorted.length % 2 == 1) levels(i) += sorted(sorted.length - 1)
      if (levels(i + 1).length >= capacity) compact(i + 1)
    }

    def mergeIn(other: Buf): Unit = {
      var i = 0
      while (i < other.levels.length) {
        while (levels.length <= i)
          levels += scala.collection.mutable.ArrayBuffer.empty[Double]
        levels(i) ++= other.levels(i)
        i += 1
      }
      // re-establish the capacity invariant bottom-up
      i = 0
      while (i < levels.length) {
        if (levels(i).length >= capacity) compact(i)
        i += 1
      }
    }

    def levelArrays: Array[Array[Double]] = levels.map(_.toArray).toArray

    def loadLevel(i: Int, arr: Array[Double]): Unit = {
      while (levels.length <= i)
        levels += scala.collection.mutable.ArrayBuffer.empty[Double]
      levels(i) ++= arr
    }

    /** Discrete quantiles: for each probe p, the smallest retained
      * value whose cumulative weight ≥ ceil(p·W); weights 2^level. */
    def quantiles(probes: Seq[Double]): Array[Double] = {
      val items = scala.collection.mutable.ArrayBuffer.empty[(Double, Long)]
      var i = 0
      while (i < levels.length) {
        val w = 1L << i
        levels(i).foreach(v => items += ((v, w)))
        i += 1
      }
      if (items.isEmpty) return probes.map(_ => Double.NaN).toArray
      val sorted = items.sortBy(_._1).toArray
      val total = sorted.map(_._2).sum
      probes.map { p =>
        val target = math.max(1L, math.ceil(p * total).toLong)
        var cum = 0L
        var j = 0
        var out = sorted.last._1
        var found = false
        while (j < sorted.length && !found) {
          cum += sorted(j)._2
          if (cum >= target) { out = sorted(j)._1; found = true }
          j += 1
        }
        out
      }.toArray
    }
  }

  /** Column builder: `quantileSketch(value, capacity, probes)`. */
  def quantileSketch(value: Column, capacity: Int, probes: Seq[Double]): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.toColumn(
      QuantileSketch(GraftColumnBridge.toExpression(value), capacity, probes)
        .toAggregateExpression())
  }
}
