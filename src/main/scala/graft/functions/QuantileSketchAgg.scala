package graft.functions

import java.io.{ByteArrayInputStream, DataInputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Mergeable bounded-memory quantile sketch over int64 values — a
  * weighted value histogram with AT MOST `capacity` bins per partial
  * buffer, in the style of the streaming decision-tree histogram of
  * Ben-Haim & Tom-Tov ("A streaming parallel decision tree algorithm",
  * JMLR 2010): values accumulate exact (value → weight) bins until the
  * cap; past it, the narrowest-gap adjacent bins collapse into their
  * truncated weighted mean. Merge = bin-wise weight sum, then the same
  * compaction — the mergeable shape Spark's partial aggregation needs
  * (update on mappers, merge on reducers, bounded state both places).
  *
  * This is the 100 TB twin of the engine's EXACT percentile paths
  * (q83/q94/q166/q171/q193 build full value histograms): those stay
  * exact because their value vocabularies are bounded; this sketch is
  * what survives when the vocabulary ISN'T bounded — constant-size
  * state per group regardless of distinct-value count.
  *
  * Determinism contract (the [[SpaceSavingTopK]] discipline):
  *   - with `capacity` >= the group's distinct-value count NO compaction
  *     ever fires and the sketch IS the exact histogram — quantiles are
  *     exact nearest-rank answers, independent of partitioning and merge
  *     order. The registered gate query (q201) runs in this regime and
  *     is oracle-checked exactly;
  *   - in the capped regime every choice is deterministic GIVEN a merge
  *     tree (gap ties collapse the smaller value; means truncate via
  *     BigInt, never IEEE), and [[graft.QuantileSketchSpec]] pins
  *     empirical rank-error bounds there.
  *
  * Output: nearest-rank-lower quantiles at the fixed permille points
  * [[QuantileSketchAgg.permilles]] — rank = ceil(W·p/1000) in pure
  * integer arithmetic — as `array<bigint>` in that order (empty input →
  * empty array).
  */
case class QuantileSketchAgg(
    child: Expression,
    capacity: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.TreeMap[java.lang.Long, java.lang.Long]]
  with UnaryLike[Expression] {

  require(capacity >= 2, s"graft_quantiles: need capacity >= 2, got $capacity")

  override def prettyName: String = "graft_quantiles"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  private type Buf = java.util.TreeMap[java.lang.Long, java.lang.Long]

  override def createAggregationBuffer(): Buf = new Buf()

  override def update(buf: Buf, input: InternalRow): Buf = {
    val v = child.eval(input)
    if (v != null) {
      buf.merge(v.asInstanceOf[Long], 1L, (a, b) => a + b)
      if (buf.size() > 2 * capacity) compact(buf)
    }
    buf
  }

  override def merge(buf: Buf, other: Buf): Buf = {
    other.forEach { (k, w) => buf.merge(k, w, (a, b) => a + b) }
    if (buf.size() > capacity) compact(buf)
    buf
  }

  /** Collapse narrowest-gap DISJOINT adjacent bin pairs (gap ties at the
    * smaller value) into their truncated weighted mean until the bin
    * count is back under `capacity`. Each round is one sorted sweep —
    * O(m log m), never the O(m²) one-merge-at-a-time scan. Disjointness
    * keeps every surviving gap's width valid for the round, so the
    * selection is well-defined without re-scanning after each merge.
    */
  private def compact(buf: Buf): Unit = {
    while (buf.size() > capacity) {
      val m = buf.size()
      val vals = new Array[Long](m)
      val wts = new Array[Long](m)
      var i = 0
      val it = buf.entrySet().iterator()
      while (it.hasNext) { val e = it.next(); vals(i) = e.getKey; wts(i) = e.getValue; i += 1 }
      // (gap, left index) of every adjacent pair, narrowest first
      val order = Array.range(0, m - 1).sortInPlaceWith { (a, b) =>
        val ga = vals(a + 1) - vals(a); val gb = vals(b + 1) - vals(b)
        if (ga != gb) ga < gb else vals(a) < vals(b)
      }
      val used = new Array[Boolean](m)
      var toDrop = m - capacity
      var j = 0
      while (toDrop > 0 && j < order.length) {
        val l = order(j)
        if (!used(l) && !used(l + 1)) {
          val wl = wts(l); val wr = wts(l + 1)
          val merged = ((BigInt(vals(l)) * wl + BigInt(vals(l + 1)) * wr) / (wl + wr)).toLong
          buf.remove(vals(l)); buf.remove(vals(l + 1))
          buf.merge(merged, wl + wr, (a, b) => a + b)
          used(l) = true; used(l + 1) = true
          toDrop -= 1
        }
        j += 1
      }
      if (toDrop > 0 && j >= order.length && buf.size() == m) return // no progress guard
    }
  }

  override def eval(buf: Buf): Any = {
    if (buf.isEmpty) return new GenericArrayData(Array.empty[Any])
    var total = 0L
    buf.forEach { (_, w) => total += w }
    val out = new Array[Any](QuantileSketchAgg.permilles.length)
    var qi = 0
    while (qi < QuantileSketchAgg.permilles.length) {
      val p = QuantileSketchAgg.permilles(qi)
      val rank = (total * p + 999L) / 1000L // ceil(W·p/1000), >= 1 for p >= 1
      var cum = 0L
      var ans = buf.lastKey().longValue()
      val it = buf.entrySet().iterator()
      var found = false
      while (it.hasNext && !found) {
        val e = it.next()
        cum += e.getValue
        if (cum >= rank) { ans = e.getKey; found = true }
      }
      out(qi) = ans
      qi += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(buf: Buf): Array[Byte] = SketchBytes.written() { out =>
    out.writeInt(buf.size())
    buf.forEach { (v, w) => out.writeLong(v); out.writeLong(w) }
  }

  override def deserialize(bytes: Array[Byte]): Buf = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = new Buf()
    var i = 0
    while (i < n) { buf.put(in.readLong(), in.readLong()); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): QuantileSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): QuantileSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): QuantileSketchAgg =
    copy(child = newChild)
}

object QuantileSketchAgg {
  /** The reported quantile points, in permille (pinned output order). */
  val permilles: Array[Long] = Array(250L, 500L, 750L, 950L, 990L)

  /** SQL-registration builder: `graft_quantiles(value, capacity)` with
    * the [[SpaceSavingTopK.fromExprs]] literal-validation discipline. */
  def fromExprs(exprs: Seq[Expression]): Expression = {
    val args = new SketchArgs("graft_quantiles(value, capacity): capacity must " +
      "be a foldable non-null INT literal >= 2")
    args.arity(exprs, 2)
    // Value child must already be BIGINT (update() reads it as Long):
    // reject at analysis time instead of a runtime ClassCastException
    // when user SQL passes an INT/DOUBLE column (r6 advice).
    if (exprs.head.dataType != org.apache.spark.sql.types.LongType)
      throw new IllegalArgumentException(
        "graft_quantiles(value, capacity): value must be BIGINT " +
          s"(cast explicitly), got ${exprs.head.dataType.simpleString}")
    QuantileSketchAgg(exprs.head, args.intLit(exprs(1), "capacity", _ >= 2))
      .toAggregateExpression()
  }
}
