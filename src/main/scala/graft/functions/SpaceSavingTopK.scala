package graft.functions

import java.io.{ByteArrayInputStream, DataInputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Approximate top-k heavy hitters with a BOUNDED buffer — the
  * SpaceSaving sketch (Metwally et al., "Efficient computation of
  * frequent and top-k elements in data streams", ICDT 2005) as a native
  * `TypedImperativeAggregate`.
  *
  * This is the 100 TB twin of the exact [[TopKTokens]]: the exact
  * aggregate's buffer grows with the per-group vocabulary (fine for a
  * bounded test corpus, unbounded for a web-scale one), while
  * SpaceSaving holds AT MOST `capacity` counters per partial buffer and
  * still guarantees, per buffer:
  *
  *   - overestimate only:  true(x) <= est(x) <= true(x) + err(x)
  *   - bounded error:      err(x) <= N / capacity   (N = values seen)
  *   - guaranteed capture: any x with true(x) > N / capacity is present.
  *
  * Counter maintenance is the classic scheme: a present key increments;
  * a new key takes a free slot, else evicts the minimum-count entry and
  * inherits its count as error. Partial buffers merge by summing common
  * keys; a key absent from one side is charged that side's minimum count
  * (its proven upper bound there — the mergeable-summaries construction,
  * Agarwal et al., PODS 2012), then the union is trimmed back to
  * `capacity`. All choices (eviction, trim, output order) tie-break on
  * (count, then binary value order), so results are deterministic and
  * engine-portable.
  *
  * With `capacity` >= the group's distinct-value count no eviction ever
  * fires and the sketch IS the exact aggregate — which is how the
  * registered gate query (q69) is oracle-checked exactly, while
  * [[graft.SpaceSavingSpec]] exercises the capped regime.
  *
  * Output: top-k "value:count" strings, count desc, value asc — the same
  * contract as [[TopKTokens]].
  */
case class SpaceSavingTopK(
    child: Expression,
    k: Int,
    capacity: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.HashMap[UTF8String, Array[Long]]]
  with UnaryLike[Expression] {

  require(k > 0 && capacity >= k,
    s"graft_top_k_spacesaving: need k > 0 and capacity >= k, got k=$k capacity=$capacity")

  override def prettyName: String = "graft_top_k_spacesaving"
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false

  // buffer value: Array(count, error)
  private type Buf = java.util.HashMap[UTF8String, Array[Long]]

  override def createAggregationBuffer(): Buf = new Buf()

  /** Deterministic minimum entry: smallest count, ties by LARGEST binary
    * value (so ties evict the lexicographically last key — keeps the
    * retained set closed under the output's value-asc preference). */
  private def minEntry(buf: Buf): (UTF8String, Array[Long]) = {
    var mk: UTF8String = null
    var mv: Array[Long] = null
    val it = buf.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (mk == null || e.getValue()(0) < mv(0) ||
          (e.getValue()(0) == mv(0) && e.getKey.compareTo(mk) > 0)) {
        mk = e.getKey; mv = e.getValue
      }
    }
    (mk, mv)
  }

  override def update(buf: Buf, input: InternalRow): Buf = {
    val v = child.eval(input)
    if (v != null) {
      val key = v.asInstanceOf[UTF8String]
      val cur = buf.get(key)
      if (cur != null) cur(0) += 1L
      else if (buf.size() < capacity) buf.put(key.clone(), Array(1L, 0L))
      else {
        // evict the min counter; the newcomer inherits its count as error
        val (mk, mv) = minEntry(buf)
        buf.remove(mk)
        buf.put(key.clone(), Array(mv(0) + 1L, mv(0)))
      }
    }
    buf
  }

  override def merge(buf: Buf, other: Buf): Buf = {
    if (other.isEmpty) return buf
    if (buf.isEmpty) { buf.putAll(other); return buf }
    // a key absent from a full side is charged that side's min count
    // (its proven upper bound there); half-empty sides charge 0
    def floorOf(b: Buf): Long =
      if (b.size() < capacity) 0L else minEntry(b)._2(0)
    val floorA = floorOf(buf)
    val floorB = floorOf(other)
    val merged = new Buf(buf.size() + other.size())
    buf.forEach { (t, ce) =>
      val o = other.get(t)
      if (o != null) merged.put(t, Array(ce(0) + o(0), ce(1) + o(1)))
      else merged.put(t, Array(ce(0) + floorB, ce(1) + floorB))
    }
    other.forEach { (t, ce) =>
      if (!merged.containsKey(t))
        merged.put(t, Array(ce(0) + floorA, ce(1) + floorA))
    }
    // trim the union back to capacity: keep the top counters
    // (count desc, value asc — deterministic). Snapshot to (key, value)
    // pairs BEFORE mutating the map: Map.Entry objects are undefined
    // once the backing map changes.
    buf.clear()
    if (merged.size() > capacity) {
      val entries = new java.util.ArrayList[(UTF8String, Array[Long])](merged.size())
      merged.forEach { (k, v) => entries.add((k, v)) }
      entries.sort { (a, b) =>
        val c = java.lang.Long.compare(b._2(0), a._2(0))
        if (c != 0) c else a._1.compareTo(b._1)
      }
      var i = 0
      while (i < capacity) {
        buf.put(entries.get(i)._1, entries.get(i)._2)
        i += 1
      }
    } else buf.putAll(merged)
    buf
  }

  override def eval(buf: Buf): Any = {
    val entries = new java.util.ArrayList(buf.entrySet())
    entries.sort { (a, b) =>
      val c = java.lang.Long.compare(b.getValue()(0), a.getValue()(0))
      if (c != 0) c else a.getKey.compareTo(b.getKey)
    }
    val n = math.min(k, entries.size())
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      val e = entries.get(i)
      out(i) = UTF8String.fromString(s"${e.getKey.toString}:${e.getValue()(0)}")
      i += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(buf: Buf): Array[Byte] = SketchBytes.written() { out =>
    out.writeInt(buf.size())
    buf.forEach { (t, ce) =>
      val b = t.getBytes
      out.writeInt(b.length); out.write(b)
      out.writeLong(ce(0)); out.writeLong(ce(1))
    }
  }

  override def deserialize(bytes: Array[Byte]): Buf = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = new Buf(n * 2)
    var i = 0
    while (i < n) {
      val len = in.readInt()
      val b = new Array[Byte](len)
      in.readFully(b)
      buf.put(UTF8String.fromBytes(b), Array(in.readLong(), in.readLong()))
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): SpaceSavingTopK =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SpaceSavingTopK =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): SpaceSavingTopK =
    copy(child = newChild)
}

object SpaceSavingTopK {
  /** SQL-registration builder: `graft_top_k_spacesaving(value, k, capacity)`
    * with the same literal validation discipline as [[TopKTokens.fromExprs]].
    */
  def fromExprs(exprs: Seq[Expression]): Expression = {
    val args = new SketchArgs("graft_top_k_spacesaving(value, k, capacity): k and " +
      "capacity must be foldable non-null positive INT literals with capacity >= k")
    args.arity(exprs, 3)
    val k = args.intLit(exprs(1), "k", _ > 0)
    val capacity = args.intLit(exprs(2), "capacity", _ > 0)
    if (capacity < k) args.fail(s"k=$k capacity=$capacity")
    SpaceSavingTopK(exprs.head, k, capacity).toAggregateExpression()
  }
}
