package graft.functions

import java.io.{ByteArrayInputStream, DataInputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Exact top-k heavy hitters as a native `TypedImperativeAggregate` — the
  * performance tier above the `Aggregator` UDAF ([[TopKAggregator]], q64):
  * the buffer is a plain JVM hash map of UTF8String→count updated straight
  * from InternalRows (no encoder round-trip per input row), and the
  * partial-aggregate buffers move between stages through a compact
  * length-prefixed binary codec instead of Kryo.
  *
  * Semantics are IDENTICAL to [[TopKAggregator]]: per group the k most
  * frequent values with counts, ties by value ascending (binary order —
  * equals the UDAF's String order on the ASCII corpus, see the
  * oracle-layer note in `graft.core.QueryPack`), output as sorted
  * "value:count" strings.
  *
  * Scale note: the buffer is bounded by per-group vocabulary (exact). For
  * unbounded domains the same class would swap in a SpaceSaving capped
  * buffer — kept exact here because the correctness gate hashes values.
  */
case class TopKTokens(
    child: Expression,
    k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.HashMap[UTF8String, Long]]
  with UnaryLike[Expression] {

  override def prettyName: String = "graft_top_k_tokens"
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false

  override def createAggregationBuffer(): java.util.HashMap[UTF8String, Long] =
    new java.util.HashMap[UTF8String, Long]()

  override def update(
      buf: java.util.HashMap[UTF8String, Long],
      input: InternalRow): java.util.HashMap[UTF8String, Long] = {
    val v = child.eval(input)
    if (v != null) {
      // clone: the input UTF8String may point into a reused row buffer
      val key = v.asInstanceOf[UTF8String].clone()
      buf.merge(key, 1L, (a, b) => a + b)
    }
    buf
  }

  override def merge(
      buf: java.util.HashMap[UTF8String, Long],
      other: java.util.HashMap[UTF8String, Long]): java.util.HashMap[UTF8String, Long] = {
    other.forEach((t, c) => buf.merge(t, c, (a, b) => a + b))
    buf
  }

  override def eval(buf: java.util.HashMap[UTF8String, Long]): Any = {
    val top = new Array[(UTF8String, Long)](buf.size())
    var i = 0
    val it = buf.entrySet().iterator()
    while (it.hasNext) { val e = it.next(); top(i) = (e.getKey, e.getValue); i += 1 }
    val sorted = top.sortWith { case ((t1, c1), (t2, c2)) =>
      c1 > c2 || (c1 == c2 && t1.compareTo(t2) < 0)
    }
    new GenericArrayData(sorted.take(k).map { case (t, c) =>
      UTF8String.fromString(s"$t:$c")
    })
  }

  override def serialize(buf: java.util.HashMap[UTF8String, Long]): Array[Byte] =
    SketchBytes.written() { out =>
      out.writeInt(buf.size())
      buf.forEach { (t, c) =>
        val b = t.getBytes
        out.writeInt(b.length); out.write(b); out.writeLong(c)
      }
    }

  override def deserialize(bytes: Array[Byte]): java.util.HashMap[UTF8String, Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = new java.util.HashMap[UTF8String, Long](n * 2)
    var i = 0
    while (i < n) {
      val len = in.readInt()
      val b = new Array[Byte](len)
      in.readFully(b)
      buf.put(UTF8String.fromBytes(b), in.readLong())
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKTokens =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKTokens =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): TopKTokens =
    copy(child = newChild)
}

object TopKTokens {
  /** SQL-registration builder with argument validation: `k` must be a
    * foldable, non-null, positive INT literal. Without the checks, a
    * `2L`, NULL, or column-ref k surfaced as an opaque
    * ClassCastException/NPE at plan time instead of an analysis error.
    */
  def fromExprs(exprs: Seq[Expression]): Expression = {
    val args = new SketchArgs(
      "graft_top_k_tokens(value, k): k must be a foldable non-null positive INT literal")
    args.arity(exprs, 2)
    TopKTokens(exprs.head, args.intLit(exprs(1), "k", _ > 0)).toAggregateExpression()
  }
}
