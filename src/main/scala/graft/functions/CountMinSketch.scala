package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Count-Min sketch (Cormode & Muthukrishnan, "An improved data stream
  * summary: the count-min sketch and its applications", J. Algorithms
  * 2005) as a native `TypedImperativeAggregate`: per-key frequency
  * estimation in CONSTANT memory — `depth × width` int64 counters —
  * regardless of the number of distinct keys.
  *
  * This is the frequency twin of [[SpaceSavingTopK]] (which answers
  * "which keys are frequent"; the CMS answers "how frequent is key x"
  * for ANY x, without storing keys at all). Guarantees, standard:
  *
  *   - overestimate only: true(x) <= est(x)
  *   - bounded excess:    est(x) <= true(x) + e·N/width with
  *     probability >= 1 − e^−depth per query (N = values counted)
  *   - LINEAR: the sketch of a union is the elementwise SUM of the
  *     sketches — merge is exact, commutative and associative, so the
  *     estimate is reproducible under ANY partitioning / merge tree
  *     (the property [[graft.CountMinSpec]] model-checks).
  *
  * Row hashes are engine-portable by the project's md5 construction:
  * `h_r(x) = int64(first 15 hex chars of md5("r:" || x)) mod width` —
  * the same value as the Spark column form
  * `hex64(md5(concat("r:", x))) % width` and the DuckDB form
  * `CAST('0x' || substring(md5(r || ':' || x), 1, 15) AS BIGINT) % width`,
  * so a DuckDB oracle can rebuild the IDENTICAL matrix cell-for-cell
  * and the gate compares estimates exactly (no envelope needed).
  *
  * Output: `array<array<bigint>>` — `depth` rows of `width` counters.
  * Probing is a column expression over the (broadcast) matrix:
  * `est(x) = least over r of matrix[r][h_r(x)]`.
  *
  * At 100 TB: each partial buffer is `depth·width·8` bytes (64 KiB at
  * 4×2048) independent of vocabulary, partials combine map-side, and
  * the final matrix broadcasts to probe ANY stream without a join
  * against a counts table.
  */
case class CountMinSketchAgg(
    child: Expression,
    depth: Int,
    width: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]]
  with UnaryLike[Expression] {

  // 2^26 longs = 512 MiB per buffer — far beyond any sane sketch, and
  // the Int product below must not overflow
  require(depth > 0 && width > 0 && depth.toLong * width <= (1L << 26),
    s"graft_countmin: need depth > 0, width > 0, depth*width <= 2^26, " +
      s"got depth=$depth width=$width")

  override def prettyName: String = "graft_countmin"
  override def dataType: DataType =
    ArrayType(ArrayType(LongType, containsNull = false), containsNull = false)
  override def nullable: Boolean = false

  override def createAggregationBuffer(): Array[Long] = new Array[Long](depth * width)

  // MessageDigest is stateful and not thread-safe; one per thread
  @transient private lazy val mdLocal: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  // the "r:" row prefixes, encoded once (the row hash is
  // md5(prefix ++ keyBytes) — byte-identical to md5 of the
  // concatenated string, since both parts are UTF-8)
  @transient private lazy val rowPrefixes: Array[Array[Byte]] =
    Array.tabulate(depth)(r => s"$r:".getBytes(StandardCharsets.UTF_8))

  /** Row-r slot of a key: the first 15 hex chars (60 bits) of
    * md5("r:" || key) mod width — numerically, the big-endian long of
    * the first 8 digest bytes shifted right 4. */
  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      // encode the key ONCE per row, not once per (row, depth): this is
      // the hot scan kernel
      val keyBytes = v.asInstanceOf[UTF8String].getBytes
      val md = mdLocal.get()
      var r = 0
      while (r < depth) {
        md.reset()
        md.update(rowPrefixes(r))
        md.update(keyBytes)
        val dg = md.digest()
        var h = 0L
        var i = 0
        while (i < 8) { h = (h << 8) | (dg(i) & 0xffL); i += 1 }
        buf(r * width + ((h >>> 4) % width).toInt) += 1L
        r += 1
      }
    }
    buf
  }

  /** Elementwise sum — the linear-sketch merge (exact, any order). */
  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < buf.length) { buf(i) += other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any = {
    val rows = new Array[Any](depth)
    var r = 0
    while (r < depth) {
      val row = new Array[Any](width)
      var c = 0
      while (c < width) { row(c) = buf(r * width + c); c += 1 }
      rows(r) = new GenericArrayData(row)
      r += 1
    }
    new GenericArrayData(rows)
  }

  override def serialize(buf: Array[Long]): Array[Byte] = SketchBytes.longsToBytes(buf)

  override def deserialize(bytes: Array[Byte]): Array[Long] =
    SketchBytes.bytesToLongs(bytes, depth * width)

  override def withNewMutableAggBufferOffset(newOffset: Int): CountMinSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CountMinSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): CountMinSketchAgg =
    copy(child = newChild)
}

object CountMinSketchAgg {
  /** SQL-registration builder: `graft_countmin(value, depth, width)` with
    * the same literal validation discipline as [[SpaceSavingTopK.fromExprs]].
    */
  def fromExprs(exprs: Seq[Expression]): Expression = {
    val args = new SketchArgs("graft_countmin(value, depth, width): depth and " +
      "width must be foldable non-null positive INT literals")
    args.arity(exprs, 3)
    // the value column must be STRING — catch misuse at plan time, not
    // as an executor-side ClassCastException mid-job
    if (exprs.head.resolved &&
        exprs.head.dataType != org.apache.spark.sql.types.StringType)
      args.fail(s"value of type ${exprs.head.dataType.simpleString} (need STRING)")
    CountMinSketchAgg(exprs.head, args.intLit(exprs(1), "depth", _ > 0),
      args.intLit(exprs(2), "width", _ > 0)).toAggregateExpression()
  }
}
