package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** HyperLogLog (Flajolet, Fusy, Gandouet, Meunier, "HyperLogLog: the
  * analysis of a near-optimal cardinality estimation algorithm", AofA
  * 2007) as a native `TypedImperativeAggregate`: approximate distinct
  * counting in CONSTANT memory — `m = 2^p` int64 registers — regardless
  * of cardinality. The standard error is `1.04 / sqrt(m)`.
  *
  * This completes the sketch-aggregate family next to
  * [[SpaceSavingTopK]] (heavy hitters), [[CountMinSketchAgg]]
  * (per-key frequency) and [[BloomFilterAgg]] (membership): the HLL
  * answers "how many DISTINCT keys" without storing keys. Its merge is
  * the elementwise MAX of registers — idempotent, commutative and
  * associative, so the estimate is reproducible under ANY partitioning
  * or merge tree AND under duplicated delivery (max, unlike the CMS
  * sum, absorbs replays — the property [[graft.HyperLogLogSpec]]
  * model-checks alongside the merge-tree invariance).
  *
  * Engine-portable by the project's md5 construction: a key hashes to
  * the 60-bit `h = int64(first 15 hex chars of md5(key))` — the same
  * value as DuckDB's `CAST('0x' || substring(md5(x), 1, 15) AS BIGINT)`
  * — the register index is the LOW `p` bits (`h % m`) and the rank
  * input is the remaining high bits `rest = h >> p`, with
  *
  *   rho(rest) = (60 - p) - bitlength(rest) + 1,   bitlength(0) := 0
  *
  * i.e. the position of the first set bit counting from the top of the
  * `(60-p)`-bit field (`rest = 0` → rho = 61 - p, the all-zeros
  * convention). `bitlength` is `length(bin(rest))` in SQL on both
  * engines (with the `rest = 0` case made explicit, since `bin(0)` is
  * `'0'` of length 1, not 0), so a DuckDB oracle rebuilds the IDENTICAL
  * register file and the gate compares registers AND the estimate
  * exactly — the estimate arithmetic downstream of the registers is
  * all-int64 (see the q149 gate in
  * [[graft.operators.TextPack]] for the fixed-point chain).
  *
  * At 100 TB: each partial buffer is `8·m` bytes (2 KiB at p=8)
  * independent of cardinality, partials combine map-side, grouped
  * `GROUP BY src` distinct counts cost ONE shuffle of sketch buffers
  * (vs the exact `COUNT(DISTINCT)` shuffle of every key), and sketches
  * persisted per partition/day union by register-max with no rescan —
  * the standard warehouse cardinality layout.
  */
case class HyperLogLogAgg(
    child: Expression,
    p: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]]
  with UnaryLike[Expression] {

  // p <= 20 (1M registers) is far beyond any sane precision; p >= 4 is
  // the algorithm's published floor
  require(p >= 4 && p <= 20, s"graft_hll: need 4 <= p <= 20, got p=$p")

  private val m: Int = 1 << p
  /** Width of the rank field: the 60-bit md5 value minus the index bits. */
  private val restBits: Int = 60 - p

  override def prettyName: String = "graft_hll"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  override def createAggregationBuffer(): Array[Long] = new Array[Long](m)

  // MessageDigest is stateful and not thread-safe; one per thread
  @transient private lazy val mdLocal: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val md = mdLocal.get()
      md.reset()
      val dg = md.digest(v.asInstanceOf[UTF8String].getBytes)
      var h = 0L
      var i = 0
      while (i < 8) { h = (h << 8) | (dg(i) & 0xffL); i += 1 }
      h = h >>> 4 // the 60-bit hex64 value
      val idx = (h % m).toInt
      val rest = h >>> p
      // bitlength(rest) = 64 - nlz(rest); bitlength(0) = 0 here (the
      // SQL mirror special-cases rest = 0 because bin(0) = '0')
      val bitlen = 64 - java.lang.Long.numberOfLeadingZeros(rest)
      val rho = restBits - bitlen + 1
      if (rho > buf(idx)) buf(idx) = rho
    }
    buf
  }

  /** Elementwise MAX — idempotent, order- and replay-insensitive. */
  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < m) { if (other(i) > buf(i)) buf(i) = other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf.clone())

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val out = new Array[Byte](m * 8)
    var i = 0
    while (i < m) {
      var j = 0
      val v = buf(i)
      while (j < 8) { out(i * 8 + j) = (v >>> (56 - 8 * j)).toByte; j += 1 }
      i += 1
    }
    out
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val buf = new Array[Long](m)
    var i = 0
    while (i < m) {
      var v = 0L
      var j = 0
      while (j < 8) { v = (v << 8) | (bytes(i * 8 + j) & 0xffL); j += 1 }
      buf(i) = v
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): HyperLogLogAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HyperLogLogAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): HyperLogLogAgg =
    copy(child = newChild)
}

object HyperLogLogAgg {
  /** SQL-registration builder: `graft_hll(value, p)` with the same
    * literal validation discipline as [[CountMinSketchAgg.fromExprs]].
    */
  def fromExprs(exprs: Seq[Expression]): Expression = {
    val args = new SketchArgs(
      "graft_hll(value, p): p must be a foldable non-null INT literal in [4, 20]")
    args.arity(exprs, 2)
    val p = args.intLit(exprs(1), "p", i => i >= 4 && i <= 20)
    if (exprs.head.resolved &&
        exprs.head.dataType != org.apache.spark.sql.types.StringType)
      args.fail(s"value of type ${exprs.head.dataType.simpleString} (need STRING)")
    HyperLogLogAgg(exprs.head, p).toAggregateExpression()
  }
}
