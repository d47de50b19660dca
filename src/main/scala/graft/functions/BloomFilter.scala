package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, LongType}

/** Bloom filter over int64 join keys as a native
  * `TypedImperativeAggregate` — the runtime-filter half of semi-join
  * reduction (Bloom, "Space/time trade-offs in hash coding with
  * allowable errors", CACM 1970; the same pattern Spark's own
  * InjectRuntimeFilter rule applies when statistics justify it — here
  * exposed as an explicit, plannable operator).
  *
  * Why this matters at 100 TB: a dimension-side key SET is often far
  * too big to broadcast as a hash relation (tens of GB), but its Bloom
  * filter at ~16 bits/key is megabytes — broadcast THAT, filter the
  * fact-table scan BEFORE the shuffle, and the exchange moves only
  * rows that can possibly join. False positives are removed by the
  * real join that follows, so the construction never changes the
  * answer — it only sheds shuffle volume. Guarantees:
  *
  *   - NO false negatives: an inserted key always probes true (the
  *     property [[graft.BloomFilterSpec]] checks exhaustively);
  *   - bounded false-positive rate: ~(1 − e^(−k·n/m))^k for n keys in
  *     m bits with k probes (spec-measured against a disjoint set);
  *   - LINEAR: the filter of a union is the bitwise OR of the filters,
  *     so merge is exact under any partitioning / merge tree.
  *
  * Probe hashing is Kirsch–Mitzenmacher double hashing over a
  * splitmix64 mix (Steele et al., "Fast splittable pseudorandom number
  * generators", OOPSLA 2014): g_i(x) = h1 + i·h2, with h2 forced odd
  * so all m (power-of-two) slots are reachable. No portability
  * contract is needed: the filter is a plan-level pre-filter, never
  * part of a query's visible result, so the DuckDB oracle replays the
  * exact join it accelerates.
  *
  * Output: `array<bigint>` of m/64 words. Probe with
  * [[BloomMightContain]] (`graft_bloom_might_contain(bf, key, k)`).
  */
case class BloomFilterAgg(
    child: Expression,
    numBits: Int,
    numHashes: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]]
  with UnaryLike[Expression] {

  // a positive-Int power of two caps at 2^30 bits = 128 MiB — already
  // beyond any filter worth broadcasting
  require(numBits >= 64 && (numBits & (numBits - 1)) == 0 &&
    numHashes > 0 && numHashes <= 16,
    s"graft_bloom: need numBits a power of two in [64, 2^30], " +
      s"numHashes in [1, 16], got numBits=$numBits numHashes=$numHashes")

  override def prettyName: String = "graft_bloom"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  override def createAggregationBuffer(): Array[Long] = new Array[Long](numBits / 64)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val x = v.asInstanceOf[Long]
      val h = BloomFilterAgg.mix64(x)
      val h1 = h
      val h2 = (h >>> 32) | 1L // odd stride reaches every slot
      val mask = numBits - 1
      var i = 0
      while (i < numHashes) {
        val bit = ((h1 + i * h2) & mask).toInt
        buf(bit >>> 6) |= (1L << (bit & 63))
        i += 1
      }
    }
    buf
  }

  /** Bitwise OR — the linear merge (exact, any order). */
  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < buf.length) { buf(i) |= other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any = {
    val words = new Array[Any](buf.length)
    var i = 0
    while (i < buf.length) { words(i) = buf(i); i += 1 }
    new GenericArrayData(words)
  }

  override def serialize(buf: Array[Long]): Array[Byte] = SketchBytes.longsToBytes(buf)

  override def deserialize(bytes: Array[Byte]): Array[Long] =
    SketchBytes.bytesToLongs(bytes, numBits / 64)

  override def withNewMutableAggBufferOffset(newOffset: Int): BloomFilterAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BloomFilterAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): BloomFilterAgg =
    copy(child = newChild)
}

object BloomFilterAgg {
  /** splitmix64 finalizer — the avalanche mix both build and probe use. */
  def mix64(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** SQL-registration builder: `graft_bloom(key, numBits, numHashes)`. */
  def fromExprs(exprs: Seq[Expression]): Expression = {
    val args = new SketchArgs("graft_bloom(key, numBits, numHashes): numBits and " +
      "numHashes must be foldable non-null positive INT literals")
    args.arity(exprs, 3)
    if (exprs.head.resolved && exprs.head.dataType != LongType)
      args.fail(s"key of type ${exprs.head.dataType.simpleString} (need BIGINT)")
    BloomFilterAgg(exprs.head, args.intLit(exprs(1), "numBits", _ > 0),
      args.intLit(exprs(2), "numHashes", _ > 0)).toAggregateExpression()
  }
}

/** `graft_bloom_might_contain(bf, key, k)` — probe a [[BloomFilterAgg]]
  * bit array. True means "possibly present", false means "definitely
  * absent"; k must equal the build-side numHashes (validated to the
  * extent the plan allows — it's a literal on both sides of the same
  * query). Generates a tight word-indexing loop inside whole-stage
  * codegen: the fact-table scan this guards is the hottest path in the
  * whole semi-join-reduction pattern.
  */
case class BloomMightContain(left: Expression, right: Expression, numHashes: Int)
    extends BinaryExpression {
  // left: array<bigint> (the filter), right: bigint (the key)
  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_bloom_might_contain"

  override def nullSafeEval(bf: Any, key: Any): Any = {
    val words = bf.asInstanceOf[ArrayData]
    val numBits = words.numElements() << 6
    val mask = numBits - 1
    val h = BloomFilterAgg.mix64(key.asInstanceOf[Long])
    val h1 = h
    val h2 = (h >>> 32) | 1L
    var i = 0
    while (i < numHashes) {
      val bit = ((h1 + i * h2) & mask).toInt
      if ((words.getLong(bit >>> 6) & (1L << (bit & 63))) == 0L) return false
      i += 1
    }
    true
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (bf, key) => {
      val h = ctx.freshName("h")
      val h1 = ctx.freshName("h1")
      val h2 = ctx.freshName("h2")
      val mask = ctx.freshName("mask")
      val bit = ctx.freshName("bit")
      val i = ctx.freshName("i")
      val hit = ctx.freshName("hit")
      s"""
         |long $h = $key + 0x9e3779b97f4a7c15L;
         |$h = ($h ^ ($h >>> 30)) * 0xbf58476d1ce4e5b9L;
         |$h = ($h ^ ($h >>> 27)) * 0x94d049bb133111ebL;
         |$h = $h ^ ($h >>> 31);
         |long $h1 = $h;
         |long $h2 = ($h >>> 32) | 1L;
         |long $mask = ((long) $bf.numElements() << 6) - 1L;
         |boolean $hit = true;
         |for (int $i = 0; $i < $numHashes; $i++) {
         |  int $bit = (int) (($h1 + $i * $h2) & $mask);
         |  if (($bf.getLong($bit >>> 6) & (1L << ($bit & 63))) == 0L) {
         |    $hit = false; break;
         |  }
         |}
         |${ev.value} = $hit;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): BloomMightContain =
    copy(left = l, right = r)
}

object BloomMightContain {
  /** SQL-registration builder: `graft_bloom_might_contain(bf, key, k)`. */
  def fromExprs(exprs: Seq[Expression]): Expression = {
    val args = new SketchArgs("graft_bloom_might_contain(bf, key, numHashes): " +
      "numHashes must be a foldable non-null positive INT literal")
    args.arity(exprs, 3)
    BloomMightContain(exprs.head, exprs(1),
      args.intLit(exprs(2), "numHashes", i => i > 0 && i <= 16))
  }
}
