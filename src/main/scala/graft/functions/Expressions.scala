package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, IntegerType, LongType}

/** Native codegen Catalyst expressions for the hot array kernels.
  *
  * Spark's higher-order functions (`aggregate`/`zip_with`) are evaluated
  * with per-row interpreted lambdas — fine for per-document signatures,
  * ruinous for per-candidate-PAIR work (millions of pairs × 64-element
  * arrays). These expressions generate a tight primitive loop inside
  * whole-stage codegen instead: measured ~15× on the embedding near-dup
  * query. Same semantics as the HOF formulations they replace.
  */

/** Exact int64 dot product of two `array<bigint>` columns. */
case class LongArrayDot(left: Expression, right: Expression)
    extends BinaryExpression {
  // inputs are always array<bigint> (no implicit-cast trait needed:
  // AbstractDataType is private[sql])
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_long_array_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0L
    var i = 0
    while (i < n) { s += x.getLong(i) * y.getLong(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $s = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getLong($i) * $b.getLong($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): LongArrayDot =
    copy(left = l, right = r)
}

/** Count of positions where two `array<string>` columns agree. */
case class ArrayEqCount(left: Expression, right: Expression)
    extends BinaryExpression {
  // inputs are always array<string>
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_array_eq_count"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var c = 0
    var i = 0
    while (i < n) {
      if (x.getUTF8String(i).equals(y.getUTF8String(i))) c += 1
      i += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val c = ctx.freshName("c")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |int $c = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.getUTF8String($i).equals($b.getUTF8String($i))) $c++;
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): ArrayEqCount =
    copy(left = l, right = r)
}

/** Intersection size of two SORTED distinct `array<string>` columns —
  * two-pointer merge, O(n+m) instead of array_intersect's per-row hash set
  * build. Callers must sort with `sort_array` (binary collation, matching
  * UTF8String.compareTo).
  */
case class SortedArrayIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_sorted_intersect_count"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    var i = 0
    var j = 0
    var c = 0
    while (i < x.numElements() && j < y.numElements()) {
      val cmp = x.getUTF8String(i).compareTo(y.getUTF8String(j))
      if (cmp == 0) { c += 1; i += 1; j += 1 }
      else if (cmp < 0) i += 1
      else j += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val cmp = ctx.freshName("cmp")
      s"""
         |int $i = 0; int $j = 0; int $c = 0;
         |while ($i < $a.numElements() && $j < $b.numElements()) {
         |  int $cmp = $a.getUTF8String($i).compareTo($b.getUTF8String($j));
         |  if ($cmp == 0) { $c++; $i++; $j++; }
         |  else if ($cmp < 0) $i++;
         |  else $j++;
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): SortedArrayIntersectCount =
    copy(left = l, right = r)
}

/** Count of positions where two `array<bigint>` columns agree. */
case class LongArrayEqCount(left: Expression, right: Expression)
    extends BinaryExpression {
  // inputs are always array<bigint>
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_long_array_eq_count"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var c = 0
    var i = 0
    while (i < n) {
      if (x.getLong(i) == y.getLong(i)) c += 1
      i += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val c = ctx.freshName("c")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |int $c = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.getLong($i) == $b.getLong($i)) $c++;
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): LongArrayEqCount =
    copy(left = l, right = r)
}

/** Intersection size of two SORTED distinct `array<bigint>` columns —
  * two-pointer merge over primitive longs; the int64 twin of
  * [[SortedArrayIntersectCount]] (8-byte compares, no UTF8String).
  */
case class SortedLongIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_sorted_long_intersect_count"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    var i = 0
    var j = 0
    var c = 0
    while (i < x.numElements() && j < y.numElements()) {
      val xv = x.getLong(i)
      val yv = y.getLong(j)
      if (xv == yv) { c += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |int $i = 0; int $j = 0; int $c = 0;
         |while ($i < $a.numElements() && $j < $b.numElements()) {
         |  long $xv = $a.getLong($i);
         |  long $yv = $b.getLong($j);
         |  if ($xv == $yv) { $c++; $i++; $j++; }
         |  else if ($xv < $yv) $i++;
         |  else $j++;
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): SortedLongIntersectCount =
    copy(left = l, right = r)
}

/** Morton (z-order) bit-interleave of two non-negative int64 keys.
  *
  * Bit i of `left` lands at result bit 2i, bit i of `right` at 2i+1 —
  * the space-filling-curve sort key behind multi-dimensional data
  * clustering (Delta/Iceberg `OPTIMIZE ZORDER BY`): sorting a table by
  * this value keeps rows close in BOTH dimensions physically close, so
  * per-file min/max zone maps prune rectangle predicates on either
  * column. 21 bits per side (42-bit result); interleaving is bitwise,
  * so narrower inputs (e.g. 8-bit normalized cells) produce exactly the
  * narrow interleave — high zero bits contribute nothing.
  */
case class ZOrderInterleave(left: Expression, right: Expression)
    extends BinaryExpression {
  // inputs are always non-negative bigints (normalized cell ids)
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_zorder2"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[Long]
    val y = b.asInstanceOf[Long]
    var z = 0L
    var i = 0
    while (i < 21) {
      z |= ((x >> i) & 1L) << (2 * i)
      z |= ((y >> i) & 1L) << (2 * i + 1)
      i += 1
    }
    z
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val z = ctx.freshName("z")
      s"""
         |long $z = 0L;
         |for (int $i = 0; $i < 21; $i++) {
         |  $z |= (($a >> $i) & 1L) << (2 * $i);
         |  $z |= (($b >> $i) & 1L) << (2 * $i + 1);
         |}
         |${ev.value} = $z;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): ZOrderInterleave =
    copy(left = l, right = r)
}

/** Hilbert-curve index of an 8-bit (x, y) cell pair (order-8 curve over
  * the 256×256 grid): the classic xy2d loop (Hilbert 1891; the iterative
  * rotate-and-reflect form of Warren, Hacker's Delight §16) — 8 rounds,
  * each folding one bit plane into the distance and rotating the frame.
  * Unlike Morton ([[ZOrderInterleave]]), CONSECUTIVE Hilbert indices are
  * always grid neighbors (no diagonal jumps across half-planes), which
  * is why Hilbert zone maps prune tighter at the same file count — q444
  * measures exactly that against the Morton and linear layouts. Pure
  * int64 bit arithmetic; the oracle replays the same 8 rounds as
  * unrolled CTE projections carrying the rotated frame.
  */
case class HilbertIndex2(left: Expression, right: Expression)
    extends BinaryExpression {
  // inputs are always 0..255 bigints (normalized cell ids)
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_hilbert2"

  override def nullSafeEval(a: Any, b: Any): Any =
    HilbertIndex2.xy2d(a.asInstanceOf[Long], b.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      val s = ctx.freshName("s"); val d = ctx.freshName("d")
      val rx = ctx.freshName("rx"); val ry = ctx.freshName("ry")
      val t = ctx.freshName("t")
      s"""
         |long $x = $a; long $y = $b; long $d = 0L;
         |for (long $s = 128L; $s > 0L; $s >>= 1) {
         |  long $rx = (($x & $s) > 0L) ? 1L : 0L;
         |  long $ry = (($y & $s) > 0L) ? 1L : 0L;
         |  $d += $s * $s * ((3L * $rx) ^ $ry);
         |  if ($ry == 0L) {
         |    if ($rx == 1L) { $x = $s - 1L - $x; $y = $s - 1L - $y; }
         |    long $t = $x; $x = $y; $y = $t;
         |  }
         |}
         |${ev.value} = $d;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): HilbertIndex2 =
    copy(left = l, right = r)
}

object HilbertIndex2 {
  /** The order-8 xy2d kernel, shared by the codegen Expression's
    * interpreted path and the V2 FunctionCatalog scalar
    * ([[graft.sources.GraftHilbertFunction]]) — one implementation, two
    * Catalyst doorways. */
  def xy2d(xIn: Long, yIn: Long): Long = {
    var x = xIn
    var y = yIn
    var d = 0L
    var s = 128L
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3 * rx) ^ ry)
      if (ry == 0) {
        val (nx, ny) = if (rx == 1) (s - 1 - y, s - 1 - x) else (y, x)
        x = nx; y = ny
      }
      s >>= 1
    }
    d
  }
}

/** Content-defined chunk boundaries of a text column — the rolling-hash
  * cut-point detector behind storage-level dedup (rsync/LBFS/restic
  * lineage): a cut lands AFTER byte i when the polynomial hash of the
  * last 8 bytes, h(i) = Σ_{j=0..7} byte[i-j]·31^j, satisfies
  * h % 32 == 0 — so chunk boundaries are CONTENT-anchored and survive
  * insertions/deletions that shift byte offsets (fixed-size blocks
  * would re-align every block after an edit). Returns 1-based cut
  * positions, excluding the end-of-string position (no empty tail
  * chunk). The 8-term sum is recomputed per position rather than
  * rolled — same O(8n) kernel shape the SQL oracle replays exactly
  * with 8 lag() terms (determinism over micro-elegance; the loop is
  * still a tight primitive whole-stage-codegen body). Byte-based:
  * exact for the gate's verified-ASCII corpus (see QueryPack scaladoc).
  */
case class CdcChunkBoundaries(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  // input is always a string column
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_cdc_boundaries"

  override def nullSafeEval(t: Any): Any = {
    val s = t.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
    val n = s.numBytes()
    val buf = new Array[Int](math.max(n, 1))
    var cnt = 0
    var i = 7
    while (i < n - 1) {
      var h = 0L; var p = 1L; var j = 0
      while (j < 8) { h += (s.getByte(i - j) & 0xFF).toLong * p; p *= 31L; j += 1 }
      if (h % 32L == 0L) { buf(cnt) = i + 1; cnt += 1 }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      java.util.Arrays.copyOf(buf, cnt))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t => {
      val n = ctx.freshName("n")
      val buf = ctx.freshName("buf")
      val cnt = ctx.freshName("cnt")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val h = ctx.freshName("h")
      val p = ctx.freshName("p")
      s"""
         |int $n = $t.numBytes();
         |int[] $buf = new int[$n > 0 ? $n : 1];
         |int $cnt = 0;
         |for (int $i = 7; $i < $n - 1; $i++) {
         |  long $h = 0L; long $p = 1L;
         |  for (int $j = 0; $j < 8; $j++) {
         |    $h += (long)($t.getByte($i - $j) & 0xFF) * $p;
         |    $p *= 31L;
         |  }
         |  if ($h % 32L == 0L) { $buf[$cnt++] = $i + 1; }
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |  .fromPrimitiveArray(java.util.Arrays.copyOf($buf, $cnt));
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): CdcChunkBoundaries =
    copy(child = c)
}

/** Full (unrestricted) Damerau–Levenshtein distance between two string
  * columns — the Lowrance–Wagner DP with a last-occurrence table, so
  * non-adjacent transposition chains are priced correctly (dl("CA",
  * "ABC") = 2 where the OSA restriction would say 3). Spark ships only
  * plain `levenshtein`; transposition-aware distance is the standard
  * record-linkage metric for human-typed keys (swapped letters are the
  * most common typo class). Byte-based (exact for the gate's
  * verified-ASCII corpus, see QueryPack scaladoc); algorithm validated
  * against DuckDB's damerau_levenshtein on 2000 random pairs (exact
  * agreement). O(n·m) time and memory — guarded to ≤4096 bytes a side
  * so a misuse on whole documents fails loudly instead of OOMing an
  * executor.
  */
case class DamerauLevenshtein(left: Expression, right: Expression)
    extends BinaryExpression {
  // inputs are always strings
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_damerau_levenshtein"

  override def nullSafeEval(x: Any, y: Any): Any = {
    val a = x.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
    val b = y.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
    val n = a.numBytes(); val m = b.numBytes()
    if (n > 4096 || m > 4096)
      throw new IllegalArgumentException(
        s"graft_damerau_levenshtein: input exceeds 4096 bytes ($n, $m) — " +
          "this kernel is for short keys, not documents")
    val w = m + 2
    val maxd = n + m
    val d = new Array[Int]((n + 2) * w)
    d(0) = maxd
    var i = 0
    while (i <= n) { d((i + 1) * w) = maxd; d((i + 1) * w + 1) = i; i += 1 }
    var j = 0
    while (j <= m) { d(j + 1) = maxd; d(w + j + 1) = j; j += 1 }
    val da = new Array[Int](256)
    i = 1
    while (i <= n) {
      var db = 0
      j = 1
      while (j <= m) {
        val k = da(b.getByte(j - 1) & 0xFF)
        val l = db
        var cost = 1
        if (a.getByte(i - 1) == b.getByte(j - 1)) { cost = 0; db = j }
        var v = d(i * w + j) + cost
        val v2 = d((i + 1) * w + j) + 1; if (v2 < v) v = v2
        val v3 = d(i * w + j + 1) + 1; if (v3 < v) v = v3
        val v4 = d(k * w + l) + (i - k - 1) + 1 + (j - l - 1); if (v4 < v) v = v4
        d((i + 1) * w + j + 1) = v
        j += 1
      }
      da(a.getByte(i - 1) & 0xFF) = i
      i += 1
    }
    d((n + 1) * w + m + 1)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val m = ctx.freshName("m")
      val w = ctx.freshName("w"); val maxd = ctx.freshName("maxd")
      val d = ctx.freshName("d"); val da = ctx.freshName("da")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val k = ctx.freshName("k"); val l = ctx.freshName("l")
      val db = ctx.freshName("db"); val cost = ctx.freshName("cost")
      val v = ctx.freshName("v"); val t = ctx.freshName("t")
      s"""
         |int $n = $a.numBytes(); int $m = $b.numBytes();
         |if ($n > 4096 || $m > 4096) {
         |  throw new IllegalArgumentException(
         |    "graft_damerau_levenshtein: input exceeds 4096 bytes");
         |}
         |int $w = $m + 2; int $maxd = $n + $m;
         |int[] $d = new int[($n + 2) * $w];
         |$d[0] = $maxd;
         |for (int $i = 0; $i <= $n; $i++) {
         |  $d[($i + 1) * $w] = $maxd; $d[($i + 1) * $w + 1] = $i;
         |}
         |for (int $j = 0; $j <= $m; $j++) {
         |  $d[$j + 1] = $maxd; $d[$w + $j + 1] = $j;
         |}
         |int[] $da = new int[256];
         |for (int $i = 1; $i <= $n; $i++) {
         |  int $db = 0;
         |  for (int $j = 1; $j <= $m; $j++) {
         |    int $k = $da[$b.getByte($j - 1) & 0xFF];
         |    int $l = $db;
         |    int $cost = 1;
         |    if ($a.getByte($i - 1) == $b.getByte($j - 1)) { $cost = 0; $db = $j; }
         |    int $v = $d[$i * $w + $j] + $cost;
         |    int $t = $d[($i + 1) * $w + $j] + 1; if ($t < $v) $v = $t;
         |    $t = $d[$i * $w + $j + 1] + 1; if ($t < $v) $v = $t;
         |    $t = $d[$k * $w + $l] + ($i - $k - 1) + 1 + ($j - $l - 1);
         |    if ($t < $v) $v = $t;
         |    $d[($i + 1) * $w + $j + 1] = $v;
         |  }
         |  $da[$a.getByte($i - 1) & 0xFF] = $i;
         |}
         |${ev.value} = $d[($n + 1) * $w + $m + 1];
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): DamerauLevenshtein =
    copy(left = l, right = r)
}

/** Unicode NFC normalization (canonical decomposition + canonical
  * composition) of a string column — the first transform of every
  * real-world text-cleaning pipeline (one canonical byte sequence per
  * glyph, so hashing/dedup/equality see "é" and "e"+U+0301 as the same
  * text). Spark has no normalizer function; this wraps the JDK's
  * `java.text.Normalizer` (the Unicode-standard algorithm, matching
  * DuckDB's `nfc_normalize`) as a codegen-native expression so it runs
  * inside whole-stage codegen rather than as an opaque UDF.
  */
case class NfcNormalize(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  // input is always a string column
  override def dataType: DataType = org.apache.spark.sql.types.StringType
  override def prettyName: String = "graft_nfc"

  override def nullSafeEval(t: Any): Any = {
    val s = t.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
    org.apache.spark.unsafe.types.UTF8String.fromString(
      java.text.Normalizer.normalize(s.toString, java.text.Normalizer.Form.NFC))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t => {
      s"""
         |${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromString(
         |  java.text.Normalizer.normalize($t.toString(),
         |    java.text.Normalizer.Form.NFC));
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): NfcNormalize =
    copy(child = c)
}

/** The Jaro–Winkler kernel behind [[JaroWinklerMilli]], as a static
  * method so generated code calls it directly (the NfcNormalize
  * pattern — one non-virtual call per row inside whole-stage codegen).
  *
  * ENTIRELY INTEGER arithmetic: Jaro is the rational
  * num/den = (m²(l1+l2) + (m−t)·l1·l2) / (3·l1·l2·m), the Winkler
  * boost condition jaro > 0.7 is the exact test 10·num > 7·den, and
  * the returned ×1000 similarity is round-half-up on the exact
  * rational — no float is ever formed, so the value is deterministic
  * on every JVM and matches DuckDB's double-valued
  * `round(jaro_winkler_similarity(...)·1000)` away from half-milli
  * boundaries (verified 15000/15000 on the gate corpus's name pairs,
  * which sit ≥1e-6 from every half boundary). Byte-based like
  * [[DamerauLevenshtein]] (exact on the verified-ASCII corpus), same
  * 4096-byte misuse guard. Matching is the standard two-pass greedy:
  * window ⌊max/2⌋−1, transpositions = half the out-of-order matches,
  * prefix bonus 0.1 per common leading byte up to 4, applied only
  * above the 0.7 boost threshold.
  */
object JaroWinklerKernel {
  /** Round-half-up ×1000 value off the exact rational. */
  def milli(a: org.apache.spark.unsafe.types.UTF8String,
            b: org.apache.spark.unsafe.types.UTF8String): Long = {
    val r = rational1000(a, b)
    (2L * r(0) + r(1)) / (2L * r(1))
  }

  /** Distance of the EXACT ×1000 Jaro–Winkler rational to its nearest
    * half-milli rounding boundary, in nano-milli units (ppb of one
    * milli). The q390 gate aggregates the corpus MINIMUM of this and
    * requires it to dwarf double rounding error (~1e-12 milli for
    * DuckDB's double-valued kernel), turning the "no pair sits on a
    * boundary" corpus precondition from an empirical observation into
    * an enforced gate check. For v = num/den the nearest odd multiple
    * of den to 2000·v's numerator 2·num is at |((2·num) mod (2·den))
    * − den|; integers (e.g. the exact 1000 of equal strings) sit a
    * full 0.5 milli = 5e8 ppb away. */
  def boundaryGapPpb(a: org.apache.spark.unsafe.types.UTF8String,
                     b: org.apache.spark.unsafe.types.UTF8String): Long = {
    val r = rational1000(a, b)
    val m = (2L * r(0)) % (2L * r(1))
    (math.abs(m - r(1)).toDouble * 1e9 / (2.0 * r(1))).toLong
  }

  /** The exact ×1000 Jaro–Winkler value as a rational num/den (packed
    * Array(num, den)) — ENTIRELY INTEGER, shared by [[milli]] and
    * [[boundaryGapPpb]] so the gated value and its boundary-distance
    * precondition derive from the same arithmetic. */
  private def rational1000(a: org.apache.spark.unsafe.types.UTF8String,
                           b: org.apache.spark.unsafe.types.UTF8String): Array[Long] = {
    val l1 = a.numBytes(); val l2 = b.numBytes()
    if (l1 > 4096 || l2 > 4096)
      throw new IllegalArgumentException(
        s"graft_jaro_winkler_milli: input exceeds 4096 bytes ($l1, $l2) — " +
          "this kernel is for short keys, not documents")
    if (l1 == 0 && l2 == 0) return Array(1000L, 1L)
    if (l1 == 0 || l2 == 0) return Array(0L, 1L)
    var bound = math.max(l1, l2) / 2 - 1
    if (bound < 0) bound = 0
    val af = new Array[Boolean](l1); val bf = new Array[Boolean](l2)
    var m = 0
    var i = 0
    while (i < l1) {
      var j = math.max(0, i - bound)
      val hi = math.min(l2, i + bound + 1)
      var matched = false
      while (j < hi && !matched) {
        if (!bf(j) && a.getByte(i) == b.getByte(j)) {
          af(i) = true; bf(j) = true; m += 1; matched = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return Array(0L, 1L)
    var t = 0; var k = 0
    i = 0
    while (i < l1) {
      if (af(i)) {
        while (!bf(k)) k += 1
        if (a.getByte(i) != b.getByte(k)) t += 1
        k += 1
      }
      i += 1
    }
    t /= 2
    val num = m.toLong * m * (l1 + l2) + (m - t).toLong * l1 * l2
    val den = 3L * l1 * l2 * m
    var p = 0
    val pmax = math.min(4, math.min(l1, l2))
    while (p < pmax && a.getByte(p) == b.getByte(p)) p += 1
    // ×1000 value as one rational: boosted = 100(10−p)·num/den + 100p
    // = (100(10−p)·num + 100p·den)/den; plain = 1000·num/den. The
    // +100p integer shift commutes with round-half-up, so milli()
    // over this rational is bit-identical to the pre-refactor form.
    if (10L * num > 7L * den)
      Array(100L * (10L - p) * num + 100L * p * den, den)
    else
      Array(1000L * num, den)
  }
}

/** Jaro–Winkler similarity ×1000 (round-half-up) between two string
  * columns, as a codegen-native expression over the exact-integer
  * [[JaroWinklerKernel]] — the prefix-weighted similarity metric that
  * complements [[DamerauLevenshtein]] on record linkage (JW rewards
  * shared prefixes, DL prices edits; real matchers threshold both).
  */
case class JaroWinklerMilli(left: Expression, right: Expression)
    extends BinaryExpression {
  // inputs are always strings
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_jaro_winkler_milli"

  override def nullSafeEval(x: Any, y: Any): Any =
    JaroWinklerKernel.milli(
      x.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      y.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |${ev.value} = graft.functions.JaroWinklerKernel.milli($a, $b);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): JaroWinklerMilli =
    copy(left = l, right = r)
}

/** Distance (ppb of one milli) of the exact Jaro–Winkler rational to
  * its nearest half-milli rounding boundary — the enforcement arm of
  * [[JaroWinklerMilli]]'s cross-engine gate: q390 aggregates the
  * corpus minimum and REQUIREs it to exceed double rounding error, so
  * a new corpus with a boundary-straddling pair fails loudly at gate
  * time instead of flaking the hash compare. */
case class JaroWinklerBoundaryGapPpb(left: Expression, right: Expression)
    extends BinaryExpression {
  // inputs are always strings
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_jaro_winkler_boundary_gap_ppb"

  override def nullSafeEval(x: Any, y: Any): Any =
    JaroWinklerKernel.boundaryGapPpb(
      x.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      y.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |${ev.value} = graft.functions.JaroWinklerKernel.boundaryGapPpb($a, $b);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): JaroWinklerBoundaryGapPpb =
    copy(left = l, right = r)
}

/** The reference tokenizer (`src/app/wc.rs:7-12`: delete every char
  * outside `[\w\s]`, split on whitespace runs, no empty tokens) as one
  * pass over the UTF-8 code points of a string — the single tokenizer
  * behind [[Tokens]] (`TextFunctions.tokens`) and
  * `MapReduceJob.wordCountMap`.
  *
  * The classes are not re-derived: a BMP lookup table is filled once per
  * JVM from the same `(?U)\w`/`(?U)\s` patterns the two-regex form
  * `whitespaceSplit(stripPunct(_))` uses, and a supplementary code point
  * asks the patterns themselves, so the kernel equals that form by
  * construction. A byte that does not start a well-formed UTF-8 sequence
  * decodes to U+FFFD on the regex path — in neither class — so it is
  * deleted like any other punctuation. Word bytes are copied into one
  * array per row, which every returned token views.
  */
object TokenizerKernel {
  private val word = java.util.regex.Pattern.compile("(?U)\\w")
  private val space = java.util.regex.Pattern.compile("(?U)\\s")

  private final val Delete = 0
  private final val Word = 1
  private final val Space = 2

  private def patternClass(s: String): Int =
    if (word.matcher(s).matches()) Word
    else if (space.matcher(s).matches()) Space
    else Delete

  /** The class of every BMP code point, filled once from the patterns. */
  private val bmpClass: Array[Byte] =
    Array.tabulate(0x10000)(c => patternClass(String.valueOf(c.toChar)).toByte)

  private def classOf(cp: Int): Int =
    if (cp < 0x10000) bmpClass(cp) else patternClass(new String(Character.toChars(cp)))

  /** Length of the well-formed multi-byte UTF-8 sequence at `i`, or 0 for a
    * byte that starts none (overlong, surrogate, > U+10FFFF, truncated). */
  private def seqLen(src: Array[Byte], i: Int, n: Int): Int = {
    val b0 = src(i) & 0xFF
    if (b0 < 0xC2 || b0 > 0xF4) return 0
    val len = if (b0 < 0xE0) 2 else if (b0 < 0xF0) 3 else 4
    if (i + len > n) return 0
    val b1 = src(i + 1) & 0xFF
    val lo = if (b0 == 0xE0) 0xA0 else if (b0 == 0xF0) 0x90 else 0x80
    val hi = if (b0 == 0xED) 0x9F else if (b0 == 0xF4) 0x8F else 0xBF
    if (b1 < lo || b1 > hi) return 0
    var k = 2
    while (k < len) { if ((src(i + k) & 0xC0) != 0x80) return 0; k += 1 }
    len
  }

  private def decode(src: Array[Byte], i: Int, len: Int): Int = {
    var cp = src(i) & (0x7F >> len)
    var k = 1
    while (k < len) { cp = (cp << 6) | (src(i + k) & 0x3F); k += 1 }
    cp
  }

  /** Compacts the word bytes of the UTF-8 text `src` into `out` (same
    * length) and returns the end offset in `out` of every token. */
  private def scan(src: Array[Byte], out: Array[Byte]): Array[Int] = {
    val n = src.length
    var ends = new Array[Int](16)
    var count = 0
    var o = 0 // word bytes written to out
    var start = 0 // out offset of the open token
    var i = 0
    while (i < n) {
      val b = src(i)
      var len = 1
      val cls =
        if (b >= 0) bmpClass(b).toInt
        else {
          len = seqLen(src, i, n)
          if (len == 0) { len = 1; Delete } else classOf(decode(src, i, len))
        }
      if (cls == Word) {
        var k = 0
        while (k < len) { out(o + k) = src(i + k); k += 1 }
        o += len
      } else if (cls == Space && o > start) {
        if (count == ends.length) ends = java.util.Arrays.copyOf(ends, count * 2)
        ends(count) = o; count += 1; start = o
      }
      i += len
    }
    if (o > start) {
      if (count == ends.length) ends = java.util.Arrays.copyOf(ends, count + 1)
      ends(count) = o; count += 1
    }
    java.util.Arrays.copyOf(ends, count)
  }

  /** Tokens as views over one compacted copy of the word bytes. */
  def tokens(s: org.apache.spark.unsafe.types.UTF8String)
      : Array[org.apache.spark.unsafe.types.UTF8String] = {
    val src = s.getBytes
    val out = new Array[Byte](src.length)
    val ends = scan(src, out)
    val toks = new Array[org.apache.spark.unsafe.types.UTF8String](ends.length)
    var from = 0
    var t = 0
    while (t < ends.length) {
      toks(t) = org.apache.spark.unsafe.types.UTF8String.fromBytes(out, from, ends(t) - from)
      from = ends(t); t += 1
    }
    toks
  }

  /** The same tokens of a Java string (encoded as `UTF8String.fromString`
    * encodes it), decoded straight from the compacted bytes. */
  def tokens(s: String): Array[String] = {
    val src = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val out = new Array[Byte](src.length)
    val ends = scan(src, out)
    val toks = new Array[String](ends.length)
    var from = 0
    var t = 0
    while (t < ends.length) {
      toks(t) = new String(out, from, ends(t) - from, java.nio.charset.StandardCharsets.UTF_8)
      from = ends(t); t += 1
    }
    toks
  }
}

/** The reference token stream of a string column, `array<string>` with no
  * empty tokens, as a codegen-native expression over [[TokenizerKernel]]
  * (one static call per row inside whole-stage codegen). Non-string
  * inputs are cast to string, as `regexp_replace` casts them.
  */
case class Tokens(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {
  override def inputTypes = Seq(org.apache.spark.sql.types.StringType)
  override def dataType: DataType = org.apache.spark.sql.types.ArrayType(
    org.apache.spark.sql.types.StringType, containsNull = false)
  override def prettyName: String = "graft_tokens"

  override def nullSafeEval(t: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      TokenizerKernel.tokens(t.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
        .asInstanceOf[Array[Any]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t => {
      s"""
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.TokenizerKernel.tokens($t));
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Tokens =
    copy(child = c)
}

/** Session-scoped registration + Column-level accessors. */
object GraftExpressions {
  private def register(s: SparkSession): Unit = {
    val reg = s.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("graft_long_array_dot",
      exprs => LongArrayDot(exprs(0), exprs(1)), "built-in")
    reg.createOrReplaceTempFunction("graft_array_eq_count",
      exprs => ArrayEqCount(exprs(0), exprs(1)), "built-in")
    reg.createOrReplaceTempFunction("graft_sorted_intersect_count",
      exprs => SortedArrayIntersectCount(exprs(0), exprs(1)), "built-in")
    reg.createOrReplaceTempFunction("graft_long_array_eq_count",
      exprs => LongArrayEqCount(exprs(0), exprs(1)), "built-in")
    reg.createOrReplaceTempFunction("graft_sorted_long_intersect_count",
      exprs => SortedLongIntersectCount(exprs(0), exprs(1)), "built-in")
    reg.createOrReplaceTempFunction("graft_top_k_tokens",
      TopKTokens.fromExprs, "built-in")
    reg.createOrReplaceTempFunction("graft_top_k_spacesaving",
      SpaceSavingTopK.fromExprs, "built-in")
    reg.createOrReplaceTempFunction("graft_countmin",
      CountMinSketchAgg.fromExprs, "built-in")
    reg.createOrReplaceTempFunction("graft_quantiles",
      QuantileSketchAgg.fromExprs, "built-in")
    reg.createOrReplaceTempFunction("graft_bloom",
      BloomFilterAgg.fromExprs, "built-in")
    reg.createOrReplaceTempFunction("graft_hll",
      HyperLogLogAgg.fromExprs, "built-in")
    reg.createOrReplaceTempFunction("graft_bloom_might_contain",
      BloomMightContain.fromExprs, "built-in")
    reg.createOrReplaceTempFunction("graft_zorder2",
      exprs => ZOrderInterleave(exprs(0), exprs(1)), "built-in")
    reg.createOrReplaceTempFunction("graft_hilbert2",
      exprs => HilbertIndex2(exprs(0), exprs(1)), "built-in")
    reg.createOrReplaceTempFunction("graft_cdc_boundaries",
      exprs => CdcChunkBoundaries(exprs(0)), "built-in")
    reg.createOrReplaceTempFunction("graft_damerau_levenshtein",
      exprs => DamerauLevenshtein(exprs(0), exprs(1)), "built-in")
    reg.createOrReplaceTempFunction("graft_nfc",
      exprs => NfcNormalize(exprs(0)), "built-in")
    reg.createOrReplaceTempFunction("graft_jaro_winkler_milli",
      exprs => JaroWinklerMilli(exprs(0), exprs(1)), "built-in")
    reg.createOrReplaceTempFunction("graft_jaro_winkler_boundary_gap_ppb",
      exprs => JaroWinklerBoundaryGapPpb(exprs(0), exprs(1)), "built-in")
  }

  /** Idempotent; call before building a plan that uses the accessors. */
  def ensure(s: SparkSession): Unit = register(s)

  def longArrayDot(a: Column, b: Column): Column =
    call_function("graft_long_array_dot", a, b)

  def sortedIntersectCount(a: Column, b: Column): Column =
    call_function("graft_sorted_intersect_count", a, b)

  def longArrayEqCount(a: Column, b: Column): Column =
    call_function("graft_long_array_eq_count", a, b)

  def sortedLongIntersectCount(a: Column, b: Column): Column =
    call_function("graft_sorted_long_intersect_count", a, b)

  def topKTokens(c: Column, k: Int): Column =
    call_function("graft_top_k_tokens", c, org.apache.spark.sql.functions.lit(k))

  def spaceSavingTopK(c: Column, k: Int, capacity: Int): Column =
    call_function("graft_top_k_spacesaving", c,
      org.apache.spark.sql.functions.lit(k),
      org.apache.spark.sql.functions.lit(capacity))

  def countMin(c: Column, depth: Int, width: Int): Column =
    call_function("graft_countmin", c,
      org.apache.spark.sql.functions.lit(depth),
      org.apache.spark.sql.functions.lit(width))

  def quantileSketch(c: Column, capacity: Int): Column =
    call_function("graft_quantiles", c,
      org.apache.spark.sql.functions.lit(capacity))

  def bloom(key: Column, numBits: Int, numHashes: Int): Column =
    call_function("graft_bloom", key,
      org.apache.spark.sql.functions.lit(numBits),
      org.apache.spark.sql.functions.lit(numHashes))

  def bloomMightContain(bf: Column, key: Column, numHashes: Int): Column =
    call_function("graft_bloom_might_contain", bf, key,
      org.apache.spark.sql.functions.lit(numHashes))

  def hll(c: Column, p: Int): Column =
    call_function("graft_hll", c, org.apache.spark.sql.functions.lit(p))

  def zorder2(x: Column, y: Column): Column =
    call_function("graft_zorder2", x, y)

  def hilbert2(x: Column, y: Column): Column =
    call_function("graft_hilbert2", x, y)

  def cdcBoundaries(text: Column): Column =
    call_function("graft_cdc_boundaries", text)

  def damerauLevenshtein(a: Column, b: Column): Column =
    call_function("graft_damerau_levenshtein", a, b)

  def nfc(c: Column): Column =
    call_function("graft_nfc", c)

  def jaroWinklerMilli(a: Column, b: Column): Column =
    call_function("graft_jaro_winkler_milli", a, b)

  def jaroWinklerBoundaryGapPpb(a: Column, b: Column): Column =
    call_function("graft_jaro_winkler_boundary_gap_ppb", a, b)
}
