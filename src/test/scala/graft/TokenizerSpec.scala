package graft

import scala.util.Random

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.functions.TextFunctions.{stripPunct, tokens, whitespaceSplit}
import graft.functions.TokenizerKernel
import graft.operators.MapReduceJob

/** The native tokenizer (`TextFunctions.tokens`, [[TokenizerKernel]]) is
  * the two-regex reference form `whitespaceSplit(stripPunct(_))` in one
  * pass: both are run side by side over every BMP code point, sampled
  * supplementary code points, lone surrogates, empty/blank/null input,
  * the Unicode fixture and seeded random strings, once through generated
  * code and once through the interpreted `eval` path. The char path over
  * a Java `String` must equal the byte path over its UTF-8 encoding, and
  * `wordCountMap` must tokenize with the same kernel.
  */
class TokenizerSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def cp(c: Int): String = new String(Character.toChars(c))

  private val supplementary: Seq[Int] = {
    val rnd = new Random(17)
    Seq(0x10000, 0x1F600, 0x1F44D, 0x1D400, 0x1D7CE, 0x1D7FF, 0x20000, 0x2A6D6,
      0xE0001, 0xE0100, 0x10FFFD, 0x10FFFF) ++
      Seq.fill(300)(0x1F300 + rnd.nextInt(0x1FB00 - 0x1F300)) ++ // emoji
      Seq.fill(300)(0x1D400 + rnd.nextInt(0x1D800 - 0x1D400)) ++ // math alphanumerics
      Seq.fill(400)(0x10000 + rnd.nextInt(0x110000 - 0x10000))
  }

  /** Each char (or code point) once inside a word and once between spaces. */
  private def embedded(c: String): Seq[String] = Seq("a" + c + "b", " " + c + " ")

  private val randomStrings: Seq[String] = {
    val rnd = new Random(42)
    val pool: IndexedSeq[String] = (("abcXYZ019_".map(_.toString) ++
      ".,;:!?'\"-()[]{}#@%&*/\\".map(_.toString) ++
      Seq(" ", "  ", "\t", "\n", "\r", "\u000B", "\f", "\u0085", "\u00A0", "\u2009",
        "\u2028", "\u3000", "\u200B", "\u200C", "\u200D", "\u00AD", "\uFEFF",
        "é", "e\u0301", "ß", "İ", "ﬁ", "中", "ع", "ー", "’", "“", "—", "№", "½", "²", "٣",
        "\uFFFD", "\uD800", "\uDFFF", cp(0x1F600), cp(0x1D400), cp(0x20000), cp(0xE0001))))
      .toIndexedSeq
    Seq.fill(3000)(Seq.fill(rnd.nextInt(40))(pool(rnd.nextInt(pool.size))).mkString)
  }

  private val inputs: Seq[String] =
    (0 until 0x10000).flatMap(c => embedded(c.toChar.toString)) ++
      supplementary.flatMap(c => embedded(cp(c))) ++
      Seq("\uD800", "a\uD800b", "\uDC00 x", "x\uD83D", "\uDE00\uD83D", "😀\uD83D",
        "", " ", "   ", "\t\n\r\u000B\f\u0085\u00A0\u3000", null) ++
      UnicodeFixtureSpec.texts.map(_._2) ++
      randomStrings

  private def sideBySide(factoryMode: String, wholeStage: Boolean): Unit = {
    import spark.implicits._
    val keys = Seq("spark.sql.codegen.factoryMode", "spark.sql.codegen.wholeStage")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set(keys(0), factoryMode)
    spark.conf.set(keys(1), wholeStage.toString)
    try {
      // an RDD-backed frame, so the projection is not folded into a
      // LocalRelation at optimization time and runs on the executors
      val df = spark.sparkContext.parallelize(inputs.zipWithIndex, 8).toDF("s", "i")
        .select(col("i"), tokens(col("s")).as("native"),
          whitespaceSplit(stripPunct(col("s"))).as("regex"))
      assert(df.queryExecution.executedPlan.exists(_.isInstanceOf[WholeStageCodegenExec])
        == wholeStage)
      val rows = df.collect()
      assert(rows.length == inputs.size)
      rows.foreach { r =>
        val in = inputs(r.getInt(0))
        if (in == null) assert(r.isNullAt(1) && r.isNullAt(2), "null must map to null")
        else assert(r.getSeq[String](1) == r.getSeq[String](2),
          s"input ${in.map(c => f"U+${c.toInt}%04X").mkString(" ")}")
      }
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("native tokens == whitespaceSplit(stripPunct) under generated code") {
    sideBySide("CODEGEN_ONLY", wholeStage = true)
  }

  test("native tokens == whitespaceSplit(stripPunct) under interpreted eval") {
    sideBySide("NO_CODEGEN", wholeStage = false)
  }

  test("malformed UTF-8 is deleted as the regex path's U+FFFD is") {
    // the regex form works on UTF8String.toString and re-encodes its output
    def viaRegex(s: UTF8String): Seq[String] =
      s.toString.replaceAll("(?U)[^\\w\\s]", "").split("(?U)\\s+").toSeq.filter(_.nonEmpty)
    val rnd = new Random(7)
    val bytePool = Array(0x20, 0x41, 0x7A, 0x2E, 0x80, 0x8F, 0x90, 0x9F, 0xA0, 0xBF, 0xC0, 0xC1,
      0xC2, 0xC3, 0xDF, 0xE0, 0xE3, 0xED, 0xEF, 0xF0, 0xF4, 0xF5, 0xFF).map(_.toByte)
    (0 until 20000).foreach { _ =>
      val bytes = Array.fill(rnd.nextInt(12))(
        if (rnd.nextInt(4) == 0) rnd.nextInt(256).toByte else bytePool(rnd.nextInt(bytePool.length)))
      val s = UTF8String.fromBytes(bytes)
      val got = TokenizerKernel.tokens(s).map(_.toString).toSeq
      assert(got == viaRegex(s), s"bytes ${bytes.map(b => f"${b & 0xFF}%02X").mkString(" ")}")
    }
  }

  test("char path tokens(String) == byte path tokens(UTF8String.fromString)") {
    val hi = "\uD83D"
    val lo = "\uDE00"
    // fragments glued without separators, so punctuation touches words,
    // surrogates pair up or stay lone, and spaces form runs of every kind
    val fragment: Gen[String] = Gen.oneOf(
      Gen.oneOf("a", "Zz", "019", "_", "é", "e\u0301", "中文", "ß", "İ", "٣"),
      Gen.oneOf(".", ",", "'", "’", "—", "!?", "(", ")", "#@"),
      Gen.oneOf(" ", "  ", "\t", "\n", "\u00A0", "\u3000", "\u2009", "\u0085"),
      Gen.oneOf(hi + lo, cp(0x1D400), cp(0x20000), cp(0xE0001), hi, lo, lo + hi, ""))
    val strings: Gen[String] = Gen.listOf(fragment).map(_.mkString)
    val generated = (0 until 4000).flatMap(i => strings.apply(Gen.Parameters.default, Seed(i.toLong)))
    val fixed = Seq("", " ", "\t", "\u00A0", "\u3000", hi, lo, lo + hi, "a" + hi, lo + "b",
      "a" + hi + lo + "b", "foo,bar", "(foo) bar.", "x\u00A0y\u3000z\tw", "a" + hi + " " + lo + "b")
    (fixed ++ generated).foreach { s =>
      assert(TokenizerKernel.tokens(s).toSeq ==
        TokenizerKernel.tokens(UTF8String.fromString(s)).map(_.toString).toSeq,
        s"input ${s.map(c => f"U+${c.toInt}%04X").mkString(" ")}")
    }
  }

  test("wordCountMap tokenizes with the same kernel") {
    (UnicodeFixtureSpec.texts.map(_._2) ++ randomStrings).foreach { l =>
      assert(MapReduceJob.wordCountMap(l).map(_._1) ==
        TokenizerKernel.tokens(UTF8String.fromString(l)).map(_.toString).toSeq)
      assert(MapReduceJob.wordCountMap(l).forall(_._2 == "1"))
    }
  }
}
