package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.TextFunctions

/** The non-ASCII lane. The DuckDB oracle gate assumes an ASCII corpus
  * (RE2's `\w` is ASCII-only, the multimodal oracles assume byte==char —
  * documented in QueryPack), so a Unicode regression in the Spark side
  * would NOT fail the driver gate. This spec closes that hole with a
  * non-ASCII `documents` fixture (accents, curly apostrophes, CJK,
  * combining marks — including the gut-corpus é/’ cases) run through the
  * real pack queries and checked against an independent char-level model
  * of the reference semantics (Rust `[^\w\s]` strip + whitespace split).
  */
class UnicodeFixtureSpec extends AnyFunSuite {
  import UnicodeFixtureSpec.texts
  private lazy val spark = SparkTestSession.spark

  /** Fixture dir shaped like a driver sf dir (documents.parquet only). */
  private lazy val fixtureDir: String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_unicode_fixture").toString
    texts.map { case (id, t) => (id, t, if (id == 3L) "zh" else "en", "fixture", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  /** Independent char-level model of the reference tokenization (same
    * derivation as WordCountParitySpec's, not the production regex). */
  private def modelTokens(text: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val sb = new StringBuilder
    def flush(): Unit = { if (sb.nonEmpty) { out += sb.toString; sb.clear() } }
    def isWordChar(ch: Char): Boolean = {
      val t = Character.getType(ch)
      Character.isLetterOrDigit(ch) || ch == '_' ||
        t == Character.NON_SPACING_MARK || t == Character.COMBINING_SPACING_MARK ||
        t == Character.ENCLOSING_MARK || t == Character.CONNECTOR_PUNCTUATION ||
        ch == '‌' || ch == '‍'
    }
    text.foreach { ch =>
      if (isWordChar(ch)) sb.append(ch)
      else if (Character.isWhitespace(ch)) flush()
      // else punctuation: stripped, does NOT break the token
    }
    flush()
    out.toSeq
  }

  test("tokens() matches the char-level model on every non-ASCII fixture row") {
    import spark.implicits._
    val got = texts.toDF("doc_id", "text")
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    texts.foreach { case (id, t) =>
      assert(got(id) == modelTokens(t), s"doc $id: ${got(id)} vs model ${modelTokens(t)}")
    }
    // the gut-corpus cases, pinned explicitly:
    assert(got(2L) == Seq("Alices", "adventures", "Alices", "again"),
      "curly apostrophe must be stripped mid-token, not split")
    assert(got(1L).take(3) == Seq("Café", "déjà", "vu"),
      "accented chars must survive the (?U) punctuation strip")
    assert(got(3L) == Seq("中文", "文本", "处理", "中文"), "CJK are word chars")
    assert(got(7L).isEmpty)
  }

  test("q62_token_stats over the non-ASCII fixture matches the model") {
    val got = graft.operators.TextPack.queries("q62_token_stats")(spark, fixtureDir)
      .collect().map(r => r.getLong(0) -> r).toMap
    texts.foreach { case (id, t) =>
      val toks = modelTokens(t)
      assert(got(id).getLong(got(id).fieldIndex("n_tokens")) == toks.size, s"doc $id n_tokens")
      assert(got(id).getLong(got(id).fieldIndex("n_distinct")) == toks.distinct.size,
        s"doc $id n_distinct")
    }
  }

  test("q42_dedup_simhash runs end-to-end on non-ASCII text and finds the exact dup") {
    val pairs = graft.operators.DedupPack.queries("q42_dedup_simhash")(spark, fixtureDir)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getInt(r.fieldIndex("hamming"))))
    // docs 2 and 6 are identical non-ASCII texts → identical signatures
    assert(pairs.exists { case (i, j, h) => i == 2L && j == 6L && h == 0 },
      s"identical unicode docs must pair at hamming 0; got ${pairs.toSeq}")
  }

  test("q65_quality_gate counts unicode tokens, not bytes or ASCII runs") {
    val got = graft.operators.PipelinePack.queries("q65_quality_gate")(spark, fixtureDir)
      .collect().map(r => r.getLong(0) -> r.getLong(r.fieldIndex("n_tokens"))).toMap
    texts.foreach { case (id, t) =>
      assert(got(id) == modelTokens(t).size, s"doc $id token count")
    }
  }
}

object UnicodeFixtureSpec {
  val texts: Seq[(Long, String)] = Seq(
    1L -> "Café déjà vu — the naïve approach№ works",
    2L -> "Alice’s adventures, Alice’s again",
    3L -> "中文 文本 处理 中文",
    4L -> "résumé RÉSUMÉ resume", // case + accent distinctions all preserved
    5L -> "zwnj: دوست‌دارم combining: éé", // ZWNJ join control + combining acute
    6L -> "Alice’s adventures, Alice’s again", // exact dup of doc 2
    7L -> "")
}
