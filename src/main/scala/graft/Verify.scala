package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg (dev tooling): comma-separated query-name filter,
    // e.g. `runMain graft.Verify <sf> <out> q42_dedup_simhash,q74_phash_neardup`
    val Array(sfDir, outDirArg) = args.take(2)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    def selected(name: String): Boolean = only.forall(_.contains(name))
    // A filtered dev run writes a PARTIAL oracle_sql.json; if it landed in
    // the gate's outDir alongside stale full-run parquet, the driver would
    // silently compare only the subset and report a clean pass with
    // reduced coverage. Redirect filtered runs to a clearly-marked dir.
    val outDir = if (only.isEmpty) outDirArg else {
      val d = outDirArg.stripSuffix("/") + "_partial"
      System.err.println(
        s"[verify] PARTIAL RUN (${only.get.size} queries) -> $d; " +
          "not a full gate output")
      d
    }
    val spark = graft.core.Session.local()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(e => selected(e._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${Bench.describe(e)}")
      }
      // queries persist() intermediates; clear them so cached blocks don't
      // accumulate across the full registry run in one session
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(e => selected(e._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
