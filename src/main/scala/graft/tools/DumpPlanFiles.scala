package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.ExplainMode

/** Dev tool (r14 optimization evidence): dump `.explain("formatted")` of
  * the named queries to `<outDir>/<query>_<suffix>.txt`, full lineage
  * (planDumpMode — checkpoints would otherwise truncate the tree to an
  * RDD scan). One file per query so before/after plan diffs are
  * reviewable per the optimization-round contract.
  *
  *   sbt "runMain graft.tools.DumpPlanFiles plans/r14 before q54_ann_recall,q41_dedup_minhash [sfDir]"
  */
object DumpPlanFiles {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args(2).split(",").toSeq
    val dir = if (args.length > 3) args(3) else "/root/testdata/sf0.01"
    val spark = graft.core.Session.local(4)
    graft.core.QueryPack.planDumpMode = true
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, dir)
      val full = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      val maxLines = 800
      val lines = full.linesIterator.toSeq
      val txt = if (lines.size <= maxLines) full
        else lines.take(maxLines).mkString("", "\n",
          s"\n... truncated (${lines.size} lines total)\n")
      Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), txt)
      println(s"wrote $outDir/${name}_$suffix.txt")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
