package graft.tools

import graft.SparkEntry

/** Dev tool: print schema + formatted physical plan (and optionally rows)
  * for one registered query, or ad-hoc SQL with the test tables registered
  * as temp views.
  *
  *   sbt "runMain graft.tools.Explain q12_join_hash_topk /root/testdata/sf0.01 [show]"
  *   sbt "runMain graft.tools.Explain sql:SELECT ... /root/testdata/sf0.01"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val show = args.contains("show")
    val spark = graft.core.Session.local()
    val df =
      if (name.startsWith("sql:")) {
        graft.functions.GraftExpressions.ensure(spark)
        Seq("region", "nation", "customer", "supplier", "part", "orders",
            "lineitem", "documents", "embeddings").foreach { t =>
          graft.core.Tables.table(spark, dir, t).createOrReplaceTempView(t)
        }
        // events needs the nanos-timestamp conversion (see Tables.events)
        graft.core.Tables.events(spark, dir).createOrReplaceTempView("events")
        spark.sql(name.stripPrefix("sql:"))
      } else SparkEntry.queries(name)(spark, dir)
    df.printSchema()
    df.explain("formatted")
    if (show) df.show(20, truncate = false)
    spark.stop()
  }
}
