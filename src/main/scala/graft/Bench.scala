package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
object Bench {
  /** Times one query's `count()` on `spark`: the seconds, and the
    * exception when it failed. Cleanup after the timed region is untimed. */
  private[graft] def timeOne(spark: SparkSession, sfDir: String,
      fn: (SparkSession, String) => DataFrame): (Double, Option[Throwable]) = {
    val t0 = System.nanoTime()
    val failure = try { fn(spark, sfDir).count(); None }
                  catch { case e: Throwable => Some(e) }
    val sec = (System.nanoTime() - t0) / 1e9
    // queries persist() intermediates they scan multiply and unpersist
    // them on exit; this harness-level sweep is a backstop so one
    // query's leftover cache never competes with the next query's
    // working set. Runs AFTER `sec` is captured — cleanup is untimed.
    spark.catalog.clearCache()
    // MEASUREMENT FIX (r14, documented in OPTIMIZATION_r14.md):
    // localCheckpoint blocks and shuffle state are only reclaimed when
    // the driver GCs their weak references (ContextCleaner); in a
    // rapid-fire 478-query session that backlog lands on LATER
    // queries' timed regions (measured: q54 alone degrades 10 → 84 s
    // over 5 back-to-back passes without this, flat ~8 s with it).
    // The GC runs in the untimed region so each query is measured on
    // its own plan, not the previous queries' cleanup debt.
    System.gc()
    // drain scales with the observed cleanup need (r14 VERDICT #8):
    // sub-second queries leave near-zero ContextCleaner backlog, so the
    // flat 1 s drain cost ~8 min of untimed wall per full bench; only
    // queries that ran >2 s (checkpoint/shuffle-heavy lanes) get the
    // full drain. Timed regions unchanged.
    Thread.sleep(if (sec > 2.0) 1000 else 200)
    (sec, failure)
  }

  /** `<class>: <message>`, the failure format Bench, Verify and Profile print. */
  private[graft] def describe(e: Throwable): String =
    s"${e.getClass.getName}: ${e.getMessage}"

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // --cold clears the artifact store up front so every build-once
    // intermediate (pair tables, ANN index, event-log splits) is charged
    // to this run; the emitted JSON records which mode actually ran —
    // cold/warm comparability is in-harness, not a manual cleanup step
    if (args.contains("--cold")) graft.core.Artifacts.clearAll()
    val artifactsState =
      if (graft.core.Artifacts.rootNonEmpty) "warm" else "cold"
    val spark = graft.core.Session.local()
    // warm up codegen/session so the first measured query isn't charged
    // for JVM/session startup
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()
    def timed(name: String, fn: (SparkSession, String) => DataFrame): (Double, Boolean) = {
      val (sec, failure) = timeOne(spark, sfDir, fn)
      failure.foreach(e => System.err.println(s"[bench] $name failed: ${describe(e)}"))
      (sec, failure.isEmpty)
    }
    val firstPass = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val (sec, ok) = timed(name, fn)
      (name, sec, ok)
    }
    // CONTENTION DEFENSE: a bench sharing its host with another heavy
    // job can show a 40× outlier on a query whose plan is fine (observed
    // round 11: q185 at 75 s against a 2 s steady profile). Any query
    // whose first measurement exceeds 5× the suite median gets ONE
    // untimed-side retry; `queries` records the best-of-2 (the steady
    // estimate) and `outliers` records {first, retries, steady} so a
    // contended run is diagnosable from the artifact alone — it can
    // never masquerade as a plan regression. Retries run against warm
    // artifacts (same as any second execution), which is exactly the
    // steady-state the profile describes.
    val okTimes = firstPass.filter(_._3).map(_._2).sorted
    val median = if (okTimes.isEmpty) 0.0 else okTimes(okTimes.size / 2)
    val retryThreshold = math.max(5.0 * median, 10.0)
    val byName = SparkEntry.queries
    val results = firstPass.map { case (name, first, ok) =>
      if (ok && first > retryThreshold) {
        // the retry substitutes ONLY when it lands back inside the
        // suite profile (confirming host contention); a retry that is
        // still slow means the query is genuinely priced that way —
        // keeping `first` lets a real cold-path regression surface in
        // the headline total instead of being masked by best-of-2
        val (second, ok2) = timed(name, byName(name))
        val steady =
          if (ok2 && second <= retryThreshold) math.min(first, second) else first
        (name, steady, ok, Some((first, 1, steady)))
      } else (name, first, ok, None)
    }
    val qs = results.map { case (k, v, _, _) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val oks = results.map { case (k, _, ok, _) => s"\"" + k + "\":" + ok }
      .mkString("{", ",", "}")
    val failed = results.filter(!_._3).map("\"" + _._1 + "\"").mkString("[", ",", "]")
    val outliers = results.collect { case (k, _, _, Some((first, retries, steady))) =>
      s"\"" + k + "\":{\"first\":" + first + ",\"retries\":" + retries +
        ",\"steady\":" + steady + "}"
    }.mkString("{", ",", "}")
    // total counts only successful queries (steady values); failures and
    // contended first-pass measurements are listed explicitly.
    // value_first_pass is the UNsubstituted first-run sum — round-over-
    // round comparisons of it see cold-path regressions the steady
    // total's contention-retry could otherwise smooth over
    val total = results.filter(_._3).map(_._2).sum
    val firstPassTotal = firstPass.filter(_._3).map(_._2).sum
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","value_first_pass":$firstPassTotal,"queries":$qs,"ok":$oks,"failed":$failed,"outliers":$outliers,"median":$median,"sf":"$sfDir","artifacts":"$artifactsState"}"""
    println(line)
    // also drop the raw line next to the repo: sbt prefixes forked stdout
    // with "[info] ", which can trip strict JSON extraction downstream
    try java.nio.file.Files.writeString(java.nio.file.Paths.get("BENCH_LAST.json"), line + "\n")
    catch { case _: Throwable => () }
    spark.stop()
  }
}
