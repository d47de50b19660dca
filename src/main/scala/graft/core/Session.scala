package graft.core

import org.apache.spark.sql.SparkSession

/** The engine's one local session contract. `graft.Bench`, `graft.Verify`,
  * the dev tools and the test suite all start their session here, so the
  * plans a tool profiles or a test pins are the plans the benchmark runs.
  */
object Session {
  /** `SPARK_GRAFT_CPUS`, else 32 (`graft.Bench`'s contract core count). */
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(32)

  /** The configured builder, for a caller that must add a static conf
    * (one that cannot be set on a running session, e.g. the warehouse
    * dir) before `getOrCreate`. */
  def builder(cpus: Int = defaultCpus): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // AQE runtime re-planning, pinned as part of the engine contract:
      // a viral duplicate makes one LSH band key quadratic, and the
      // skew-join rule splits that partition at runtime (both sides of
      // the band self-join — proven in AqeSkewJoinSpec)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.ui.enabled", "false")
      // with a checkpoint dir set, a superseded reliable checkpoint is
      // deleted once its RDD is garbage-collected instead of piling up
      // in the dir (q414 leaves 3 `rdd-*` dirs per run without it)
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      // static: the JVM-wide cache of compiled codegen classes. Cycling
      // through the 15 `registry_sf001` queries, Spark's default of 100
      // entries recompiled 102-121 classes on every repeat pass; 2,000
      // recompiled 3
      .config("spark.sql.codegen.cache.maxEntries", "2000")

  /** `local[cpus]` with `cpus` shuffle partitions, log level WARN. */
  def local(cpus: Int = defaultCpus): SparkSession = {
    val spark = builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
