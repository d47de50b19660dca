package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-supplied parquet tables (see /root/repo/TESTDATA.md).
  *
  * Every query in the engine takes `(spark, sfDir)` and reads through these —
  * one place to attach scale-oriented read options. At cluster scale the same
  * call sites would point at partitioned/bucketed table roots instead of
  * single files; the API (name → DataFrame) is unchanged.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Registers each table in `names` as a temp view of the same name, for
    * queries written as SQL text. */
  def views(s: SparkSession, d: String, names: String*): Unit =
    names.foreach(t => table(s, d, t).createOrReplaceTempView(t))

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** `events.ts` has shipped in different parquet encodings across driver
    * testdata generations: TIMESTAMP(NANOS) (which Spark's reader rejects
    * with [PARQUET_TYPE_ILLEGAL] — read as raw nanos via the legacy conf),
    * and TIMESTAMP(MICROS) without UTC adjustment (inferred as
    * TIMESTAMP_NTZ). [[normalizeEventTs]] maps every observed shape to
    * Spark's native microsecond TimestampType at identical instants — the
    * session timezone is pinned to UTC everywhere (Bench/Verify/tests), so
    * the NTZ wall-clock cast and DuckDB's naive TIMESTAMP semantics agree
    * exactly, as does the nanos→micros truncation DuckDB applies casting
    * TIMESTAMP_NS → TIMESTAMP.
    */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }

  /** Events with `ts` normalized to TimestampType (see [[normalizeEventTs]]). */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventTs(table(s, d, "events"))
  }

  /** Raw events in FILE schema — `ts` as whatever the parquet footer says
    * (nanos-as-long LongType or TIMESTAMP_NTZ micros). For streaming reads
    * that need an explicit schema matching the file; pipe the streamed
    * frame through [[normalizeEventTs]] before using `ts`. */
  def eventsRawNanos(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    table(s, d, "events")
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
