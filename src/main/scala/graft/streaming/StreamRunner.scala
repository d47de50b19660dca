package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType
import graft.core.Tables

/** How a gate stream reads its input and is run to completion. The
  * queries in this package only build the streaming plan; every one of
  * them reads through [[fileStream]]/[[eventStream]] and runs through
  * [[drain]]: a memory sink, run over the bounded input, stopped, and
  * read back as a batch frame the oracle gate can hash.
  */
private[graft] object StreamRunner {

  /** The parquet table `file` under `d` as a file stream. A file stream
    * reads a directory, so it reads `d` glob-filtered to that file. */
  def fileStream(s: SparkSession, d: String, file: String, schema: StructType): DataFrame =
    s.readStream.schema(schema).option("pathGlobFilter", file).parquet(d)

  /** The events table as a stream, `ts` normalized to TimestampType. The
    * read schema is the file's own (ts encoding varies across testdata
    * generations; see [[Tables.normalizeEventTs]]), and
    * [[Tables.eventsRawNanos]] sets the nanos-as-long conf it needs. */
  def eventStream(s: SparkSession, d: String): DataFrame =
    Tables.normalizeEventTs(
      fileStream(s, d, "events.parquet", Tables.eventsRawNanos(s, d).schema))

  /** Processes all input available now: the default run of [[drain]]. */
  def processAvailable(q: StreamingQuery): Unit = q.processAllAvailable()

  /** Runs `ds` into a memory sink in `outputMode`, calls `run` on the
    * started query, stops it and returns the sink's rows as a batch
    * frame. The sink view is named `graft_stream_<prefix>_<n>` from
    * [[StreamingPack.counter]] (fresh on every run) and dropped before
    * returning: the frame keeps the sink's rows, the session catalog
    * does not. */
  def drain(ds: Dataset[_], outputMode: String, prefix: String)(
      run: StreamingQuery => Unit = processAvailable): DataFrame = {
    val s = ds.sparkSession
    val name = s"graft_stream_${prefix}_${StreamingPack.counter.incrementAndGet()}"
    try {
      withStatePartitions(s) {
        val q = ds.writeStream.outputMode(outputMode).format("memory")
          .queryName(name).start()
        try run(q) finally q.stop()
      }
      s.table(name)
    } finally s.catalog.dropTempView(name)
  }

  /** Run `f` (which must START its streaming query inside) with the
    * shuffle-partition count — which for streaming is also the number of
    * state-store instances per stateful operator — sized to the load.
    * The bounded gate runs carry tiny state, where per-partition state
    * store setup/maintenance dominates: q98 measured 2.5 s at 8
    * partitions vs 6–9.5 s at 32. At production rates the same knob is
    * sized UP, per state volume, not down. Restored afterwards so the
    * batch parts of the plan keep the session's parallelism.
    */
  private def withStatePartitions[A](s: SparkSession)(f: => A): A = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", 8)
    try f finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }
}
