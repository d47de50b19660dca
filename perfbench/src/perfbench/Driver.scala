package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.perfbench.ListenerDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions.col

import graft.SparkEntry
import graft.core.Artifacts
import graft.operators.{MapReduceJob, WordCount}

/** Closed-loop, single-client benchmark driver (one JVM per run).
  *
  * Modes:
  *   - `bench`: set up (session, input check, untimed warm-up passes
  *     with full result checks), then timed passes over the workload's
  *     operations until `--seconds` is spent; with `--trace 1` the window
  *     is split between untraced and traced passes and the traced half
  *     yields the per-layer figures.
  *   - `record`: run each named query twice and write its row count and
  *     result hash per run (the golden file is made from this).
  *
  * The engine is reached only through its public entry points:
  * `SparkEntry.queries`, `WordCount.over`, `MapReduceJob.run` and
  * `Artifacts.clearAll`. Results go to `--out` as JSON; `run.py` turns
  * them into the benchmark's result line.
  */
object Driver {

  // ------------------------------------------------------------ arguments

  private def parse(args: Array[String]): Map[String, String] =
    args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    val cores = Runtime.getRuntime.availableProcessors()
    val tmp = Paths.get(sys.props("java.io.tmpdir"))
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      // the engine's pinned AQE + skew-join contract (as in graft.Bench)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", tmp.resolve("local").toString)
      .config("spark.sql.warehouse.dir", tmp.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").collect()
    val sessionS = (System.nanoTime() - t0) / 1e9
    try a("mode") match {
      case "start" => () // session start-up only (class-data-sharing training)
      case "record" => record(spark, a)
      case "bench" => new Bench(spark, a, cores, sessionS).run()
    } finally spark.stop()
  }

  // ------------------------------------------------------------ results

  /** Order-insensitive digest of a result: md5 over the sorted row
    * strings (row order is the oracle's concern, not the benchmark's). */
  def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.map(_.toString).sorted.foreach { s => md.update(s.getBytes(UTF_8)); md.update('\n'.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }

  private def record(spark: SparkSession, a: Map[String, String]): Unit = {
    val dir = a("data")
    val out = new StringBuilder
    for (name <- a("queries").split(",")) {
      val fn = SparkEntry.queries(name)
      val pack = SparkEntry.packs.find(_.queries.contains(name)).map(_.getClass.getSimpleName.stripSuffix("$"))
      val runs = (1 to 2).map { _ =>
        val t = System.nanoTime()
        val r = try { val rows = fn(spark, dir).collect(); s"${rows.length}\t${digest(rows)}" }
                catch { case e: Throwable => s"-1\t${e.getClass.getName}: ${oneLine(e.getMessage)}" }
        spark.catalog.clearCache()
        System.gc()
        (r, (System.nanoTime() - t) / 1e9)
      }
      out ++= (Seq(name, pack.getOrElse("?")) ++: runs.flatMap(r => Seq(r._1, f"${r._2}%.3f"))).mkString("\t") + "\n"
      System.err.println(s"[record] $name ${runs.map(_._2)}")
    }
    Files.writeString(Paths.get(a("out")), out.toString)
  }

  def oneLine(s: String): String =
    Option(s).getOrElse("").replaceAll("\\s+", " ").take(300)

  def json(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case m: Map[_, _] => m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ",", "]")
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case null => "null"
    case other => json(other.toString)
  }
}

/** One workload operation: `build` runs the engine's query-building code
  * and returns the frame, `check` validates the collected rows (`full`
  * selects the full-result check of the warm-up pass over the row-count
  * check of timed passes) and returns an error message or None. */
final case class Op(name: String, inputBytes: Long, build: () => DataFrame,
                    check: (Array[Row], Boolean) => Option[String])

/** Counters and spans collected from outside the engine: a SparkListener
  * for jobs/stages/tasks/blocks, JMX for GC and JIT, and the codegen
  * statics. Enabled only in traced passes. */
final class Tracer extends SparkListener {
  final case class Span(id: Int, parent: Int, op: String, layer: String, startUs: Long, endUs: Long)
  val spans = mutable.ArrayBuffer.empty[Span]
  val c = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  private val jobs = mutable.ArrayBuffer.empty[(Int, Long, Long)] // job id, start ms, end ms
  private val jobStart = mutable.Map.empty[Int, Long]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageSpans = mutable.ArrayBuffer.empty[(Int, Long, Long)] // job id, start, end
  @volatile var on = false

  override def onJobStart(e: SparkListenerJobStart): Unit = if (on) synchronized {
    jobStart(e.jobId) = e.time
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (on) synchronized {
    jobStart.remove(e.jobId).foreach(s => jobs += ((e.jobId, s, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (on) synchronized {
    val i = e.stageInfo
    c("scheduler.stages") += 1
    for (s <- i.submissionTime; f <- i.completionTime; j <- stageJob.get(i.stageId))
      stageSpans += ((j, s, f))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on) synchronized {
    c("scheduler.tasks") += 1
    if (e.reason != org.apache.spark.Success) c("executor.failed_tasks") += 1
    val m = e.taskMetrics
    if (m != null) {
      c("executor.run_s") += m.executorRunTime / 1e3
      c("executor.cpu_s") += m.executorCpuTime / 1e9
      c("executor.deser_s") += m.executorDeserializeTime / 1e3
      c("executor.gc_s") += m.jvmGCTime / 1e3
      c("shuffle.write_mb") += m.shuffleWriteMetrics.bytesWritten / 1e6
      c("shuffle.records_written") += m.shuffleWriteMetrics.recordsWritten.toDouble
      c("shuffle.read_mb") += m.shuffleReadMetrics.totalBytesRead / 1e6
      c("shuffle.spill_mb") += (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6
    }
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = if (on) synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid) {
      c("storage.blocks_put") += 1
      c("storage.mb_put") += (b.memSize + b.diskSize) / 1e6
    }
  }

  private var nextId = 0
  def span(parent: Int, op: String, layer: String, startUs: Long, endUs: Long): Int = synchronized {
    nextId += 1
    spans += Span(nextId, parent, op, layer, startUs, endUs)
    nextId
  }

  /** Attributes the jobs and stages finished since the last call to the
    * operation: job spans go under the build span when they started
    * inside it (eager jobs), else under the action span. Returns the
    * milliseconds during [fromMs, toMs] covered by at least one job. */
  def closeOp(op: String, buildId: Int, buildEndMs: Long, actionId: Int,
              fromMs: Long, toMs: Long): Long = synchronized {
    c("scheduler.jobs") += jobs.size
    var busy = 0L
    var cursor = fromMs
    for ((id, s, e) <- jobs.sortBy(_._2)) {
      val inBuild = s <= buildEndMs
      if (inBuild) c("operators.eager_jobs") += 1
      val jid = span(if (inBuild) buildId else actionId, op, "scheduler", s * 1000, e * 1000)
      for ((j, ss, se) <- stageSpans if j == id) span(jid, op, "executor", ss * 1000, se * 1000)
      val lo = math.max(s, cursor); val hi = math.min(e, toMs)
      if (hi > lo) { busy += hi - lo; cursor = hi }
    }
    jobs.clear(); stageSpans.clear(); stageJob.clear()
    busy
  }

  /** Self time per layer: span duration minus the union of its children. */
  def selfTimes: Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        var covered = 0L; var cursor = s.startUs
        for (k <- kids.getOrElse(s.id, Nil).sortBy(_.startUs)) {
          val lo = math.max(k.startUs, cursor); val hi = math.min(k.endUs, s.endUs)
          if (hi > lo) { covered += hi - lo; cursor = hi }
        }
        (s.endUs - s.startUs - covered) / 1e6
      }.sum
    }.toMap
  }
}

object Bench {
  val WarmupS = 15.0
}

final class Bench(spark: SparkSession, a: Map[String, String], cores: Int, sessionS: Double) {
  import Driver._

  private val seconds = a("seconds").toDouble
  private val traced = a.getOrElse("trace", "0") == "1"
  private val rng = new scala.util.Random(a("seed").toLong)
  private val artifactRoot = Paths.get(sys.props("java.io.tmpdir"), "graft_artifacts")
  private val tracer = new Tracer
  private val failures = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var attempted = 0
  private val epoch0Us = System.currentTimeMillis() * 1000
  private val nano0 = System.nanoTime()
  private def nowUs: Long = epoch0Us + (System.nanoTime() - nano0) / 1000

  private val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getType == java.lang.management.MemoryType.HEAP &&
      p.getName.matches(".*(Old|Tenured).*"))
  private var oldGenPeakMb = 0.0

  // ------------------------------------------------------------ workloads

  private def ops: Seq[Op] = a("ops") match {
    case "wordcount" => wordCountOps(a("corpus"), a("expected"))
    case "queries" => queryOps(a("data"), a("queries").split(",").toSeq, a("golden"))
  }

  private def wordCountOps(dir: String, expectedTsv: String): Seq[Op] = {
    val text = s"$dir/corpus.txt"
    val bytes = Files.size(Paths.get(text))
    val expected: Map[String, Long] = Files.readAllLines(Paths.get(expectedTsv), UTF_8)
      .asScala.map { l => val Array(w, n) = l.split("\t"); w -> n.toLong }.toMap
    def check(rows: Array[Row], full: Boolean): Option[String] = {
      val got = rows.iterator.map(r => r.getString(0) -> r.getLong(1)).toMap
      if (rows.length != expected.size) Some(s"${rows.length} words, expected ${expected.size}")
      else expected.collectFirst { case (w, n) if !got.get(w).contains(n) =>
        s"count of '$w' is ${got.get(w)}, expected $n" }
    }
    Seq(
      Op("wc_df", bytes, () => WordCount.over(spark.read.text(text), "value"), check),
      Op("wc_mr", bytes, { () =>
        import spark.implicits._
        MapReduceJob.run(spark, spark.read.textFile(text), MapReduceJob.wordCountMap,
          MapReduceJob.wordCountReduce, cores)
          .toDF("word", "n").select(col("word"), col("n").cast("long").as("cnt"))
      }, check))
  }

  private def queryOps(dir: String, names: Seq[String], golden: String): Seq[Op] = {
    val gold: Map[String, (Long, String)] = Files.readAllLines(Paths.get(golden), UTF_8).asScala
      .map(_.split("\t")).map(f => f(0) -> (f(1).toLong, f(2))).toMap
    names.map { name =>
      val fn = SparkEntry.queries(name)
      val (rows, hash) = gold(name)
      Op(name, 0L, () => fn(spark, dir), (got, full) =>
        if (got.length != rows) Some(s"${got.length} rows, expected $rows")
        else if (full && hash != "-" && digest(got) != hash) Some(s"result hash ${digest(got)}, expected $hash")
        else None)
    }
  }

  // ------------------------------------------------------------ one op

  final case class Timed(op: String, seconds: Double, ok: Boolean)

  private def runOp(op: Op, pass: Int, full: Boolean, trace: Boolean): Timed = {
    attempted += 1
    tracer.on = trace
    val codegen0 = CodeGenerator.compileTime
    val classes0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val art0 = artifactDirs
    val opStartMs = System.currentTimeMillis()
    val s0 = nowUs
    val t0 = System.nanoTime()
    var s1, s2 = s0
    val result: Either[String, Array[Row]] = try {
      val df = op.build()
      s1 = nowUs
      if (trace) {
        val qe = df.queryExecution
        qe.executedPlan
        qe.tracker.phases.foreach { case (phase, p) =>
          tracer.c(s"plan.${phase}_s") += (p.endTimeMs - p.startTimeMs) / 1e3 }
      }
      s2 = nowUs
      Right(df.collect())
    } catch {
      case e: Throwable => Left(s"${e.getClass.getName}: ${oneLine(e.getMessage)}")
    }
    val sec = (System.nanoTime() - t0) / 1e9
    val s3 = nowUs
    val err = result.fold(Some(_), op.check(_, full))
    if (trace) {
      ListenerDrain(spark.sparkContext)
      tracer.on = false
      val buildId = tracer.span(0, op.name, "operators", s0, s1)
      tracer.span(0, op.name, "plan", s1, s2)
      val actionId = tracer.span(0, op.name, "scheduler", s2, s3)
      val busyMs = tracer.closeOp(op.name, buildId, s1 / 1000, actionId, opStartMs, s3 / 1000)
      tracer.c("operators.build_s") += (s1 - s0) / 1e6
      tracer.c("scheduler.driver_only_s") += math.max(0.0, sec - busyMs / 1e3)
      tracer.c("codegen.compile_s") += (CodeGenerator.compileTime - codegen0) / 1e9
      tracer.c("codegen.classes") += (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - classes0).toDouble
    }
    val built = artifactDirs -- art0
    artifactBuilds += built.size
    artifactMb += built.toSeq.map(dirBytes).sum / 1e6
    if (trace) {
      tracer.c("artifacts.builds") += built.size
      tracer.c("artifacts.mb_written") += built.toSeq.map(dirBytes).sum / 1e6
    }
    System.err.println(f"[perfbench] pass $pass%d ${op.name}%s $sec%.3fs artifacts=${built.size}%d" +
      (if (err.isEmpty) "" else " FAILED"))
    err.foreach { m =>
      failures += Map("op" -> op.name, "pass" -> pass, "error" -> m)
      System.err.println(s"[perfbench] FAILED ${op.name} (pass $pass): $m")
    }
    // Untimed hygiene between ops, as in graft.Bench: drop leftover caches
    // and let the ContextCleaner reclaim checkpoint/shuffle state now
    // rather than inside the next op's timed region.
    spark.catalog.clearCache()
    System.gc()
    oldGen.foreach(p => Option(p.getCollectionUsage).foreach(u =>
      oldGenPeakMb = math.max(oldGenPeakMb, u.getUsed / 1e6)))
    Timed(op.name, sec, err.isEmpty)
  }

  private var artifactBuilds = 0
  private var artifactMb = 0.0

  /** Finished artifact directories (a build in flight is a `_tmp_` dir). */
  private def artifactDirs: Set[Path] =
    if (!Files.isDirectory(artifactRoot)) Set.empty
    else {
      val s = Files.list(artifactRoot)
      try s.iterator().asScala.filterNot(_.getFileName.toString.contains("_tmp_")).toSet
      finally s.close()
    }

  private def dirBytes(p: Path): Long = {
    val w = Files.walk(p)
    try w.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum finally w.close()
  }

  private def pass(ops: Seq[Op], n: Int, full: Boolean, trace: Boolean): Seq[Timed] =
    rng.shuffle(ops).map(runOp(_, n, full, trace))

  // ------------------------------------------------------------ run

  private def pct(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN else {
      val pos = q * (s.size - 1); val lo = pos.floor.toInt; val hi = pos.ceil.toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  private def jvmCounters: (Double, Double) = (
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3,
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3)

  def run(): Unit = {
    Artifacts.clearAll()
    if (traced) spark.sparkContext.addSparkListener(tracer)
    val tIn = System.nanoTime()
    val workload = ops
    val inputsS = (System.nanoTime() - tIn) / 1e9
    // Warm-up: untimed passes with full result checks until WarmupS is
    // spent (at least one), so the JIT storm of the first passes is not
    // timed; a slow first pass (registry) is its own warm-up.
    val tWarm = System.nanoTime()
    val warm = mutable.ArrayBuffer.empty[Timed]
    while (warm.isEmpty || (System.nanoTime() - tWarm) / 1e9 < Bench.WarmupS)
      warm ++= pass(workload, 0, full = true, trace = false)
    val warmS = (System.nanoTime() - tWarm) / 1e9
    val (setupBuilds, setupMb) = (artifactBuilds, artifactMb)

    // Timed passes: untraced, then (trace runs only) traced. A new pass
    // starts only while the previous one would still fit in the window.
    val passes = mutable.ArrayBuffer.empty[(Boolean, Seq[Timed])]
    def loop(trace: Boolean, budget: Double, minPasses: Int): Unit = {
      val start = System.nanoTime()
      var last = 0.0
      var n = 0
      def spent = (System.nanoTime() - start) / 1e9
      while (n < minPasses || spent + last <= budget) {
        val t = System.nanoTime()
        passes += ((trace, pass(workload, passes.size + 1, full = false, trace)))
        last = (System.nanoTime() - t) / 1e9
        n += 1
      }
    }
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
    if (traced) {
      loop(trace = false, seconds / 2, 1)
      val (gc1, jit1) = jvmCounters
      loop(trace = true, seconds / 2, 1)
      val (gc2, jit2) = jvmCounters
      val k = passes.count(_._1).toDouble
      tracer.c("jvm.gc_s") = (gc2 - gc1) / k
      tracer.c("jvm.jit_s") = (jit2 - jit1) / k
    } else loop(trace = false, seconds, a.getOrElse("min-passes", "2").toInt)
    val heapPeakMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1e6

    // Op latency percentiles are taken over the ops' own medians across
    // the timed passes: each op is one sample, so a workload with two
    // very different ops (wc_df, wc_mr) does not get a p50 that jumps
    // between them, and a one-off slow pass does not move it.
    val untraced = passes.filterNot(_._1).map(_._2)
    val passS = untraced.map(_.map(_.seconds).sum)
    val opMedians = workload.map { op =>
      op -> pct(untraced.flatten.filter(_.op == op.name).map(_.seconds).toSeq, 0.5) }
    val perOp = opMedians.map { case (op, med) =>
      op.name -> Map("median_s" -> med, "n" -> untraced.size,
        "mb_per_s" -> (if (op.inputBytes > 0) op.inputBytes / 1e6 / med else Double.NaN))
    }.toMap
    val endToEnd = Map(
      "setup_s" -> (sessionS + inputsS + warmS),
      "pass_s" -> pct(passS.toSeq, 0.5),
      "op_p50_s" -> pct(opMedians.map(_._2), 0.5),
      "op_p90_s" -> pct(opMedians.map(_._2), 0.9),
      "old_gen_peak_mb" -> oldGenPeakMb)

    val layers: Map[String, Any] = if (!traced) Map.empty else {
      val tracedPasses = passes.filter(_._1).map(_._2)
      val k = tracedPasses.size.toDouble
      val perPass = tracer.c.toMap.map { case (n, v) =>
        n -> (if (n.startsWith("jvm.")) v else v / k) }
      val tracedPassS = pct(tracedPasses.map(_.map(_.seconds).sum).toSeq, 0.5)
      perPass ++ Map(
        "jvm.heap_peak_mb" -> heapPeakMb,
        "artifacts.setup_builds" -> setupBuilds,
        "artifacts.setup_mb" -> setupMb,
        "functions.wc_map_mb_per_s" -> wcMapThroughput(a("sample")),
        "trace.overhead_s" -> (tracedPassS - pct(passS.toSeq, 0.5)),
        "trace.passes" -> k) ++
        tracer.selfTimes.map { case (l, s) => s"self.${l}_s" -> s / k }
    }
    if (traced) writeSpans(Paths.get(a("spans")))

    val all = warm ++ passes.flatMap(_._2)
    val out = Map(
      "attempted" -> attempted,
      "failed" -> all.count(!_.ok),
      "failures" -> failures.toSeq,
      "end_to_end" -> endToEnd,
      "per_layer" -> layers,
      "ops" -> perOp,
      "passes" -> passes.size,
      "pass_s_all" -> passS.toSeq,
      "setup" -> Map("session_s" -> sessionS, "inputs_s" -> inputsS, "warmup_s" -> warmS,
        "artifact_builds" -> setupBuilds, "artifact_mb" -> setupMb),
      "host" -> Map(
        "nproc" -> cores,
        "xmx_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "spark" -> spark.version,
        "jdk" -> sys.props("java.version"),
        "scala" -> scala.util.Properties.versionNumberString))
    Files.writeString(Paths.get(a("out")), json(out))
  }

  /** Single-thread throughput of the MapReduce word-count map function
    * over a fixed sample of corpus lines (median of three sweeps). */
  private def wcMapThroughput(sample: String): Double = {
    val lines = Files.readAllLines(Paths.get(sample), UTF_8).asScala.toIndexedSeq
    val mb = lines.map(_.getBytes(UTF_8).length + 1).sum / 1e6
    var sink = 0
    val rates = (1 to 3).map { _ =>
      val t = System.nanoTime()
      lines.foreach(l => sink += MapReduceJob.wordCountMap(l).size)
      mb / ((System.nanoTime() - t) / 1e9)
    }
    if (sink < 0) println(sink) // keeps the JIT from dropping the loop
    pct(rates, 0.5)
  }

  private def writeSpans(p: Path): Unit = {
    val lines = tracer.spans.map(s => json(Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
      "layer" -> s.layer, "start_us" -> s.startUs, "end_us" -> s.endUs)))
    Files.writeString(p, lines.mkString("", "\n", "\n"))
  }
}
