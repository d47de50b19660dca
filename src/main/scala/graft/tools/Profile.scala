package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.Bench
import graft.core.Session

/** Dev tool: times registered queries through `Bench.timeOne` (the
  * bench's session, timed region and untimed cleanup) and prints seconds
  * per pass. The per-layer split of a run is `perfbench/run.py --trace 1`.
  *
  * Usage: runMain graft.tools.Profile <sfDir> [queriesCsv] [mult]
  *   env SPARK_GRAFT_CPUS (default 32), SPARK_GRAFT_TIME_PASSES (2).
  * The default query list is the sf0.1 cost tail.
  *
  * At `mult` 1 (the default) the queries run on `sfDir`. Above 1 they run
  * on a ×mult corpus built once from `sfDir` and append one JSON line per
  * query to PROFILE_SCALE.json: parallel scaling (r14 VERDICT #1), since
  * at sf0.1 (~17 MB) every multi-second query is bound by per-query fixed
  * cost and the suite runs FASTER at 8 cores than 32. Each copy keeps
  * sf0.1's structure while copies stay disjoint (no cross-copy
  * near-duplicate mass, so candidate volumes and join outputs scale
  * LINEARLY in N):
  *
  *   - documents: copy c>0 gets doc_id += c·nDocs and every
  *     whitespace-token suffixed with an alnum marker ("q<c>") — token
  *     counts identical, vocabularies disjoint across copies;
  *   - embeddings: copy c>0 gets vec_id += c·nVecs and the vector
  *     CIRCULARLY ROTATED by c dims — cosine is invariant under a
  *     permutation applied to both sides, so each copy's neighbor
  *     structure equals the original's, while cross-copy cosines are
  *     uncorrelated;
  *   - events: copy c>0 gets user_id/event_id shifted — per-user day
  *     streak structure preserved, user count ×N;
  *   - all other tables copied verbatim.
  *
  * Artifacts for the scaled corpus are keyed on its own fingerprint, so
  * pass1 at the first core count builds them — compare pass2 numbers
  * across core counts.
  */
object Profile {
  private val defaultQueries = Seq(
    "q415_streak_recursive", "q376_nb_cv_kfold", "q230_banding_sweep",
    "q414_dbscan", "q150_dsir_importance", "q54_ann_recall",
    "q452_ann_hnsw", "q455_hnsw_delta_insert", "q458_hnsw_beam_curve",
    "q467_ann_hnsw_hier", "q470_ann_dedup_then_index",
    "q254_perplexity_filter", "q453_suffix_dedup", "q223_mmr_diversify",
    "q168_ppjoin_exact")

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args.lift(1).map(_.split(",").toSeq).getOrElse(defaultQueries)
    val mult = args.lift(2).map(_.toInt).getOrElse(1)
    val cpus = Session.defaultCpus
    val passes = sys.env.getOrElse("SPARK_GRAFT_TIME_PASSES", "2").toInt
    val spark = Session.local(cpus)
    spark.range(1000).selectExpr("sum(id)").collect()

    val dir = if (mult == 1) sfDir else {
      val out = s"${sys.props("java.io.tmpdir")}/graft_scale/x$mult"
      val marker = java.nio.file.Paths.get(s"$out/_SCALE_DONE")
      if (!java.nio.file.Files.exists(marker)) {
        buildScaled(spark, sfDir, out, mult)
        java.nio.file.Files.createFile(marker)
      }
      out
    }

    val qs = graft.SparkEntry.queries
    names.foreach { name =>
      val secs = (1 to passes).map { pass =>
        // a query whose in-query semantics REQUIRE is calibrated to the
        // real corpus (e.g. an HNSW recall floor) may legitimately fail
        // on the synthetic ×N data; record it and keep sweeping
        val (sec, failure) = Bench.timeOne(spark, dir, qs(name))
        val tag = s"[profile x$mult c$cpus] $name pass$pass"
        failure match {
          case None => println(f"$tag $sec%7.2f s"); Some(sec)
          case Some(e) => println(s"$tag FAILED: ${Bench.describe(e)}"); None
        }
      }
      if (mult > 1) {
        val cell =
          if (secs.forall(_.isEmpty)) "\"gate_failed\""
          else s"[${secs.flatten.map(s => f"$s%.3f").mkString(",")}]"
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get("PROFILE_SCALE.json"),
          s"""{"mult":$mult,"cpus":$cpus,"q":"$name","secs":$cell}""" + "\n",
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.APPEND)
      }
    }
    spark.stop()
  }

  private def buildScaled(spark: SparkSession, sfDir: String, out: String,
      mult: Int): Unit = {
    // documents: token-suffixed disjoint copies
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val nDocs = docs.agg(max("doc_id")).head().getLong(0) + 1
    (0 until mult).map { c =>
      if (c == 0) docs
      else docs.select(
        (col("doc_id") + lit(c * nDocs)).as("doc_id"),
        regexp_replace(col("text"), "(\\S+)", "$1q" + c).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    // embeddings: rotated disjoint copies (cosine-structure-preserving)
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val nVecs = emb.agg(max("vec_id")).head().getLong(0) + 1
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    (0 until mult).map { c =>
      if (c == 0) emb
      else {
        val rot = c % dim
        emb.select(
          (col("vec_id") + lit(c * nVecs)).as("vec_id"),
          expr(s"concat(slice(embedding, ${rot + 1}, ${dim - rot}), " +
            s"slice(embedding, 1, $rot))").as("embedding"),
          col("label"))
      }
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    // events: user-shifted copies (streak/session structure preserved).
    // Written in FILE schema (ts passes through untouched).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
    val nUsers = ev.agg(max("user_id")).head().getLong(0) + 1
    val nEvents = ev.agg(max("event_id")).head().getLong(0) + 1
    (0 until mult).map { c =>
      if (c == 0) ev
      else ev.withColumn("user_id", col("user_id") + lit(c * nUsers))
        .withColumn("event_id", col("event_id") + lit(c * nEvents))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$out/events.parquet")

    // remaining tables verbatim
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem")) {
      spark.read.parquet(s"$sfDir/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
  }
}
