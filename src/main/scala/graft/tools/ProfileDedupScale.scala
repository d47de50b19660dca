package graft.tools

import org.apache.spark.sql.functions._

/** Dev tool (r13 VERDICT #7): the measured curve behind the "banded,
  * never quadratic" dedup claim. The sf0.1 documents corpus is scaled
  * ×4 and ×16 by unioning deterministically PERTURBED copies (copy c
  * replaces the first token with a copy-specific marker — token count
  * unchanged, so q453's doubling-horizon REQUIRE still holds, and
  * token-Jaccard to the original stays ≈ (n−1)/(n+1) ≥ 0.9 on all but
  * trivially short docs: every copy IS a true near-duplicate). For
  * each corpus the sweep records
  *   - the LSH BAND-JOIN candidate-pair count and wall (q41's emit-once
  *     generator — the number that must grow ~linearly with the
  *     near-dup mass, NOT with corpus², because pairs only form inside
  *     shared band buckets);
  *   - the full registered q41 (MinHash+LSH verify) wall and pair rows;
  *   - the full registered q453 (suffix-array dedup) wall and rows.
  * Results land in PROFILE_DEDUP_SCALE.json (cited in SURVEY §2's
  * dedup note, next to PROFILE_HNSW_SEEDS.json).
  *
  * Usage: runMain graft.tools.ProfileDedupScale [sfDir] [multipliers]
  */
object ProfileDedupScale {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val mults = args.lift(1).map(_.split(",").map(_.toInt).toSeq)
      .getOrElse(Seq(1, 4, 16))
    val spark = graft.core.Session.local(32)

    /** ×mult corpus dir: copy 0 is the original; copy c > 0 gets
      * doc_id += c·(max+1) and its FIRST token replaced by a
      * copy-specific marker (token count preserved). */
    def corpusDir(mult: Int): String =
      if (mult == 1) sfDir
      else {
        val out = s"${sys.props("java.io.tmpdir")}/graft_dedup_scale/x$mult"
        val base = spark.read.parquet(s"$sfDir/documents.parquet")
        val n = base.agg(max("doc_id")).head().getLong(0) + 1
        (0 until mult).map { c =>
          if (c == 0) base
          else base.select(
            (col("doc_id") + lit(c * n)).as("doc_id"),
            regexp_replace(col("text"), "^[^ ]+", s"dupmark$c").as("text"),
            col("lang"), col("source"), col("n_chars"))
        }.reduce(_ unionByName _)
          .write.mode("overwrite").parquet(s"$out/documents.parquet")
        out
      }

    val results = for (m <- mults) yield {
      val d = corpusDir(m)
      val docs = graft.core.Tables.documents(spark, d)
      val nDocs = docs.count()

      // q41's candidate generator in isolation: band index + emit-once
      // self-join — the pair budget BEFORE any exact verification
      val t0 = System.nanoTime()
      val bands = graft.operators.DedupPack.minhashBands(
        graft.operators.DedupPack.minhashDocs(docs))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      bands.count()
      val cand = bands.as("a").join(bands.as("b"),
          col("a.band_id") === col("b.band_id") &&
          col("a.band_val") === col("b.band_val") &&
          col("a.doc_id") < col("b.doc_id") &&
          (col("a.band_id") === 0 || col("a.b0") =!= col("b.b0")))
        .count()
      val candSec = (System.nanoTime() - t0) / 1e9
      bands.unpersist()

      val t1 = System.nanoTime()
      val q41Rows = graft.SparkEntry.queries("q41_dedup_minhash")(spark, d).count()
      val q41Sec = (System.nanoTime() - t1) / 1e9
      spark.catalog.clearCache()

      val t2 = System.nanoTime()
      val q453Rows = graft.SparkEntry.queries("q453_suffix_dedup")(spark, d).count()
      val q453Sec = (System.nanoTime() - t2) / 1e9
      spark.catalog.clearCache()

      println(f"xN=$m%3d docs=$nDocs%7d cand=$cand%9d (${candSec}%5.1f s) " +
        f"q41=$q41Rows%7d (${q41Sec}%5.1f s) q453=$q453Rows%5d (${q453Sec}%5.1f s)")
      s"""{"mult":$m,"n_docs":$nDocs,"cand_pairs":$cand,"cand_sec":$candSec,""" +
        s""""q41_pairs":$q41Rows,"q41_sec":$q41Sec,""" +
        s""""q453_rows":$q453Rows,"q453_sec":$q453Sec}"""
    }
    val json = s"""{"sf":"$sfDir","sweep":[${results.mkString(",")}]}"""
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("PROFILE_DEDUP_SCALE.json"), json + "\n")
    println(json)
    spark.stop()
  }
}
