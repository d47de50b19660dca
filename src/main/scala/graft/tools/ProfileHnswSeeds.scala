package graft.tools

import org.apache.spark.sql.functions._

/** Dev tool answering the r12-verdict question about the q452 graph-ANN
  * lane: the production beam search anchors on a CONSTANT ~32-seed
  * entry set at every corpus size (hnswSeedMod), standing in for HNSW's
  * log-depth upper layers — does that constant hold as N grows, or does
  * recall decay until a real layer hierarchy is needed?
  *
  * Method: the sf0.1 embeddings corpus is scaled ×4 and ×16 by unioning
  * deterministically PERTURBED copies (per-element hash noise — copies
  * are near the originals but distinct post-quantization, keeping the
  * same near-orthogonal geometry), the FULL production pipeline (index
  * artifact → LSH∪IVF edge pool → bounded-degree graph → fixed-round
  * beam) runs on each corpus, and recall vs the q50 brute truth is
  * measured at ~8 / ~32 / ~128 seeds. Results land in
  * PROFILE_HNSW_SEEDS.json next to the repo (cited in SURVEY §2's HNSW
  * note).
  *
  * With arguments, the record is only printed.
  *
  * Usage: runMain graft.tools.ProfileHnswSeeds [sfDir] [multipliers]
  */
object ProfileHnswSeeds {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val mults = args.lift(1).map(_.split(",").map(_.toInt).toSeq)
      .getOrElse(Seq(1, 4, 16))
    val seedsLog2s = Seq(3, 5, 7)
    val spark = graft.core.Session.local(32)

    /** ×mult corpus dir: copy 0 is the original (queries vec_id < 5
      * stay put); copy c > 0 gets vec_id += c·(max+1) and per-element
      * hash noise ≈ ±5% of the value range. */
    def corpusDir(mult: Int): String =
      if (mult == 1) sfDir
      else {
        val out = s"${sys.props("java.io.tmpdir")}/graft_seed_sweep/x$mult"
        val base = spark.read.parquet(s"$sfDir/embeddings.parquet")
        val n = base.agg(max("vec_id")).head().getLong(0) + 1
        val copies = (0 until mult).map { c =>
          if (c == 0) base
          else base.select(
            (col("vec_id") + lit(c * n)).as("vec_id"),
            expr(s"""transform(embedding, (x, i) ->
                     x + cast(abs(hash(vec_id, $c, i)) % 1000 - 500 as float) / 10000.0f)""")
              .as("embedding"),
            col("label"))
        }.reduce(_ unionByName _)
        copies.write.mode("overwrite").parquet(s"$out/embeddings.parquet")
        out
      }

    val results = (for (m <- mults; sl <- seedsLog2s) yield {
      val d = corpusDir(m)
      val t0 = System.nanoTime()
      val (n, seeds, recall) =
        graft.operators.SimilarityPack.hnswSeedProbe(spark, d, sl)
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"xN=$m%3d  n=$n%7d  seeds=$seeds%5d  recall=$recall%1.3f  (${sec}%5.1f s)")
      s"""{"mult":$m,"n":$n,"seeds":$seeds,"recall":$recall}"""
    }) ++ (for (m <- mults) yield {
      // the hierarchical lane (q467) on the same corpora — the descent
      // whose entry cost does NOT grow with N, vs the flat arms above
      val d = corpusDir(m)
      val t0 = System.nanoTime()
      val recall = graft.operators.SimilarityPack.hnswHierRecallProbe(spark, d)
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"xN=$m%3d  HIERARCHICAL       recall=$recall%1.3f  (${sec}%5.1f s)")
      s"""{"mult":$m,"hier":true,"recall":$recall}"""
    }) ++ (for (m <- mults) yield {
      // the q470 production answer to the near-dup regime: SemDeDup
      // representative election BEFORE indexing, the q452 graph built
      // over reps only, rep-credited recall vs the full-corpus truth —
      // the arm that must HOLD where the raw-corpus arms above decay
      // (a near-copy-saturated graph spends its M edges on copies)
      val d = corpusDir(m)
      val t0 = System.nanoTime()
      val (n, nReps, recall) =
        graft.operators.SimilarityPack.hnswDedupRecallProbe(spark, d)
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"xN=$m%3d  DEDUP-THEN-INDEX   recall=$recall%1.3f  " +
        f"(n=$n%7d reps=$nReps%7d, ${sec}%5.1f s)")
      s"""{"mult":$m,"dedup_then_index":true,"n":$n,"n_reps":$nReps,"recall":$recall}"""
    })
    val json = s"""{"sf":"$sfDir","beam":${graft.operators.SimilarityPack.hnswBeam},""" +
      s""""m":${graft.operators.SimilarityPack.hnswM},""" +
      s""""rounds":${graft.operators.SimilarityPack.hnswRounds},""" +
      s""""sweep":[${results.mkString(",")}]}"""
    // the tracked file records the documented sweep only; a run with
    // arguments just prints its record
    if (args.isEmpty)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get("PROFILE_HNSW_SEEDS.json"), json + "\n")
    println(json)
    spark.stop()
  }
}
