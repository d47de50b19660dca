package graft.operators

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{QueryPack, Tables}
import graft.functions.VectorFunctions._

/** Approximate-nearest-neighbor search over the `embeddings` table.
  *
  *   - q50: brute-force exact cosine top-k — the correctness baseline.
  *     O(Q·N) with Q small; the plan is a broadcast of the Q query vectors
  *     against a single scan of the corpus (no shuffle of the big side).
  *   - q51: random-hyperplane LSH bucketing — the scale path. L=4
  *     independent hash tables, each assigning a b-bit signature (sign of
  *     projection onto b fixed pseudo-random hyperplanes); search touches
  *     only the query's bucket in each table.
  *   - q52: multi-probe — additionally searches every Hamming-1 neighbor
  *     bucket in each table.
  *
  * The bucket width b is DERIVED FROM THE CORPUS SIZE, not hard-coded:
  * b = clamp(ceilLog2(N) - 3, 4, 24), so the expected bucket occupancy
  * N/2^b stays <= 8 until the 24-bit cap (16.7M buckets) — at 10^9
  * vectors that is ~60 candidates per probe, never a quadratic blowup.
  * Both engines compute b from their own `count(*)` over the corpus (the
  * oracle with an integer CASE ladder), so the derivation is part of the
  * gated semantics. Recall comes from the L independent tables plus
  * multi-probe, not from under-sized buckets (round 3's fixed 6-bit
  * single table shattered neighbors: multi-probe recall 0.36).
  *
  * The vector index (vec_id, quantized vector, norm, L bucket ids) is a
  * materialized ARTIFACT written `partitionBy(bucket_0)` — the 100 TB
  * layout where a single-bucket probe is a partition-pruned read
  * (PartitionPruningSpec proves the pruned scan), and the per-table
  * bucket joins are plain equi-joins against it.
  *
  * The hyperplanes are derived deterministically from md5 (computed once
  * here in Scala, inlined as literals into BOTH the Spark plan and the
  * DuckDB oracle), so both engines see the identical structure. All inner
  * products use the exact fixed-point arithmetic of
  * [[graft.functions.VectorFunctions]].
  */
object SimilarityPack extends QueryPack {

  private[operators] val dim = 64
  /** Independent LSH tables. */
  private[graft] val nTables = 4
  /** Cap on per-table bucket bits (2^24 buckets). */
  private[graft] val bMax = 24
  private[operators] val topK = 5

  /** Deterministic hyperplane coefficients c(t)(h)(i) ∈ [-8, 7]: the
    * first md5 nibble of "t:h:i", minus 8. Same derivation any engine
    * could reproduce; inlined as literals on both sides.
    */
  private[operators] val planes: Seq[Seq[Seq[Int]]] = {
    def md5hex(s: String): String =
      MessageDigest.getInstance("MD5")
        .digest(s.getBytes(StandardCharsets.UTF_8))
        .map("%02x".format(_)).mkString
    (0 until nTables).map(t =>
      (0 until bMax).map(h =>
        (0 until dim).map(i => Integer.parseInt(md5hex(s"$t:$h:$i").substring(0, 1), 16) - 8)))
  }

  /** Smallest p with 2^p >= n (n >= 1). */
  private[graft] def ceilLog2(n: Long): Int =
    if (n <= 1) 0 else 64 - java.lang.Long.numberOfLeadingZeros(n - 1)

  /** Corpus-size-derived bucket bits: expected occupancy N/2^b <= 8
    * until the cap. */
  private[graft] def bucketBitsFor(n: Long): Int =
    math.min(bMax, math.max(4, ceilLog2(n) - 3))

  private val countMemo = scala.collection.concurrent.TrieMap.empty[String, Long]

  /** Corpus size under `d` — one metadata-cheap count, memoized by the
    * corpus FINGERPRINT (not the path): a corpus regenerated in place
    * within a long-lived JVM invalidates the memo exactly when
    * [[graft.core.Artifacts.corpusKey]] (and hence every artifact name
    * and the oracle) sees the new data, so N and the derived bucket
    * width can never go stale against them. */
  private[operators] def corpusCount(s: SparkSession, d: String): Long =
    countMemo.getOrElseUpdate(
      graft.core.Artifacts.corpusKey(d, "embeddings.parquet"),
      Tables.embeddings(s, d).count())

  /** b for the corpus under `d`. The oracle derives the same value in
    * SQL ([[paramCte]]). */
  private[graft] def bucketBits(s: SparkSession, d: String): Int =
    bucketBitsFor(corpusCount(s, d))

  /** IVF cell count ∝ √N: the smallest power of two >= sqrt-ish of the
    * corpus (2^ceil(ceilLog2(N)/2)) — 32 cells at N=500, 64 at N=2000,
    * 2^15 at N=10^9. The oracle mirrors it with the same integer ladder.
    */
  private[graft] def ivfCellsFor(n: Long): Int = 1 << ((ceilLog2(n) + 1) / 2)

  /** Cells probed per query: k/2 (>= 2). nprobe is the recall knob of
    * every IVF deployment; this corpus is near-uniform random (hyperplane
    * bits are coin flips, cells overlap every query's true neighborhood),
    * so holding a high recall SLA costs a large probe fraction — on real
    * clustered embeddings the same k supports nprobe ≪ k. The scale
    * story is unchanged either way: a query reads nprobe cell partitions,
    * never the corpus. */
  private[graft] def ivfProbesFor(k: Int): Int = math.max(2, k / 2)

  /** Spark: b-bit LSH bucket of a quantized vector column in table t.
    * Integer math throughout — exact under any evaluation order. */
  private[operators] def bucketCol(q: Column, t: Int, b: Int): Column =
    (0 until b).map { h =>
      val coeffs = array(planes(t)(h).map(c => lit(c.toLong)): _*)
      val proj = graft.functions.GraftExpressions.longArrayDot(q, coeffs)
      when(proj >= 0, lit(1 << h)).otherwise(lit(0))
    }.reduce(_ + _)

  /** The ANN index as a bucket-partitioned ARTIFACT: quantized vectors +
    * norms + the L per-table bucket ids, written `partitionBy(bucket_0)`
    * once per corpus. This is the 100 TB storage layout: a probe of one
    * bucket is a partition-pruned read of table 0 (the other tables'
    * buckets are columns to equi-join on), and rebuilding signatures per
    * query disappears. The artifact name carries b so a corpus-size
    * change can never alias an index built at another width.
    */
  private[graft] def annIndex(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftExpressions.ensure(s)
    val b = bucketBits(s, d)
    val key = graft.core.Artifacts.corpusKey(d, "embeddings.parquet")
    val path = graft.core.Artifacts.materialize(s"ann_index_v1_b${b}_L${nTables}_$key") { tmp =>
      val base = Tables.embeddings(s, d)
        .select(col("vec_id"), quantize(col("embedding")).as("q"))
        .withColumn("norm", sqrt(normSqQ(col("q"))))
      (0 until nTables).foldLeft(base) { (df, t) =>
          df.withColumn(s"bucket_$t", bucketCol(col("q"), t, b))
        }
        // cluster rows by the partition column BEFORE the partitioned
        // write: without it every task writes to every bucket directory
        // (tasks × 2^b files); with it each bucket's rows land in one task
        .repartition(col("bucket_0"))
        .write.partitionBy("bucket_0").mode("overwrite").parquet(tmp)
    }
    s.read.parquet(path)
  }

  /** The index, eagerly cached for queries whose plans scan it from
    * several branches. The underlying artifact read is already cheap;
    * the persist just stops branch races from re-reading. */
  private[graft] def persistedVecs(s: SparkSession, d: String): DataFrame =
    warmed(annIndex(s, d))

  // ---- probe machinery: L tables, emit-once across tables ----

  /** Corpus side exploded per table: (vec_id, q, norm, cb0..cb3, ctbl, cb). */
  private def corpusBands(vecs: DataFrame): DataFrame = {
    val renamed = (0 until nTables).foldLeft(vecs) { (df, t) =>
      df.withColumnRenamed(s"bucket_$t", s"cb$t")
    }
    renamed.select(
      Seq(col("vec_id"), col("q"), col("norm")) ++
        (0 until nTables).map(t => col(s"cb$t")) :+
        posexplode(array((0 until nTables).map(t => col(s"cb$t")): _*))
          .as(Seq("ctbl", "cb")): _*)
  }

  /** Probe side: the filtered query rows exploded over (table, probed
    * bucket) for every flip mask (identity + Hamming-1 flips when
    * maxHam = 1): (q_id, qq, qnorm, qb0..qb3, tbl, pb). */
  private def probeRows(vecs: DataFrame, filterCond: Column, b: Int, maxHam: Int): DataFrame = {
    val masks = if (maxHam == 0) Seq(0) else 0 +: (0 until b).map(1 << _)
    val combos = for (t <- 0 until nTables; m <- masks)
      yield struct(lit(t).as("tbl"),
        (col(s"bucket_$t").bitwiseXOR(lit(m))).as("pb"))
    vecs.filter(filterCond)
      .select(
        Seq(col("vec_id").as("q_id"), col("q").as("qq"), col("norm").as("qnorm")) ++
          (0 until nTables).map(t => col(s"bucket_$t").as(s"qb$t")) :+
          explode(array(combos: _*)).as("pr"): _*)
      .select(
        Seq(col("q_id"), col("qq"), col("qnorm")) ++
          (0 until nTables).map(t => col(s"qb$t")) ++
          Seq(col("pr.tbl").as("tbl"), col("pr.pb").as("pb")): _*)
  }

  /** Emit-once across tables: a (probe, corpus) pair that already
    * matched (within maxHam) in an earlier table must not match again —
    * every candidate pair is produced by exactly one (table, flip), so
    * no distinct() ever runs over the candidate stream. Within one
    * table a pair matches at most one flip mask (the xor of the two
    * buckets is a single value), so no within-table condition is needed.
    */
  private def emitOnceAcrossTables(maxHam: Int): Column =
    (0 until nTables - 1).map { j =>
      col("tbl") <= j || expr(s"bit_count(qb$j ^ cb$j) > $maxHam")
    }.reduce(_ && _)

  /** Bucket-joined candidates: probes × corpus on (table, bucket),
    * deduped by construction. */
  private def candidates(vecs: DataFrame, filterCond: Column, b: Int, maxHam: Int,
                         pairCond: Column): DataFrame =
    probeRows(vecs, filterCond, b, maxHam).join(corpusBands(vecs),
      col("ctbl") === col("tbl") && col("cb") === col("pb") &&
        pairCond && emitOnceAcrossTables(maxHam))

  // ---- method bodies over a shared vector table (q54 composes them
  // without rebuilding it per method) ----

  private def bruteTopK(vecs: DataFrame): DataFrame = {
    val queriesDf = vecs.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("q").as("qq"), col("norm").as("qnorm"))
    val w = Window.partitionBy(col("q_id")).orderBy(desc("cosine"), asc("vec_id"))
    queriesDf.join(vecs, col("vec_id") =!= col("q_id"))
      .withColumn("cosine", cosineQ(col("qq"), col("q"), col("qnorm"), col("norm")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= topK)
      .select(col("q_id"), col("rk"), col("vec_id"), col("cosine"))
  }

  private def lshTopK(vecs: DataFrame, b: Int): DataFrame = {
    val w = Window.partitionBy(col("q_id")).orderBy(desc("cosine"), asc("vec_id"))
    candidates(vecs, col("vec_id") < 20, b, maxHam = 0,
        pairCond = col("vec_id") =!= col("q_id"))
      .withColumn("cosine", cosineQ(col("qq"), col("q"), col("qnorm"), col("norm")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= topK)
      .select(col("q_id"), col("rk"), col("vec_id"), col("cb").as("bucket"), col("cosine"))
  }

  private def multiprobeTopK(vecs: DataFrame, b: Int): DataFrame = {
    val w = Window.partitionBy(col("q_id")).orderBy(desc("cosine"), asc("vec_id"))
    candidates(vecs, col("vec_id") < 20, b, maxHam = 1,
        pairCond = col("vec_id") =!= col("q_id"))
      .withColumn("cosine", cosineQ(col("qq"), col("q"), col("qnorm"), col("norm")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= topK)
      .select(col("q_id"), col("rk"), col("vec_id"), col("cosine"))
  }

  // ---- HNSW-family graph ANN (q452): bounded-degree kNN graph +
  // fixed-round relational beam search (Malkov & Yashunin 2016,
  // TPAMI — the production-dominant ANN structure; this is its flat
  // two-level relational re-expression: a constant-size seed set plays
  // the hierarchy's upper layers, the bounded-degree graph is layer 0).

  /** Graph degree bound (HNSW's M). Chosen by a recall sweep at sf0.1
    * (recorded in SURVEY.md's q452 entry): degree 16 stalls at recall
    * 0.80 (the greedy local optimum a too-sparse graph can't escape on
    * this near-orthogonal corpus); 32 clears the q53-lane floor with
    * margin. */
  private[graft] val hnswM = 32
  /** Beam width (HNSW's ef). */
  private[graft] val hnswBeam = 24
  /** Fixed expansion rounds — relational beam search must be a static
    * plan, so the greedy loop is unrolled to a fixed depth. */
  private[graft] val hnswRounds = 4
  /** q458's beam-width sweep arms. */
  private[graft] val hnswCurveBeams = Seq(4, 8, 24)
  /** Seed stride: vec_id % sm == 0 picks ~2^5 = 32 entry points at any
    * corpus size (sm = 2^(ceilLog2 N − 5)) — the constant-size "upper
    * layer" whose exhaustive scoring anchors the beam, like HNSW's
    * log-depth descent reaching layer 0 with a good entry. */
  private[graft] def hnswSeedMod(n: Long): Long =
    1L << math.max(2, ceilLog2(n) - 5)

  /** The bounded-degree kNN graph as a once-per-corpus ARTIFACT: edge
    * pool = LSH multiprobe candidate pairs (q45's emit-once machinery,
    * no cosine floor) ∪ IVF same-cell pairs (q102's partition-local
    * budget) — both bucket/cell-bounded, NEVER an all-pairs scan — then
    * per-node top-M by exact cosine, symmetrized first so every edge is
    * navigable in both directions (HNSW's bidirectional link repair).
    * At 100 TB this is NN-descent-by-LSH-seeding: candidate generation
    * stays bucket-local, the per-node top-M is one window over the
    * pooled candidates, and the stored adjacency is repartitioned by
    * src so a frontier expansion is a co-located join. */
  private[graft] def hnswGraph(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftExpressions.ensure(s)
    val key = graft.core.Artifacts.corpusKey(d, "embeddings.parquet")
    val b = bucketBits(s, d)
    val path = graft.core.Artifacts.materialize(
      s"hnsw_graph_v1_M${hnswM}_$key") { tmp =>
      val vecs = persistedVecs(s, d)
      val lsh = nearDupPairs(vecs, b, minCosine = -2.0)
      val ranked = ivfRanked(s, d, vecs, ivfCellsFor(corpusCount(s, d)))
      val cellsA = ranked.filter(col("arn") === 1)
        .select(col("cell"), col("vec_id").as("vec_i"),
          col("q").as("qa"), col("norm").as("na"))
      val cellsB = ranked.filter(col("arn") === 1)
        .select(col("cell"), col("vec_id").as("vec_j"),
          col("q").as("qb"), col("norm").as("nb"))
      val cellPairs = cellsA.join(cellsB, "cell")
        .filter(col("vec_i") < col("vec_j"))
        .withColumn("cosine", cosineQ(col("qa"), col("qb"), col("na"), col("nb")))
        .select("vec_i", "vec_j", "cosine")
      val pool = lsh.select("vec_i", "vec_j", "cosine").union(cellPairs)
      // symmetrize, dedupe (a pair can surface in both pools — the
      // cosine arithmetic is identical, so full-row distinct collapses
      // them), then keep each node's top-M
      val sym = pool.select(col("vec_i").as("src"), col("vec_j").as("dst"), col("cosine"))
        .union(pool.select(col("vec_j").as("src"), col("vec_i").as("dst"), col("cosine")))
        .distinct()
      val wN = Window.partitionBy("src").orderBy(desc("cosine"), asc("dst"))
      sym.withColumn("nrk", row_number().over(wN))
        .filter(col("nrk") <= hnswM)
        .select("src", "dst")
        .repartition(col("src"))
        .write.mode("overwrite").parquet(tmp)
      ranked.unpersist(); vecs.unpersist()
    }
    s.read.parquet(path)
  }

  // ---- TRUE multi-layer hierarchy (q467): the log-depth answer to
  // PROFILE_HNSW_SEEDS.json's finding that a constant entry set stops
  // holding past ~10⁴ vectors. Layer membership is deterministic
  // nesting (vec_id % 8^l == 0 — HNSW's geometric level assignment
  // with mL = 1/ln 8), the TOP layer is scored exhaustively (≤ N/64
  // nodes — the constant-ish apex), and each layer's beam output seeds
  // the next layer down, ending in the SAME layer-0 graph + beam
  // budget q452 ships. Entry count per layer hop is hierCarryK.
  private[graft] val hierL1Mod = 8L
  private[graft] val hierL2Mod = 64L
  private[graft] val hierCarryK = 8
  private[graft] val hierL1Beam = 8
  private[graft] val hierL1Rounds = 2

  /** q467's descent: apex (% hierL2Mod) scored exhaustively → top-K
    * entries → layer-1 beam over [[hnswLayerGraph]] → layer-0 beam over
    * the q452 graph with its shipped budget. Returns the ranked top-k
    * frame (q_id, rk, vec_id, cosine). */
  private[graft] def hierTopK(s: SparkSession, d: String,
                              vecs: DataFrame): DataFrame = {
    val corpus = vecs.select(col("vec_id"), col("q"), col("norm"))
    val queriesDf = vecs.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("q").as("qq"), col("norm").as("qnorm"))
    def topCarry(scored: DataFrame): DataFrame = scored
      .withColumn("crk", row_number().over(
        Window.partitionBy("q_id").orderBy(desc("cosine"), asc("vec_id"))))
      .filter(col("crk") <= hierCarryK)
      .select("q_id", "vec_id")
    // apex: exhaustive over the % hierL2Mod layer
    val entry = topCarry(queriesDf
      .crossJoin(corpus.filter(pmod(col("vec_id"), lit(hierL2Mod)) === 0)
        .select(col("vec_id"), col("q"), col("norm")))
      .withColumn("cosine", cosineQ(col("qq"), col("q"), col("qnorm"), col("norm")))
      .select("q_id", "vec_id", "cosine"))
    // layer 1: short beam over the member graph
    val g1 = warmed(hnswLayerGraph(s, d, hierL1Mod))
    val l1corpus = corpus.filter(pmod(col("vec_id"), lit(hierL1Mod)) === 0)
    val l1top = topCarry(beamSearchFrom(g1, l1corpus, queriesDf, entry,
      hierL1Beam, hierL1Rounds))
    // layer 0: q452's graph and budget, entered from layer 1
    val g0 = warmed(hnswGraph(s, d))
    val out = beamSearchFrom(g0, corpus, queriesDf, l1top, hnswBeam, hnswRounds)
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("q_id").orderBy(desc("cosine"), asc("vec_id"))))
      .filter(col("rk") <= topK)
      .select(col("q_id"), col("rk"), col("vec_id"), col("cosine"))
      .localCheckpoint()
    g1.unpersist(); g0.unpersist()
    out
  }

  /** Sweep hook (ProfileHnswSeeds): the hierarchical lane's recall vs
    * the q50 brute truth on whatever corpus `d` holds. */
  private[graft] def hnswHierRecallProbe(s: SparkSession, d: String): Double = {
    val vecs = persistedVecs(s, d)
    val out = hierTopK(s, d, vecs)
    val truth = bruteTopK(vecs).select("q_id", "vec_id")
    val r = out.select("q_id", "vec_id").join(truth, Seq("q_id", "vec_id")).count()
      .toDouble / truth.count()
    vecs.unpersist()
    r
  }

  /** Layer-l graph: [[hnswGraph]]'s pool construction restricted to the
    * layer's members (vec_id % mod == 0) — LSH pairs among members (the
    * shared index's buckets) ∪ same-cell pairs of an IVF model trained
    * ON THE MEMBERS (cells ∝ √|layer|, the hnswBaseGraph discipline) —
    * then per-node top-M, symmetrized. Its own once-per-corpus
    * artifact; the q467 oracle replays it via the prefixed graph CTEs. */
  private[graft] def hnswLayerGraph(s: SparkSession, d: String,
                                    mod: Long): DataFrame = {
    graft.functions.GraftExpressions.ensure(s)
    val key = graft.core.Artifacts.corpusKey(d, "embeddings.parquet")
    val b = bucketBits(s, d)
    val path = graft.core.Artifacts.materialize(
      s"hnsw_layer${mod}_graph_v1_M${hnswM}_$key") { tmp =>
      val vecs = persistedVecs(s, d)
      val members = vecs.filter(pmod(col("vec_id"), lit(mod)) === lit(0L))
      val nMembers = members.count()
      val lsh = nearDupPairs(members, b, minCosine = -2.0)
      val ranked = ivfRanked(s, d,
        members.select("vec_id", "q", "norm"),
        ivfCellsFor(nMembers), tag = s"_hl$mod")
      val cells = ranked.filter(col("arn") === 1)
      val cellsA = cells.select(col("cell"), col("vec_id").as("vec_i"),
        col("q").as("qa"), col("norm").as("na"))
      val cellsB = cells.select(col("cell"), col("vec_id").as("vec_j"),
        col("q").as("qb"), col("norm").as("nb"))
      val cellPairs = cellsA.join(cellsB, "cell")
        .filter(col("vec_i") < col("vec_j"))
        .withColumn("cosine", cosineQ(col("qa"), col("qb"), col("na"), col("nb")))
        .select("vec_i", "vec_j", "cosine")
      val pool = lsh.select("vec_i", "vec_j", "cosine").union(cellPairs)
      val sym = pool.select(col("vec_i").as("src"), col("vec_j").as("dst"), col("cosine"))
        .union(pool.select(col("vec_j").as("src"), col("vec_i").as("dst"), col("cosine")))
        .distinct()
      val wN = Window.partitionBy("src").orderBy(desc("cosine"), asc("dst"))
      sym.withColumn("nrk", row_number().over(wN))
        .filter(col("nrk") <= hnswM)
        .select("src", "dst")
        .repartition(col("src"))
        .write.mode("overwrite").parquet(tmp)
      ranked.unpersist(); vecs.unpersist()
    }
    s.read.parquet(path)
  }

  // ---- DEDUP-THEN-INDEX (q470): the production answer to the recorded
  // near-duplicate-regime finding (PROFILE_HNSW_SEEDS.json / r13
  // ADVICE): on corpora where every document has near-copies, EVERY
  // bounded-degree graph-ANN arm loses recall — the M edge slots of a
  // node fill with its own copies, so the beam can't navigate BETWEEN
  // neighborhoods. The fix is not a bigger graph; it is SemDeDup
  // BEFORE indexing: elect one representative per near-dup cluster
  // (q102's within-cell machinery, same trained model), build the q452
  // graph over representatives only, and serve queries from the rep
  // index — dropped duplicates are COVERED by their representative.

  /** q470's duplicate → representative map: q102's SemDeDup membership
    * (the SAME full-corpus trained model), each duplicate mapped to its
    * MIN-id within-cell neighbor above τ — a deterministic, engine-
    * portable election. Returns (vec_id, rep_id) for duplicates only. */
  private[graft] def semDedupDups(s: SparkSession, d: String,
                                  vecs: DataFrame): DataFrame = {
    val ranked = ivfRanked(s, d, vecs, ivfCellsFor(corpusCount(s, d)))
    val cells = ranked.filter(col("arn") === 1)
    val a = cells.select(col("cell"), col("vec_id").as("vi"),
      col("q").as("qa"), col("norm").as("na"))
    val b = cells.select(col("cell"), col("vec_id").as("vj"),
      col("q").as("qb"), col("norm").as("nb"))
    val out = a.join(b, "cell")
      .filter(col("vj") < col("vi"))
      .withColumn("cosine", cosineQ(col("qa"), col("qb"), col("na"), col("nb")))
      .filter(col("cosine") >= semDedupTau)
      .groupBy(col("vi").as("vec_id"))
      .agg(min("vj").as("rep_id"))
      .localCheckpoint()
    ranked.unpersist()
    out
  }

  /** q470's REPRESENTATIVE graph: [[hnswGraph]]'s construction
    * restricted to the SemDeDup survivors — LSH pairs among reps ∪
    * same-cell pairs of an IVF model trained ON THE REPS (cells ∝
    * √|reps|, the [[hnswLayerGraph]] discipline) — its own
    * once-per-corpus artifact. This is the index a curated corpus
    * actually serves: build-once over representatives, never over raw
    * near-duplicate mass. */
  private[graft] def hnswRepsGraph(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftExpressions.ensure(s)
    val key = graft.core.Artifacts.corpusKey(d, "embeddings.parquet")
    val b = bucketBits(s, d)
    val path = graft.core.Artifacts.materialize(
      s"hnsw_reps_graph_v1_M${hnswM}_tau${(semDedupTau * 100).toInt}_$key") { tmp =>
      val vecs = persistedVecs(s, d)
      val dups = semDedupDups(s, d, vecs)
      val members = vecs.join(dups.select("vec_id"), Seq("vec_id"), "left_anti")
      val nMembers = members.count()
      val lsh = nearDupPairs(members, b, minCosine = -2.0)
      val ranked = ivfRanked(s, d,
        members.select("vec_id", "q", "norm"),
        ivfCellsFor(nMembers), tag = "_reps")
      val cells = ranked.filter(col("arn") === 1)
      val cellsA = cells.select(col("cell"), col("vec_id").as("vec_i"),
        col("q").as("qa"), col("norm").as("na"))
      val cellsB = cells.select(col("cell"), col("vec_id").as("vec_j"),
        col("q").as("qb"), col("norm").as("nb"))
      val cellPairs = cellsA.join(cellsB, "cell")
        .filter(col("vec_i") < col("vec_j"))
        .withColumn("cosine", cosineQ(col("qa"), col("qb"), col("na"), col("nb")))
        .select("vec_i", "vec_j", "cosine")
      val pool = lsh.select("vec_i", "vec_j", "cosine").union(cellPairs)
      val sym = pool.select(col("vec_i").as("src"), col("vec_j").as("dst"), col("cosine"))
        .union(pool.select(col("vec_j").as("src"), col("vec_i").as("dst"), col("cosine")))
        .distinct()
      val wN = Window.partitionBy("src").orderBy(desc("cosine"), asc("dst"))
      sym.withColumn("nrk", row_number().over(wN))
        .filter(col("nrk") <= hnswM)
        .select("src", "dst")
        .repartition(col("src"))
        .write.mode("overwrite").parquet(tmp)
      ranked.unpersist(); vecs.unpersist()
    }
    s.read.parquet(path)
  }

  /** q470's shared core (gate + ProfileHnswSeeds sweep arm): dedup →
    * rep graph → q452's beam budget over the rep corpus → rep-credited
    * recall vs the FULL-corpus q50 truth. A truth neighbor that was
    * deduped out of the index counts as recalled when its elected
    * representative is returned — or when that representative IS the
    * query itself (the query's own near-copies; on a near-dup-heavy
    * corpus those dominate the raw top-k, which is exactly why raw
    * recall collapses there and the rep-credited metric is the honest
    * production measure). Returns (n, nReps, recall, out, dups, vecs);
    * out/dups/vecs are live (warmed/persisted) for the caller to
    * release. */
  private[graft] def dedupThenIndexRecall(s: SparkSession, d: String)
      : (Long, Long, Double, DataFrame, DataFrame, DataFrame) = {
    val vecs = persistedVecs(s, d)
    val dups = warmed(semDedupDups(s, d, vecs))
    val corpus = vecs.select("vec_id", "q", "norm")
      .join(dups.select("vec_id"), Seq("vec_id"), "left_anti")
    val queriesDf = vecs.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("q").as("qq"), col("norm").as("qnorm"))
    // the index chain (rep count → graph warm → beam rounds) and the
    // credited-truth pass (brute ⋈ dups, depends only on dups) are
    // independent — overlap them (guide §2.6)
    var nRepsSlot = 0L
    var outSlot: DataFrame = null
    var creditedSlot: Array[org.apache.spark.sql.Row] = null
    graft.core.Par.run[Unit](Seq(
      () => {
        nRepsSlot = corpus.count()
        val graph = warmed(hnswRepsGraph(s, d))
        outSlot = warmed(
          beamSearch(graph, corpus, queriesDf, hnswSeedMod(nRepsSlot),
              hnswBeam, hnswRounds)
            .filter(col("vec_id") =!= col("q_id"))
            .withColumn("rk", row_number().over(
              Window.partitionBy("q_id").orderBy(desc("cosine"), asc("vec_id"))))
            .filter(col("rk") <= topK)
            .select(col("q_id"), col("rk"), col("vec_id"), col("cosine")))
        graph.unpersist()
      },
      () => creditedSlot = bruteTopK(vecs).select("q_id", "vec_id")
        .join(dups.select(col("vec_id"), col("rep_id")), Seq("vec_id"), "left")
        .select(col("q_id"), col("vec_id"),
          coalesce(col("rep_id"), col("vec_id")).as("cred"))
        .collect()))
    val nReps = nRepsSlot
    val out = outSlot
    // rep-credited recall: both frames are bounded (queries × topK)
    val outSet = out.select("q_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val credited = creditedSlot
    val nHits = credited.count { r =>
      val (q, t, c) = (r.getLong(0), r.getLong(1), r.getLong(2))
      outSet((q, t)) || outSet((q, c)) || c == q
    }
    (corpusCount(s, d), nReps, nHits.toDouble / credited.length, out, dups, vecs)
  }

  /** Sweep hook (ProfileHnswSeeds): the dedup-then-index arm on
    * whatever corpus `d` holds — (corpus size, rep count, rep-credited
    * recall vs the full q50 truth). */
  private[graft] def hnswDedupRecallProbe(s: SparkSession, d: String)
      : (Long, Long, Double) = {
    val (n, nReps, recall, out, dups, vecs) = dedupThenIndexRecall(s, d)
    out.unpersist(); dups.unpersist(); vecs.unpersist()
    (n, nReps, recall)
  }

  /** q455's BASE graph: [[hnswGraph]]'s construction restricted to the
    * base corpus split (vec_id % 10 ≠ 7, the q423/q424 delta lane) —
    * LSH pairs among base rows ∪ q423's base-model same-cell pairs —
    * its own once-per-corpus artifact. This is the stored index a delta
    * ingest INSERTS INTO without touching. */
  private[graft] def hnswBaseGraph(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftExpressions.ensure(s)
    val key = graft.core.Artifacts.corpusKey(d, "embeddings.parquet")
    val b = bucketBits(s, d)
    val path = graft.core.Artifacts.materialize(
      s"hnsw_base_graph_v1_M${hnswM}_$key") { tmp =>
      val (vecs, ranked, cells, _) = baseModelState(s, d)
      val base = vecs.filter(pmod(col("vec_id"), lit(10L)) =!= lit(7L))
      val lsh = nearDupPairs(base, b, minCosine = -2.0)
      val cellsA = cells.select(col("cell"), col("vec_id").as("vec_i"),
        col("q").as("qa"), col("norm").as("na"))
      val cellsB = cells.select(col("cell"), col("vec_id").as("vec_j"),
        col("q").as("qb"), col("norm").as("nb"))
      val cellPairs = cellsA.join(cellsB, "cell")
        .filter(col("vec_i") < col("vec_j"))
        .withColumn("cosine", cosineQ(col("qa"), col("qb"), col("na"), col("nb")))
        .select("vec_i", "vec_j", "cosine")
      val pool = lsh.select("vec_i", "vec_j", "cosine").union(cellPairs)
      val sym = pool.select(col("vec_i").as("src"), col("vec_j").as("dst"), col("cosine"))
        .union(pool.select(col("vec_j").as("src"), col("vec_i").as("dst"), col("cosine")))
        .distinct()
      val wN = Window.partitionBy("src").orderBy(desc("cosine"), asc("dst"))
      sym.withColumn("nrk", row_number().over(wN))
        .filter(col("nrk") <= hnswM)
        .select("src", "dst")
        .repartition(col("src"))
        .write.mode("overwrite").parquet(tmp)
      ranked.unpersist(); vecs.unpersist()
    }
    s.read.parquet(path)
  }

  /** Fixed-round beam search over the stored graph. Per round: beam =
    * top-W of the visited set by exact cosine to the query; expand the
    * beam's adjacency (frontier ⋈ graph — the graph is the big side,
    * the frontier is queries × W rows and BROADCASTS); union into
    * visited; re-rank. Everything is exact integer dot products over
    * the quantized vectors, ties broken by vec_id, so the trajectory is
    * deterministic and the DuckDB replay unrolls the identical rounds.
    *
    * Visit budget per query: |seeds| + R·W·M ≈ 32 + 1024 candidates —
    * independent of corpus size (the HNSW promise), each scored by one
    * co-located lookup join. Recall honesty: this corpus is
    * near-orthogonal random (see the q53 nprobe note), the adversarial
    * case for navigable graphs — holding q54-grade recall here costs a
    * visit fraction a real clustered embedding space would not need;
    * the STRUCTURE (constant-size frontier joins against a stored
    * bounded-degree adjacency) is what scales. */
  private def hnswTopK(s: SparkSession, d: String, vecs: DataFrame): DataFrame = {
    val graph = warmed(hnswGraph(s, d))
    val corpus = vecs.select(col("vec_id"), col("q"), col("norm"))
    val queriesDf = vecs.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("q").as("qq"), col("norm").as("qnorm"))
    val out = beamSearch(graph, corpus, queriesDf,
      hnswSeedMod(corpusCount(s, d)), hnswBeam, hnswRounds)
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("q_id").orderBy(desc("cosine"), asc("vec_id"))))
      .filter(col("rk") <= topK)
      .select(col("q_id"), col("rk"), col("vec_id"), col("cosine"))
    graph.unpersist()
    out
  }

  /** The shared fixed-round beam core: visited set after `nRounds` of
    * top-`beam` frontier → graph expansion → exact-cosine re-rank,
    * seeded from `corpus` rows with vec_id % sm == 0. Returns the full
    * scored visited frame (q_id, vec_id, cosine); callers rank. */
  private def beamSearch(graph: DataFrame, corpus: DataFrame, queriesDf: DataFrame,
                         sm: Long, beam: Int, nRounds: Int): DataFrame = {
    val seeds = corpus.filter(pmod(col("vec_id"), lit(sm)) === 0).select("vec_id")
    beamSearchFrom(graph, corpus, queriesDf,
      queriesDf.select("q_id").crossJoin(seeds), beam, nRounds)
  }

  /** [[beamSearch]]'s core with CALLER-SUPPLIED per-query entry points
    * (`seedPairs`: (q_id, vec_id)) instead of the global stride set —
    * what the hierarchical lane (q467) needs, where each layer's
    * entries are the layer above's results. */
  private def beamSearchFrom(graph: DataFrame, corpus: DataFrame,
                             queriesDf: DataFrame, seedPairs: DataFrame,
                             beam: Int, nRounds: Int): DataFrame = {
    // every per-query frame here (seeds, frontier, expansion, visited)
    // is BOUNDED BY CONSTRUCTION — queries × (seeds + rounds·beam·M)
    // rows, independent of corpus size — so broadcasting it against the
    // corpus/graph sides is the correct plan at ANY scale; the explicit
    // hints pin that instead of leaving the planner to guess from
    // unknown-size localCheckpoint estimates (measured neutral at the
    // gated corpus sizes; trajectory and hash unchanged)
    def scoreOf(cand: DataFrame): DataFrame =
      cand.join(broadcast(queriesDf), "q_id")
        .join(corpus, "vec_id")
        .withColumn("cosine", cosineQ(col("qq"), col("q"), col("qnorm"), col("norm")))
        .select("q_id", "vec_id", "cosine")
    val wB = Window.partitionBy("q_id").orderBy(desc("cosine"), asc("vec_id"))
    var visited = scoreOf(seedPairs.select("q_id", "vec_id")).localCheckpoint()
    for (_ <- 1 to nRounds) {
      val frontier = visited.withColumn("brk", row_number().over(wB))
        .filter(col("brk") <= beam).select("q_id", "vec_id")
      val expand = frontier.join(graph, col("vec_id") === col("src"))
        .select(col("q_id"), col("dst").as("vec_id"))
      // delta-scoring (see [[beamSearchArms]]): visited keeps its exact
      // cosines, only the unseen expansion pays the corpus join
      val fresh = expand.distinct()
        .join(visited.select("q_id", "vec_id"), Seq("q_id", "vec_id"), "left_anti")
      // per-round checkpoint: measured BEST of the alternatives on the
      // q54 hnsw arm (3.2 s steady) — lazy bi-round plans re-execute
      // the skipped round's window/joins (ReuseExchange does not
      // recover them across the checkpoint-scan boundary; 4.8 s), and
      // single-partition checkpoints trade the window exchange for an
      // extra shuffle (3.3 s, a wash): the arm's floor is the 5
      // sequential round JOBS, intrinsic to iterative beam search
      visited = visited.unionByName(scoreOf(fresh)).localCheckpoint()
    }
    visited
  }

  /** Multi-arm variant of [[beamSearch]] for the q458 sweep: runs ALL
    * beam widths in ONE pipeline by tagging every row with its arm and
    * carrying the union frame through the rounds — the arm's width IS
    * its tag, so the per-round frontier cut is `brk <= beam` on the
    * (beam, q_id) window, and each round issues ONE frontier ⋈ graph
    * join and ONE re-scoring pass instead of one per arm (the seed
    * scoring, beam-independent, is computed once and replicated). Each
    * arm's trajectory is bit-identical to a solo [[beamSearch]] run —
    * the rows of one arm never see another's — so the sweep's results
    * (and its oracle hash) are unchanged; only the join/stage count
    * drops ~3×. Returns (beam, q_id, vec_id, cosine). */
  private def beamSearchArms(graph: DataFrame, corpus: DataFrame,
                             queriesDf: DataFrame, sm: Long,
                             beams: Seq[Int], nRounds: Int): DataFrame = {
    def scoreOf(cand: DataFrame): DataFrame =
      cand.join(broadcast(queriesDf), "q_id")
        .join(corpus, "vec_id")
        .withColumn("cosine", cosineQ(col("qq"), col("q"), col("qnorm"), col("norm")))
        .select("beam", "q_id", "vec_id", "cosine")
    val seeds = corpus.filter(pmod(col("vec_id"), lit(sm)) === 0).select("vec_id")
    val seed0 = queriesDf.select("q_id").crossJoin(seeds)
      .join(broadcast(queriesDf), "q_id")
      .join(corpus, "vec_id")
      .withColumn("cosine", cosineQ(col("qq"), col("q"), col("qnorm"), col("norm")))
      .select("q_id", "vec_id", "cosine")
    val wB = Window.partitionBy("beam", "q_id").orderBy(desc("cosine"), asc("vec_id"))
    var visited = beams.map(b => seed0.withColumn("beam", lit(b)))
      .reduce(_ unionByName _)
      .select("beam", "q_id", "vec_id", "cosine")
      .localCheckpoint()
    for (_ <- 1 to nRounds) {
      val frontier = visited.withColumn("brk", row_number().over(wB))
        .filter(col("brk") <= col("beam")).select("beam", "q_id", "vec_id")
      val expand = frontier.join(graph, col("vec_id") === col("src"))
        .select(col("beam"), col("q_id"), col("dst").as("vec_id"))
      // score ONLY the not-yet-visited expansion (anti-join delta):
      // visited rows already carry their exact cosines, and the integer
      // dot product is value-identical wherever it's computed, so the
      // union is bit-identical to re-scoring everything — at a third of
      // the corpus-join traffic per round
      val fresh = expand.distinct()
        .join(visited.select("beam", "q_id", "vec_id"),
          Seq("beam", "q_id", "vec_id"), "left_anti")
      visited = visited.unionByName(scoreOf(fresh)).localCheckpoint()
    }
    visited
  }

  /** Seed-scaling probe (ProfileHnswSeeds — the r12-verdict ask): recall
    * of the SHIPPED (M, beam, rounds) config when the seed stride
    * targets ~2^seedsLog2 entry points, on whatever corpus `d` holds.
    * Returns (corpus size, actual seed count, recall vs q50 truth).
    * The production lane fixes seedsLog2 = 5 (~32 seeds) at every N —
    * this probe is how that constant is shown to HOLD as N grows
    * (PROFILE_HNSW_SEEDS.json records the sweep). */
  private[graft] def hnswSeedProbe(s: SparkSession, d: String,
                                   seedsLog2: Int): (Long, Long, Double) = {
    val n = corpusCount(s, d)
    val sm = 1L << math.max(0, ceilLog2(n) - seedsLog2)
    val vecs = persistedVecs(s, d)
    val graph = warmed(hnswGraph(s, d))
    val corpus = vecs.select(col("vec_id"), col("q"), col("norm"))
    val queriesDf = vecs.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("q").as("qq"), col("norm").as("qnorm"))
    val nSeeds = corpus.filter(pmod(col("vec_id"), lit(sm)) === 0).count()
    val out = beamSearch(graph, corpus, queriesDf, sm, hnswBeam, hnswRounds)
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("q_id").orderBy(desc("cosine"), asc("vec_id"))))
      .filter(col("rk") <= topK)
      .select("q_id", "vec_id")
    val truth = bruteTopK(vecs).select("q_id", "vec_id")
    val nTruth = truth.count()
    val hits = out.join(truth, Seq("q_id", "vec_id")).count()
    graph.unpersist(); vecs.unpersist()
    (n, nSeeds, hits.toDouble / nTruth)
  }

  /** Plan REQUIRE shared by q45/q51 (r7 verdict item 5): the ANN index
    * artifact must stay partition-prunable on bucket_0 — a single-bucket
    * probe of the stored artifact must show `PartitionFilters` binding
    * bucket_0 at plan time (the q225 probe pattern; PLANS.md shows
    * `PartitionFilters: [(bucket_0 = 3)]`). If the artifact write ever
    * drops `partitionBy("bucket_0")`, every 100 TB single-bucket probe
    * silently becomes a full index scan; this catches that without
    * executing anything.
    */
  private[operators] def requireBucketPruned(s: SparkSession, d: String): Unit = {
    val plan = annIndex(s, d).filter(col("bucket_0") === 3)
      .queryExecution.executedPlan.toString
    require(plan.contains("PartitionFilters") &&
        plan.replaceAll("#\\d+", "").contains("(bucket_0 = 3)"),
      s"ANN index lost bucket_0 partition pruning; got:\n${plan.take(1200)}")
  }

  /** q45's pair generator (DedupPack delegates here so the dedup query
    * shares the exact probe machinery): all (i < j) pairs whose buckets
    * are within Hamming 1 in at least one table, cosine-verified. */
  private[operators] def nearDupPairs(vecs: DataFrame, b: Int, minCosine: Double): DataFrame =
    candidates(vecs, lit(true), b, maxHam = 1, pairCond = col("q_id") < col("vec_id"))
      .withColumn("cosine", cosineQ(col("qq"), col("q"), col("qnorm"), col("norm")))
      .filter(col("cosine") >= minCosine)
      .select(col("q_id").as("vec_i"), col("vec_id").as("vec_j"), col("cosine"))

  /** Lloyd refinement rounds run per IVF build. */
  private[graft] val ivfRounds = 2

  /** q423 re-split thresholds: a cell whose delta-batch growth exceeds
    * 20% of its base membership, or whose one-round drift over the
    * augmented membership exceeds 10%, is flagged for re-split. */
  private[graft] val growthResplitPpm = 200000L
  private[graft] val driftResplitPpm = 100000L

  /** q430 energy-distance panel size per source (md5-minimal draw). */
  private[graft] val energyPanel = 16

  /** q102 within-cluster duplicate threshold (cosine) — q44/q45's 0.4,
    * so the three embedding-dedup routes are comparable. */
  private[graft] val semDedupTau = 0.4

  /** One k-means assignment: each vector to its max-cosine centroid
    * (ties → smallest cell id; exact fixed-point cosines, so the
    * tie-break and ordering are engine-portable). Centroids broadcast. */
  /** The q423/q425 shared batch substrate: `(vecs, ranked, cells,
    * centx)` — the persisted vector index, the stored BASE-corpus model
    * artifact, its arn=1 membership, and the centroids recomputed from
    * that membership (the in-memory table a delta ingest assigns
    * against). The batch maintenance query (q423) and the streaming
    * assignment twin (q425) read the SAME state through this one
    * accessor. */
  private[graft] def baseModelState(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val vecs = persistedVecs(s, d)
    val base = vecs.filter(pmod(col("vec_id"), lit(10L)) =!= lit(7L))
    val baseN = base.count()
    val ranked = warmed(ivfRanked(s, d, base, ivfCellsFor(baseN), tag = "_base"))
    val cells = ranked.filter(col("arn") === 1)
      .select(col("vec_id"), col("q"), col("norm"), col("cell"))
    (vecs, ranked, cells, updateCentroids(cells))
  }

  /** q425's broadcastable model row: the base centroids packed into ONE
    * row of `(cell, cq, cnorm)` structs — cells-sized, the shape a
    * serving ingest holds in memory. */
  private[graft] def baseCentroidRow(s: SparkSession, d: String): DataFrame = {
    val (_, _, _, centx) = baseModelState(s, d)
    centx.agg(collect_list(struct(col("cell"), col("cq"), col("cnorm")))
      .as("cents"))
  }

  private def assignCells(vecs: DataFrame, cent: DataFrame): DataFrame =
    // map-side-combining struct argmax (the q376 recipe, guide §2.3):
    // max(struct(cos_c, −cell)) ≡ the former row_number window under
    // (cos_c DESC, cell ASC) — Spark's double ordering (NaN greatest)
    // is the same total order in both operators — but the partial
    // aggregate collapses each vector's cells× candidate rows BEFORE
    // the exchange, so the shuffle carries one row per vector instead
    // of cells× rows each dragging the 64-long vector array. q/norm
    // ride the struct past the comparison: (cos_c, −cell) is already
    // unique within a vec_id group, so they are never compared.
    vecs.crossJoin(broadcast(cent))
      .withColumn("cos_c", cosineQ(col("q"), col("cq"), col("norm"), col("cnorm")))
      .groupBy("vec_id")
      .agg(max(struct(col("cos_c"), (-col("cell")).as("nc"),
        col("q"), col("norm"))).as("h"))
      .select(col("vec_id"), col("h.q").as("q"), col("h.norm").as("norm"),
        (-col("h.nc")).as("cell"))

  /** q429's per-cell variant of [[assignCells]]: members carry their
    * `cell`, sub-centroids join on it (2 rows per cell, broadcast), and
    * the argmax runs under the composite (cell, vec_id) key — all
    * flagged cells split in one plan. */
  private def subAssign(members: DataFrame, cent: DataFrame): DataFrame =
    // same struct-argmax-before-exchange as [[assignCells]], under the
    // composite (cell, vec_id) key with the (cos_c DESC, sub ASC)
    // tie-break
    members.join(broadcast(cent), "cell")
      .withColumn("cos_c", cosineQ(col("q"), col("cq"), col("norm"), col("cnorm")))
      .groupBy("cell", "vec_id")
      .agg(max(struct(col("cos_c"), (-col("sub")).as("ns"),
        col("q"), col("norm"))).as("h"))
      .select(col("cell"), col("vec_id"), col("h.q").as("q"),
        col("h.norm").as("norm"), (-col("h.ns")).as("sub"))

  /** q429's (cell, sub)-keyed twin of [[updateCentroids]] — identical
    * truncated-int64 per-dimension means under the composite key. */
  private def subUpdateCentroids(assign: DataFrame): DataFrame =
    assign.select(col("cell"), col("sub"), posexplode(col("q")).as(Seq("i", "x")))
      .groupBy("cell", "sub", "i").agg(sum("x").as("sx"), count(lit(1)).as("cnt"))
      .withColumn("v", expr("sx div cnt"))
      .groupBy("cell", "sub")
      .agg(transform(sort_array(collect_list(struct(col("i"), col("v")))),
        s => s.getField("v")).as("cq"))
      .withColumn("cnorm", sqrt(normSqQ(col("cq"))))

  /** Centroid update: truncated-integer per-dimension mean of the
    * members (int64 `div`, bit-identical across engines — the q55
    * integer-loop technique), norms recomputed exactly. Cells that lose
    * every member drop out (identically on both sides). */
  private def updateCentroids(assign: DataFrame): DataFrame =
    assign.select(col("cell"), posexplode(col("q")).as(Seq("i", "x")))
      .groupBy("cell", "i").agg(sum("x").as("sx"), count(lit(1)).as("cnt"))
      .withColumn("v", expr("sx div cnt"))
      .groupBy("cell")
      .agg(transform(sort_array(collect_list(struct(col("i"), col("v")))),
        s => s.getField("v")).as("cq"))
      .withColumn("cnorm", sqrt(normSqQ(col("cq"))))

  /** IVF search over a shared vector table: k = [[ivfCellsFor]] cells
    * (∝ √N), seeded deterministically (the k corpus vectors with the
    * smallest md5(vec_id) — an engine-portable stand-in for random
    * init), then [[ivfRounds]] integer Lloyd rounds make the cells
    * DATA-ADAPTIVE; a query probes its [[ivfProbesFor]] nearest cells.
    * All centroid arithmetic is int64 fixed-point, so the oracle mirrors
    * the training loop as unrolled CTE rounds. At 100 TB the training
    * rounds run on a sample, the corpus is stored partitioned by cell,
    * the (tiny) centroid table broadcasts, and a query reads nprobe
    * partitions. */
  /** The trained IVF model — every vector's [[ivfProbesFor]]-nearest-cell
    * assignment `(vec_id, q, norm, cell, arn)` — as a once-per-corpus
    * ARTIFACT (the PQ-codebook treatment: training is index-BUILD work,
    * not query work; before this every one of q53/q54/q102/q103
    * re-trained the same deterministic k-means inside its own plan).
    * Warmed on read: the tiny table feeds several plan branches per
    * query. Shared substrate of the IVF search (q53), the SemDeDup
    * cluster dedup (q102 — arn=1 partition) and IVF-PQ (q103). */
  private[operators] def ivfRanked(s: SparkSession, d: String,
                                   vecs: DataFrame, k: Int,
                                   tag: String = ""): DataFrame = {
    val nprobe = ivfProbesFor(k)
    val key = graft.core.Artifacts.corpusKey(d, "embeddings.parquet")
    val path = graft.core.Artifacts.materialize(
      s"ivf_model_v1${tag}_k${k}_p${nprobe}_r${ivfRounds}_$key") { tmp =>
      val hashed = vecs
        .select(col("vec_id"), col("q"),
          graft.functions.TextFunctions.hex64(md5(col("vec_id").cast("string"))).as("h"))
      // top-k by hash is a TakeOrderedAndProject (distributed); the cell-id
      // window then runs on the k-row frame only
      val seeds = hashed.orderBy("h", "vec_id").limit(k)
        .withColumn("cell", row_number().over(Window.orderBy("h", "vec_id")).cast("int"))
        .select(col("cell"), col("q").as("cq"))
        .withColumn("cnorm", sqrt(normSqQ(col("cq"))))
      val cent = (1 to ivfRounds).foldLeft(seeds)((c, _) =>
        updateCentroids(assignCells(vecs, c)))
      val wAssign = Window.partitionBy(col("vec_id")).orderBy(desc("cos_seed"), asc("cell"))
      vecs.crossJoin(broadcast(cent))
        .withColumn("cos_seed", cosineQ(col("q"), col("cq"), col("norm"), col("cnorm")))
        .withColumn("arn", row_number().over(wAssign))
        .filter(col("arn") <= nprobe)
        .select(col("vec_id"), col("q"), col("norm"), col("cell"), col("arn"))
        .write.mode("overwrite").parquet(tmp)
    }
    warmed(s.read.parquet(path))
  }

  private def ivfTopK(s: SparkSession, d: String, vecs: DataFrame,
                      k: Int): (DataFrame, DataFrame) = {
    val ranked = ivfRanked(s, d, vecs, k)
    val cells = ranked.filter(col("arn") === 1)
      .select(col("vec_id"), col("q"), col("norm"), col("cell"))
    val probes = ranked.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("q").as("qq"),
              col("norm").as("qnorm"), col("cell").as("probe_cell"))
    val w = Window.partitionBy(col("q_id")).orderBy(desc("cosine"), asc("vec_id"))
    val result = probes.join(cells,
        col("cell") === col("probe_cell") && col("vec_id") =!= col("q_id"))
      .withColumn("cosine", cosineQ(col("qq"), col("q"), col("qnorm"), col("norm")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= topK)
      .select(col("q_id"), col("rk"), col("vec_id"), col("cell"), col("cosine"))
    (result, ranked)
  }

  // ---- product quantization (ADC search) ----

  /** PQ subspaces (64 dims → 4 × 16). */
  private[graft] val pqM = 4
  private[graft] val pqSubDim = dim / pqM
  /** Centroids per subspace → a 4-byte code per vector. 64 (not the
    * classic 256) keeps the DuckDB-replayed training cheap while giving
    * ADC 4× the distance resolution of the original 16 — measured on
    * q54's harness, 16 centroids + 32×topK shortlist plateaued at
    * re-rank recall 0.72. */
  private[graft] val pqK = 64
  private[graft] val pqRounds = 2
  /** Codebook training sample cap: the pqTrainCap smallest-md5-hash
    * vectors train the codebook (standard practice — FAISS trains PQ on
    * 10⁴–10⁶ samples regardless of corpus size; k-means quality needs
    * samples ∝ k, not ∝ N). Deterministic and mirrored in the oracle
    * (`QUALIFY row_number() OVER (ORDER BY h, vec_id) <= cap`), so both
    * engines train on the identical subset. ENCODING still covers every
    * vector. A no-op when N <= cap (sf0.01's 500 vectors all train). */
  private[graft] val pqTrainCap = 2048

  /** q324's deterministic ±1 JL sign matrix: sgn(j,i) from the parity
    * of the shared md5→int64 hash of "jl_j_i" — replayed verbatim by
    * the oracle, broadcast everywhere it's used (r×[[dim]] rows). */
  private[graft] def jlSigns(s: SparkSession, r: Int): DataFrame = {
    import graft.functions.TextFunctions.hex64
    s.range(1, r + 1).select(col("id").cast("int").as("j"))
      .crossJoin(s.range(1, dim + 1).select(col("id").cast("int").as("i")))
      .select(col("i"), col("j"),
        when(hex64(md5(concat(lit("jl_"), col("j").cast("string"),
          lit("_"), col("i").cast("string")))) % 2 === 0, lit(1L))
          .otherwise(lit(-1L)).as("sgn"))
  }

  /** Raw int64 squared L2 between two quantized arrays:
    * ‖a‖² + ‖b‖² − 2⟨a,b⟩, every term the native codegen dot kernel —
    * no doubles anywhere, so PQ is exact-integer end to end. */
  private def l2Q(a: Column, b: Column): Column = {
    import graft.functions.GraftExpressions.longArrayDot
    longArrayDot(a, a) + longArrayDot(b, b) - lit(2L) * longArrayDot(a, b)
  }

  /** Product-quantization ANN with asymmetric-distance search: per
    * subspace m, k=16 centroids trained by the same deterministic
    * integer k-means as IVF (md5-ordered seeds, truncated-int64-mean
    * Lloyd rounds — all 4 subspaces train in ONE DataFrame keyed by m);
    * every vector is encoded as 4 small codes; a query builds its 4×16
    * distance table (broadcast) and each corpus vector's approximate
    * distance is the SUM of 4 table lookups — the memory-bound ANN
    * layout for 100 TB (codes are ~4 bytes vs 256-byte vectors; the
    * corpus scan reads codes only, vectors stay in cold storage for
    * re-ranking). Everything is int64 (squared-L2 on fixed-point
    * components), so ranking and ties are engine-portable with no
    * quantization step in the oracle compare.
    *
    * Recall honesty (q54): ~0.12 on THIS corpus — near-orthogonal
    * random embeddings are PQ's worst case (the 4-code reconstruction
    * error swamps the tiny cosine spreads). On real clustered
    * embeddings the same structure is the standard billion-scale
    * layout; the recall report exists precisely to measure that
    * trade-off per corpus before trusting the index.
    */
  /** ADC shortlist size fed to the exact re-rank (q07). */
  // 32×topK (standard PQ deployments re-rank 10–100× the final k; 4×topK
  // measured recall 0.36 on q54's harness — too coarse for the path
  // labeled "production"). Re-rank cost is pqShortlist point-lookups per
  // query — still negligible next to the code-table scan at any scale.
  private[graft] val pqShortlist = 32 * topK

  /** Subvector view of a quantized-vector frame: (vec_id, m, sq). */
  private def subvectors(vecs: DataFrame): DataFrame =
    vecs.select(col("vec_id"), explode(array((0 until pqM).map(m =>
        struct(lit(m).as("m"),
          slice(col("q"), m * pqSubDim + 1, pqSubDim).as("sq"))): _*)).as("s"))
      .select(col("vec_id"), col("s.m").as("m"), col("s.sq").as("sq"))

  /** One PQ assignment pass: each (vec_id, m) subvector to its
    * min-squared-L2 centroid (ties → smallest code). */
  private def pqAssign(sub: DataFrame, cent: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("vec_id"), col("m"))
      .orderBy(asc("d2"), asc("code"))
    sub.join(broadcast(cent), "m")
      .withColumn("d2", l2Q(col("sq"), col("cq")))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("vec_id"), col("m"), col("sq"), col("code"))
  }

  /** Centroid update: truncated-int64 per-dimension mean (the IVF/q55
    * integer technique). */
  private def pqUpdate(a: DataFrame): DataFrame =
    a.select(col("m"), col("code"), posexplode(col("sq")).as(Seq("i", "x")))
      .groupBy("m", "code", "i").agg(sum("x").as("sx"), count(lit(1)).as("cnt"))
      .withColumn("v", expr("sx div cnt"))
      .groupBy("m", "code")
      .agg(transform(sort_array(collect_list(struct(col("i"), col("v")))),
        s => s.getField("v")).as("cq"))

  /** The PQ codebook (m, code, cq) as a once-per-corpus ARTIFACT —
    * training is index-build work, not query work (it re-ran inside
    * every PQ query before this: 3 window-argmin passes over 4N rows,
    * measured ~5 s of the cold q06's 11.6 s at sf0.1). */
  private def pqCentroids(s: SparkSession, d: String): DataFrame = {
    val key = graft.core.Artifacts.corpusKey(d, "embeddings.parquet")
    val path = graft.core.Artifacts.materialize(
      s"pq_cent_v2_m${pqM}_k${pqK}_r${pqRounds}_s${pqTrainCap}_$key") { tmp =>
      // training sample: the pqTrainCap smallest-hash vectors (the same
      // (h, vec_id) order the seeds use, so seeds ⊆ sample by definition)
      val trainIds = annIndex(s, d)
        .select(col("vec_id"),
          graft.functions.TextFunctions.hex64(md5(col("vec_id").cast("string"))).as("h"))
        .orderBy("h", "vec_id").limit(pqTrainCap)
        .select("vec_id")
      val sub = warmed(subvectors(annIndex(s, d)).join(broadcast(trainIds), "vec_id"))
      val wSeed = Window.partitionBy(col("m")).orderBy(col("h"), col("vec_id"))
      val seeds = sub
        .withColumn("h",
          graft.functions.TextFunctions.hex64(md5(col("vec_id").cast("string"))))
        .withColumn("rn", row_number().over(wSeed)).filter(col("rn") <= pqK)
        .select(col("m"), col("rn").cast("int").as("code"), col("sq").as("cq"))
      val cent = (1 to pqRounds).foldLeft(seeds)((c, _) => pqUpdate(pqAssign(sub, c)))
      cent.write.mode("overwrite").parquet(tmp)
      sub.unpersist()
    }
    s.read.parquet(path)
  }

  /** The PQ code table (vec_id, m, code) as a once-per-corpus ARTIFACT —
    * this is what a 100 TB deployment stores and scans (≈4 bytes/vector
    * vs 256-byte vectors). */
  private def pqCodesDf(s: SparkSession, d: String): DataFrame = {
    val key = graft.core.Artifacts.corpusKey(d, "embeddings.parquet")
    val path = graft.core.Artifacts.materialize(
      s"pq_codes_v2_m${pqM}_k${pqK}_r${pqRounds}_s${pqTrainCap}_$key") { tmp =>
      pqAssign(subvectors(annIndex(s, d)), pqCentroids(s, d))
        .select(col("vec_id"), col("m"), col("code"))
        .write.mode("overwrite").parquet(tmp)
    }
    s.read.parquet(path)
  }

  /** Returns the ADC ranking (every candidate with its rank per query —
    * callers cut at topK or pqShortlist), reading the code and codebook
    * artifacts. With `cand` (a pre-filtered (q_id, vec_id) set, q103's
    * probed-cell restriction) the code scan covers only those pairs and
    * the rank is within the restricted set; without it, every corpus
    * vector is a candidate for every query (q06/q07). ONE ranking
    * implementation — tie-break and arithmetic can't diverge between
    * the restricted and unrestricted paths. */
  private def pqRanked(s: SparkSession, d: String, vecs: DataFrame,
                       cand: Option[DataFrame] = None): DataFrame = {
    val cent = pqCentroids(s, d)
    val codes = pqCodesDf(s, d)
    // the query-side distance tables: 20 queries × 4 subspaces × pqK
    // centroids — tiny, broadcast; ADC is then one scan of the codes
    val dt = subvectors(vecs.filter(col("vec_id") < 20))
      .select(col("vec_id").as("q_id"), col("m"), col("sq").as("qsq"))
      .join(cent, "m")
      .withColumn("dq", l2Q(col("qsq"), col("cq")))
      .select(col("q_id"), col("m"), col("code"), col("dq"))
    val w = Window.partitionBy(col("q_id")).orderBy(asc("adist_q"), asc("vec_id"))
    val scored = cand match {
      case Some(c) => codes.join(c, "vec_id")
        .join(broadcast(dt), Seq("q_id", "m", "code"))
      case None => codes.join(broadcast(dt), Seq("m", "code"))
        .filter(col("vec_id") =!= col("q_id"))
    }
    scored
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("dq")).as("adist_q"))
      .withColumn("rk", row_number().over(w))
  }

  private def pqTopK(s: SparkSession, d: String, vecs: DataFrame): DataFrame =
    pqRanked(s, d, vecs).filter(col("rk") <= topK)
      .select(col("q_id"), col("rk"), col("vec_id"), col("adist_q"))

  /** SQ8 shortlist fed to the exact re-rank — same re-rank budget as PQ. */
  private[graft] val sq8Shortlist = 32 * topK

  /** Scalar-quantization (SQ8) model as a once-per-corpus artifact: the
    * FAISS `SQ8` layout (Jégou et al.'s codebase; 1 byte/dimension)
    * completing the storage spectrum between full vectors (256 B here)
    * and PQ codes (4 B): per-DIMENSION [min, max] trained over the
    * corpus (exact int64 aggregates on the fixed-point components), and
    * every vector encoded as 64 codes `(x−mn)·255 div (mx−mn)` ∈
    * [0, 255]. Training is two corpus scans (param agg + encode), paid
    * once; queries scan CODES (64 B/vector at scale — stored int64 here,
    * 1 byte in a production file format) and never the raw vectors
    * until re-rank. All arithmetic is int64 on the already-quantized
    * components, so the DuckDB oracle replays it exactly. Tables:
    * `params` (i, mn, mx) and `codes` (vec_id, codes[64]). */
  private def sq8ModelDir(s: SparkSession, d: String): String = {
    val key = graft.core.Artifacts.corpusKey(d, "embeddings.parquet")
    graft.core.Artifacts.materialize(s"sq8_model_v1_$key") { tmp =>
      val comp = annIndex(s, d)
        .select(col("vec_id"), posexplode(col("q")).as(Seq("i", "x")))
      comp.groupBy("i").agg(min("x").as("mn"), max("x").as("mx"))
        .coalesce(1).write.parquet(s"$tmp/params")
      comp.join(broadcast(s.read.parquet(s"$tmp/params")), "i")
        .withColumn("code",
          expr("CASE WHEN mx = mn THEN 0L ELSE ((x - mn) * 255L) div (mx - mn) END"))
        .groupBy("vec_id")
        .agg(transform(sort_array(collect_list(struct(col("i"), col("code")))),
          st => st.getField("code")).as("codes"))
        .write.parquet(s"$tmp/codes")
      // multi-table artifact: top-level completeness marker (the
      // bpe_model precedent)
      java.nio.file.Files.createFile(java.nio.file.Paths.get(tmp, "_SUCCESS"))
    }
  }

  /** SQ8 search: decode each corpus vector ONCE per scan (codes ⨯ the
    * broadcast 64-dim param arrays → reconstructed 255·x̂ components),
    * shortlist by exact-int64 approximate dot against the broadcast
    * queries, then exact cosine re-rank ([[rerankExact]]). The
    * asymmetric trick mirrors PQ's ADC: queries stay full-precision,
    * only the corpus side is compressed, and the scaled-by-255 decode
    * keeps every product integral (ranking is division-free). */
  private def sq8RerankTopK(s: SparkSession, d: String, vecs: DataFrame): DataFrame = {
    val dir = sq8ModelDir(s, d)
    val par = s.read.parquet(s"$dir/params")
      .agg(expr("transform(sort_array(collect_list(struct(i, mn, mx))), t -> t.mn)").as("mns"),
           expr("transform(sort_array(collect_list(struct(i, mn, mx))), t -> t.mx - t.mn)").as("diffs"))
    val dec = s.read.parquet(s"$dir/codes").crossJoin(broadcast(par))
      .withColumn("xhat",
        expr("transform(codes, (c, i) -> 255L * element_at(mns, i + 1) + c * element_at(diffs, i + 1))"))
      .select("vec_id", "xhat")
    val qs = vecs.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("q").as("qq"))
    val w = Window.partitionBy(col("q_id")).orderBy(desc("adist_q"), asc("vec_id"))
    val short = dec.join(broadcast(qs), col("vec_id") =!= col("q_id"))
      .withColumn("adist_q",
        graft.functions.GraftExpressions.longArrayDot(col("qq"), col("xhat")))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= sq8Shortlist)
      .select(col("q_id"), col("vec_id"))
    rerankExact(vecs, short)
  }

  /** Exact cosine re-rank of a (q_id, vec_id) shortlist against the
    * stored vectors: the precision-recovery tail of every
    * shortlist-producing index (q07 PQ, q103 IVF-PQ). The re-rank reads
    * `|shortlist|` vectors per query — point lookups in the
    * bucket-partitioned index at scale, never a corpus scan. */
  private def rerankExact(vecs: DataFrame, short: DataFrame): DataFrame = {
    val corpus = vecs.select(col("vec_id"), col("q"), col("norm"))
    val queriesV = vecs.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("q").as("qq"), col("norm").as("qnorm"))
    val w = Window.partitionBy(col("q_id")).orderBy(desc("cosine"), asc("vec_id"))
    short
      .join(corpus, "vec_id")
      .join(broadcast(queriesV), "q_id")
      .withColumn("cosine", cosineQ(col("qq"), col("q"), col("qnorm"), col("norm")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= topK)
      .select(col("q_id"), col("rk"), col("vec_id"), col("cosine"))
  }

  /** The production PQ pipeline: ADC shortlist (top [[pqShortlist]] by
    * approximate distance — reads CODES only) then exact cosine re-rank
    * of just those candidates against the stored vectors. */
  private def pqRerankTopK(s: SparkSession, d: String, vecs: DataFrame): DataFrame =
    rerankExact(vecs,
      pqRanked(s, d, vecs).filter(col("rk") <= pqShortlist)
        .select(col("q_id"), col("vec_id")))

  /** IVF-PQ (the billion-scale production composite — public reference:
    * Jégou/Douze/Schmid, "Product Quantization for Nearest Neighbor
    * Search", IEEE TPAMI 2011; the FAISS IVFADC layout): the IVF coarse
    * quantizer ([[ivfRanked]] — the SAME trained model as q53/q102)
    * prunes the search to the query's nprobe cells, PQ ADC ranks ONLY
    * the vectors in those cells by broadcast-table lookups over the
    * 4-byte code artifact, and the exact re-rank recovers precision on
    * the shortlist. At 100 TB the code table is stored partitioned by
    * cell, so a query reads nprobe code partitions (≈4 bytes/vector)
    * plus pqShortlist full vectors — unlike q06/q07 it never scans even
    * the corpus-wide CODE table, and unlike q53 the in-cell ranking
    * reads codes, not vectors. */
  private def ivfPqRerankTopK(s: SparkSession, d: String, vecs: DataFrame,
                              ranked: DataFrame): DataFrame = {
    val cellOf = ranked.filter(col("arn") === 1).select(col("vec_id"), col("cell"))
    val probes = ranked.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("cell").as("probe_cell"))
    // candidate set = vectors whose home cell is probed (equi-join on
    // cell; at scale this is the partition-pruned read of the code table)
    val cand = probes.join(cellOf,
        col("cell") === col("probe_cell") && col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"))
    val short = pqRanked(s, d, vecs, Some(cand))
      .filter(col("rk") <= pqShortlist)
      .select(col("q_id"), col("vec_id"))
    rerankExact(vecs, short)
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- embedding data card: per-label vector-population statistics
    // in EXACT int64 — count and the raw fixed-point squared-norm
    // spread (sum/min/max/avg of the un-divided LongArrayDot(q, q)
    // values; each < 2^53, summed over a label's population well inside
    // int64). The norm drift / degenerate-vector diagnostic an
    // embedding pipeline publishes next to the q107 text data card; one
    // codegen scan, a labels-sized aggregate. ----
    "q147_embedding_datacard" -> { (s, d) =>
      graft.functions.GraftExpressions.ensure(s)
      val qv = quantize(col("embedding"))
      Tables.embeddings(s, d)
        .select(col("label").cast("bigint").as("label"),
          graft.functions.GraftExpressions.longArrayDot(qv, qv).as("normsq_q"))
        .groupBy("label")
        .agg(count(lit(1)).cast("bigint").as("n_vecs"),
             sum("normsq_q").cast("bigint").as("sum_normsq_q"),
             min("normsq_q").cast("bigint").as("min_normsq_q"),
             max("normsq_q").cast("bigint").as("max_normsq_q"))
        .withColumn("avg_normsq_q", expr("sum_normsq_q div n_vecs").cast("bigint"))
        .orderBy("label")
    },

    // ---- exact cosine top-k, brute force (baseline) ----
    "q50_ann_brute" -> { (s, d) =>
      val vecs = persistedVecs(s, d)
      materialized(bruteTopK(vecs), vecs).orderBy("q_id", "rk")
    },

    // ---- HNSW-FAMILY GRAPH ANN (r11 VERDICT follow-on #1): beam
    // search over a stored bounded-degree kNN graph — see [[hnswGraph]]
    // (the artifact) and [[hnswTopK]] (the fixed-round search). The
    // query carries its own RECALL FLOOR: before returning, the beam
    // result is scored against the q50 brute-force truth and must meet
    // the IVF lane's 0.92 — a navigably-broken graph (lost edges, bad
    // seeds) fails the gate even if the hash of what it did return is
    // self-consistent. Hash-gated against a full DuckDB replay of graph
    // construction + the unrolled beam rounds. ----
    // ---- HNSW DELTA INSERT (maintenance lane for the q452 graph, the
    // build-once-maintain-forever member the dedup store (q101), IVF
    // model (q423), and BM25 stats (q424) each have): the BASE graph is
    // a stored artifact over the base split (vec_id % 10 ≠ 7); a delta
    // ingest runs each new vector through the SAME beam core q452
    // searches with ([[beamSearch]] — code identity, not coincidence)
    // against the base corpus, and its top-M visited become its edge
    // list — exactly Malkov & Yashunin's insertion (search then link),
    // O(|delta| · beam·M·rounds) with the base corpus never rescanned.
    // Output: every delta vector's M links with exact cosines; the
    // oracle replays base-graph construction + the unrolled beam per
    // delta vector. ----
    "q455_hnsw_delta_insert" -> { (s, d) =>
      val vecs = persistedVecs(s, d)
      val base = vecs.filter(pmod(col("vec_id"), lit(10L)) =!= lit(7L))
      // graph warm-up and the base-split count are independent —
      // overlap (guide §2.6)
      var graphSlot: DataFrame = null
      var baseNSlot: Long = 0L
      graft.core.Par.run[Unit](Seq(
        () => graphSlot = warmed(hnswBaseGraph(s, d)),
        () => baseNSlot = base.count()))
      val graph = graphSlot; val baseN = baseNSlot
      val corpus = base.select(col("vec_id"), col("q"), col("norm"))
      val queriesDf = vecs.filter(pmod(col("vec_id"), lit(10L)) === lit(7L))
        .select(col("vec_id").as("q_id"), col("q").as("qq"), col("norm").as("qnorm"))
      val links = beamSearch(graph, corpus, queriesDf,
          hnswSeedMod(baseN), hnswBeam, hnswRounds)
        .withColumn("rk", row_number().over(
          Window.partitionBy("q_id").orderBy(desc("cosine"), asc("vec_id"))))
        .filter(col("rk") <= hnswM)
        .select(col("q_id"), col("rk").cast("int").as("nrk"),
          col("vec_id").as("dst"), col("cosine"))
      graph.unpersist()
      materialized(links, vecs).orderBy("q_id", "nrk")
    },

    // ---- HNSW BEAM-WIDTH RECALL CURVE (the q271 nprobe-curve
    // analogue for the graph lane — every ANN family here ships its
    // parameter-sweep eval): the SAME stored graph searched at beam
    // 4 / 8 / 24, each arm's top-k scored against the q50 brute truth,
    // recall as integer ppm. This is the knob chart an HNSW deployment
    // reads to set ef: on this near-orthogonal corpus the curve is
    // steep (narrow beams stall in local optima — the effect that set
    // q452's shipped width). One graph artifact + one truth build feed
    // all three arms. ----
    "q458_hnsw_beam_curve" -> { (s, d) =>
      val vecs = persistedVecs(s, d)
      // graph warm-up and brute-truth build are independent — overlap
      // (guide §2.6)
      var graphSlot: DataFrame = null
      var truthSlot: DataFrame = null
      graft.core.Par.run[Unit](Seq(
        () => graphSlot = warmed(hnswGraph(s, d)),
        () => truthSlot = warmed(bruteTopK(vecs).select("q_id", "vec_id"))))
      val graph = graphSlot; val truth = truthSlot
      val corpus = vecs.select(col("vec_id"), col("q"), col("norm"))
      val queriesDf = vecs.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("q").as("qq"), col("norm").as("qnorm"))
      val sm = hnswSeedMod(corpusCount(s, d))
      val wBA = Window.partitionBy("beam", "q_id")
        .orderBy(desc("cosine"), asc("vec_id"))
      // all three arms in ONE fused pipeline (see [[beamSearchArms]]):
      // per-arm trajectories identical to solo runs, 1/3 the joins
      val arms = beamSearchArms(graph, corpus, queriesDf, sm,
          hnswCurveBeams, hnswRounds)
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("rk", row_number().over(wBA))
        .filter(col("rk") <= topK)
        .select(col("beam"), col("q_id"), col("vec_id"))
      val hits = arms.join(truth, Seq("q_id", "vec_id"))
        .groupBy("beam").agg(count(lit(1)).as("n_hits"))
      val denom = truth.agg(count(lit(1)).as("n_truth"))
      import s.implicits._
      val result = hnswCurveBeams.toDF("beam")
        .join(hits, Seq("beam"), "left")
        .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)).cast("bigint"))
        .crossJoin(broadcast(denom))
        .select(col("beam").cast("int").as("beam"), col("n_hits"),
          col("n_truth").cast("bigint").as("n_truth"),
          expr("n_hits * 1000000 div n_truth").cast("bigint").as("recall_ppm"))
      graph.unpersist()
      materialized(result, truth, vecs).orderBy("beam")
    },

    // ---- HIERARCHICAL HNSW (q467): the log-depth structure the
    // PROFILE_HNSW_SEEDS.json sweep says the flat constant-seed lane
    // needs past ~10⁴ vectors — built and gated now, at the scale
    // where both are measurable. Three layers by deterministic
    // geometric nesting (vec_id % 64 / % 8 / all): the apex layer is
    // scored EXHAUSTIVELY (≤ N/64 rows — the bounded entry HNSW's top
    // layer provides), its top-8 seed a 2-round width-8 beam over the
    // LAYER-1 graph (its own artifact, built by the same LSH∪IVF pool
    // machinery restricted to members), and layer 1's top-8 seed the
    // SAME layer-0 graph + beam budget q452 ships. Per-layer descent
    // cost is O(carry · beam · M · rounds) — independent of N once the
    // apex is bounded — vs the flat lane's need to grow its stride
    // seed set. In-gate REQUIRE: recall ≥ 0.92 vs the q50 brute truth;
    // oracle = the full hierarchical replay (prefixed graph-CTE scopes
    // per layer, chained beam replays, entries flowing down). ----
    "q467_ann_hnsw_hier" -> { (s, d) =>
      val vecs = persistedVecs(s, d)
      // the hierarchical descent (eager beam rounds) and the brute truth
      // are independent — overlap them (guide §2.6); truth warmed ONCE
      // so the REQUIRE's count and the hit join don't each re-run the
      // brute pass
      var outSlot: DataFrame = null
      var truthSlot: DataFrame = null
      graft.core.Par.run[Unit](Seq(
        () => outSlot = warmed(hierTopK(s, d, vecs)),
        () => truthSlot = warmed(bruteTopK(vecs).select("q_id", "vec_id"))))
      val out = outSlot; val truth = truthSlot
      val nTruth = truth.count()
      val nHits = out.select("q_id", "vec_id").join(truth, Seq("q_id", "vec_id")).count()
      require(nHits.toDouble / nTruth >= 0.92,
        s"q467: hierarchical recall ${nHits.toDouble / nTruth} fell below " +
          s"the 0.92 floor ($nHits/$nTruth vs q50 truth)")
      materialized(out.toDF(), out, truth, vecs).orderBy("q_id", "rk")
    },

    // ---- DEDUP-THEN-INDEX ANN (q470, r13 VERDICT #3): the gated
    // production lane for the recorded near-duplicate-regime finding —
    // SemDeDup representative election (q102's machinery, same trained
    // model) → the q452 graph REBUILT over representatives only
    // ([[hnswRepsGraph]], its own artifact) → q452's exact beam budget
    // over the rep corpus, query panel unchanged (vec_id < 5). In-gate
    // REQUIRE: rep-credited recall vs the FULL-corpus q50 brute truth
    // ≥ 0.92 (a deduped-away truth neighbor counts when its elected
    // representative is returned — the honest metric on a corpus where
    // raw top-k is dominated by the query's own copies; see
    // [[dedupThenIndexRecall]]). PROFILE_HNSW_SEEDS.json carries this
    // arm on the ×4/×16 synthetic near-dup corpora, where the raw
    // graph arms decay and this one holds. Oracle: full DuckDB replay
    // — the SemDeDup model + dup election as CTEs, then graph build +
    // unrolled beam restricted to the rep membership. ----
    "q470_ann_dedup_then_index" -> { (s, d) =>
      val (_, nReps, recall, out, dups, vecs) = dedupThenIndexRecall(s, d)
      require(nReps > 0 && recall >= 0.92,
        s"q470: dedup-then-index rep-credited recall $recall fell below " +
          s"the 0.92 floor (nReps=$nReps vs q50 truth)")
      materialized(out.toDF(), out, dups, vecs).orderBy("q_id", "rk")
    },

    "q452_ann_hnsw" -> { (s, d) =>
      val vecs = persistedVecs(s, d)
      // overlap the eager beam search with the brute-truth build (guide
      // §2.6), and warm truth ONCE — the REQUIRE previously ran the
      // brute pass twice (nTruth count + the hit join)
      var outSlot: DataFrame = null
      var truthSlot: DataFrame = null
      graft.core.Par.run[Unit](Seq(
        () => outSlot = warmed(hnswTopK(s, d, vecs)),
        () => truthSlot = warmed(bruteTopK(vecs).select("q_id", "vec_id"))))
      val out = outSlot; val truth = truthSlot
      val nTruth = truth.count()
      val nHits = out.select("q_id", "vec_id").join(truth, Seq("q_id", "vec_id")).count()
      require(nHits.toDouble / nTruth >= 0.92,
        s"q452: beam recall ${nHits.toDouble / nTruth} fell below the 0.92 floor " +
          s"($nHits/$nTruth vs q50 truth)")
      materialized(out.toDF(), out, truth, vecs).orderBy("q_id", "rk")
    },

    // ---- GREEDY k-CENTER CORESET (Gonzalez 1985's 2-approximation
    // farthest-point heuristic): 8 maximally-spread exemplar vectors —
    // the diversity-selection step a curation pipeline runs to pick
    // demonstration/eval exemplars that COVER embedding space rather
    // than oversample its dense core. Each round is one NARROW map
    // (corpus × ONE broadcast center → least(dmin, d²)) plus a one-row
    // argmax aggregate — k scans total, never an all-pairs, which is
    // the only k-center shape that survives 100 TB. All distances are
    // raw int64 squared L2 between the shared quantized index's
    // vectors (the l2Q kernel), seed = md5-min vec_id (the IVF seeding
    // discipline), argmax ties → smaller vec_id; the oracle replays
    // the identical 8 rounds as unrolled CTEs. radius_sq per row is
    // the coverage radius of the PREVIOUS center set — the "radius vs
    // k" curve that says when more exemplars stop buying coverage. ----
    "q439_kcenter_coreset" -> { (s, d) =>
      graft.functions.GraftExpressions.ensure(s)
      val vecs = persistedVecs(s, d).select("vec_id", "q")
      val seed = vecs
        .select(col("vec_id"), col("q"),
          graft.functions.TextFunctions.hex64(
            md5(concat(lit("kc_"), col("vec_id").cast("string")))).as("h"))
        .agg(min(struct(col("h"), col("vec_id"), col("q"))).as("m"))
        .select(lit(1).as("sel_order"), col("m.vec_id").as("c_id"),
          lit(0L).as("radius_sq"), col("m.q").as("cq"))
      var picked = seed.localCheckpoint()
      var state = vecs.crossJoin(broadcast(picked.select("cq")))
        .select(col("vec_id"), col("q"), l2Q(col("q"), col("cq")).as("dmin"))
        .localCheckpoint()
      for (r <- 2 to 8) {
        val next = state
          .agg(max(struct(col("dmin"), (-col("vec_id")).as("nid"), col("q"))).as("m"))
          .select(lit(r).as("sel_order"), (-col("m.nid")).as("c_id"),
            col("m.dmin").as("radius_sq"), col("m.q").as("cq"))
          .localCheckpoint()
        picked = picked.union(next)
        state = state.crossJoin(broadcast(next.select(col("cq").as("ncq"))))
          .select(col("vec_id"), col("q"),
            least(col("dmin"), l2Q(col("q"), col("ncq"))).as("dmin"))
          .localCheckpoint()
      }
      val result = picked.select(col("sel_order").cast("int").as("sel_order"),
        col("c_id").cast("bigint").as("c_id"),
        col("radius_sq").cast("bigint").as("radius_sq"))
      materialized(result, vecs).orderBy("sel_order")
    },

    // ---- MATRYOSHKA TRUNCATION RECALL CURVE (Kusupati et al.,
    // NeurIPS 2022): recall@5 of cosine retrieval over the FIRST
    // d ∈ {8,16,32,64} dimensions against the full-64-dim truth — the
    // measurement behind the shortlist-with-truncated-prefix /
    // re-rank-with-full-vector serving layout (a d-dim prefix scan
    // reads d/64 of the index bytes; this table says what that buys
    // and costs on THIS corpus). Same exact int64 fixed-point dots as
    // every embedding query (prefix slices of the quantized vector;
    // norms recomputed per truncation), per-(dim, query) rank windows
    // over the 5-query panel, all-integer recall ppm. The dim=64 row
    // is the identity sanity lane (recall ≡ 10⁶). ----
    "q379_matryoshka_recall" -> { (s, d) =>
      graft.functions.GraftExpressions.ensure(s)
      val vecs = persistedVecs(s, d)
      val truth = warmed(bruteTopK(vecs)
        .select(col("q_id"), col("vec_id"), lit(1L).as("hit")))
      val perDim = Seq(8, 16, 32, 64).map { dm =>
        val base = vecs.select(col("vec_id"), expr(s"slice(q, 1, $dm)").as("qd"))
          .withColumn("normd", sqrt(normSqQ(col("qd"))))
        val qs = base.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("qd").as("qq"),
            col("normd").as("qnorm"))
        val w = Window.partitionBy("q_id").orderBy(desc("cosine"), asc("vec_id"))
        qs.join(base, col("vec_id") =!= col("q_id"))
          .withColumn("cosine",
            cosineQ(col("qq"), col("qd"), col("qnorm"), col("normd")))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= topK)
          .select(lit(dm).as("dim"), col("q_id"), col("vec_id"))
      }.reduce(_ unionByName _)
      val result = perDim
        .join(broadcast(truth), Seq("q_id", "vec_id"), "left")
        .groupBy("dim")
        .agg(countDistinct("q_id").cast("bigint").as("n_queries"),
          count(lit(1)).cast("bigint").as("n_retrieved"),
          sum(coalesce(col("hit"), lit(0L))).cast("bigint").as("n_hits"))
        .withColumn("recall_ppm",
          expr("(n_hits * 1000000) div n_retrieved").cast("bigint"))
        .select(col("dim").cast("int").as("dim"), col("n_queries"),
          col("n_retrieved"), col("n_hits"), col("recall_ppm"))
      materialized(result, vecs, truth).orderBy("dim")
    },

    // ---- NDCG@5 retrieval evaluation (Järvelin & Kekäläinen, TOIS
    // 2002) of the exact cosine ranking against label agreement — the
    // "does nearest-neighbor retrieval surface same-class items" number
    // an embedding-quality dashboard reports next to q54's recall.
    // Binary gain rel_i = [label(cand) = label(query)]; DCG weights
    // 1/log2(i+1) enter as HARDCODED 10⁶-scaled integer literals
    // (identical VALUES rows in both engines — never engine-local
    // transcendentals, the weight table is 5 rows of math done once);
    // IDCG is the prefix sum of those same literals at n_rel. All-int64;
    // per-query rows are topK-bounded so the eval is a broadcast-sized
    // join over the candidate set whatever the corpus size. ----
    "q198_ndcg_label" -> { (s, d) =>
      val vecs = persistedVecs(s, d)
      val labels = Tables.embeddings(s, d).select(col("vec_id"), col("label"))
      val wArr = array(lit(1000000L), lit(630929L), lit(500000L),
        lit(430676L), lit(386852L))
      val pArr = array(lit(1000000L), lit(1630929L), lit(2130929L),
        lit(2561605L), lit(2948457L))
      val ql = labels.select(col("vec_id").as("q_id"), col("label").as("q_label"))
      val per = bruteTopK(vecs)
        .join(labels, "vec_id")
        .join(broadcast(ql), "q_id")
        .withColumn("rel", (col("label") === col("q_label")).cast("bigint"))
        .groupBy(col("q_id"), col("q_label"))
        .agg(sum("rel").as("n_rel"),
          sum(col("rel") * element_at(wArr, col("rk").cast("int"))).as("dcg_q"))
      val result = per
        .withColumn("idcg_q",
          when(col("n_rel") > 0, element_at(pArr, col("n_rel").cast("int")))
            .otherwise(lit(0L)))
        .select(col("q_id"), col("q_label").cast("int").as("q_label"),
          col("n_rel").cast("bigint").as("n_rel"),
          col("dcg_q").cast("bigint").as("dcg_q"),
          col("idcg_q").cast("bigint").as("idcg_q"),
          when(col("n_rel") > 0,
            expr("(1000000 * dcg_q) div idcg_q")).otherwise(lit(0L))
            .cast("bigint").as("ndcg_q"))
      materialized(result, vecs).orderBy("q_id")
    },

    // ---- IVF INDEX STALENESS AUDIT: retrain the trained model ONE
    // more integer Lloyd round and measure, per cell, what fraction of
    // its members would change cells — the drift metric an ANN service
    // watches to decide when an index rebuild pays for itself (high
    // moved_ppm = centroids no longer describe the data). Reuses the
    // once-per-corpus ivfRanked artifact; the extra round is one
    // centroid update (cells-sized) + one broadcast reassignment — the
    // same bounded shapes as training, no new corpus-scale structure.
    "q315_ivf_staleness" -> { (s, d) =>
      graft.functions.GraftExpressions.ensure(s)
      val vecs = persistedVecs(s, d)
      val ranked = warmed(ivfRanked(s, d, vecs, ivfCellsFor(corpusCount(s, d))))
      val cells = ranked.filter(col("arn") === 1)
        .select(col("vec_id"), col("q"), col("norm"), col("cell"))
      val centx = updateCentroids(cells)
      val reassigned = assignCells(vecs, centx)
        .select(col("vec_id"), col("cell").as("cell_new"))
      val result = cells.select(col("vec_id"), col("cell").as("cell_old"))
        .join(reassigned, "vec_id")
        .groupBy("cell_old")
        .agg(count(lit(1)).cast("bigint").as("n_members"),
          sum((col("cell_new") =!= col("cell_old")).cast("bigint"))
            .cast("bigint").as("n_moved"))
        .withColumn("moved_ppm",
          expr("n_moved * 1000000 div n_members").cast("bigint"))
        .select(col("cell_old").cast("int").as("cell"),
          col("n_members"), col("n_moved"), col("moved_ppm"))
      materialized(result, ranked, vecs).orderBy("cell")
    },

    // ---- IVF INDEX DELTA MAINTENANCE (r9 VERDICT north-star #6): the
    // ANN side of the build-once-maintain-forever discipline the dedup
    // family already has (q101/q224/q138). The delta batch (vec_id %
    // 10 == 7, the q101 split) is assigned to the EXISTING cells of a
    // model trained on the base corpus alone — O(|delta|) work against
    // the stored artifact, never a retrain — and each cell reports the
    // two staleness signals a serving index watches: GROWTH (delta
    // members landing in it, ppm of its base membership) and DRIFT
    // (q315's one-more-Lloyd-round audit COMPOSED over the augmented
    // membership: how many members would change cells if the centroids
    // absorbed the delta). Cells past either threshold are flagged
    // `needs_resplit` — the re-split worklist an index maintainer
    // feeds back into the build stage. Shapes: centroid updates are
    // cells-sized aggregates, every assignment is a broadcast-centroid
    // argmax — no corpus-scale structure beyond the one base training
    // (itself a once-per-corpus artifact). n_base >= 1 structurally:
    // the group keys are exactly the stored model's nonempty cells, so
    // the ppm divisions cannot hit zero. ----
    "q423_ivf_delta_maintain" -> { (s, d) =>
      graft.functions.GraftExpressions.ensure(s)
      val (vecs, ranked, cells, centx) = baseModelState(s, d)
      val delta = vecs.filter(pmod(col("vec_id"), lit(10L)) === lit(7L))
        .select(col("vec_id"), col("q"), col("norm"))
      val dasg = assignCells(delta, centx)
      val aug = cells.select(col("vec_id"), col("q"), col("norm"),
          col("cell").as("cell_old"), lit(0L).as("is_new"))
        .unionByName(dasg.select(col("vec_id"), col("q"), col("norm"),
          col("cell").as("cell_old"), lit(1L).as("is_new")))
      val centy = updateCentroids(
        aug.select(col("vec_id"), col("q"), col("cell_old").as("cell")))
      val reasg = assignCells(aug.select("vec_id", "q", "norm"), centy)
        .select(col("vec_id"), col("cell").as("cell_new"))
      val result = aug.join(reasg, "vec_id")
        .groupBy("cell_old")
        .agg(sum(lit(1L) - col("is_new")).as("n_base"),
          sum("is_new").as("n_new"),
          sum(when(col("cell_new") =!= col("cell_old"), 1L).otherwise(0L))
            .as("n_moved"))
        .withColumn("growth_ppm", expr("n_new * 1000000 div n_base"))
        .withColumn("moved_ppm", expr("n_moved * 1000000 div (n_base + n_new)"))
        .withColumn("needs_resplit",
          col("growth_ppm") > lit(growthResplitPpm) ||
            col("moved_ppm") > lit(driftResplitPpm))
        .select(col("cell_old").cast("int").as("cell"),
          col("n_base").cast("bigint").as("n_base"),
          col("n_new").cast("bigint").as("n_new"),
          col("growth_ppm").cast("bigint").as("growth_ppm"),
          col("n_moved").cast("bigint").as("n_moved"),
          col("moved_ppm").cast("bigint").as("moved_ppm"),
          col("needs_resplit"))
      materialized(result, ranked, vecs).orderBy("cell")
    },

    // ---- IVF RE-SPLIT EXECUTION (r10 VERDICT follow-on #3): q423
    // FLAGS the cells whose growth/drift crossed threshold; this query
    // EXECUTES the maintenance action on them — a deterministic 2-means
    // split of each flagged cell's augmented membership (base + delta),
    // the same integer-Lloyd machinery as the main build (md5-minimal
    // seeds, [[ivfRounds]] truncated-int64 centroid rounds, max-cosine
    // assignment with min-sub tie-break) run PER CELL, all flagged
    // cells in parallel under composite (cell, sub) keys. Output is the
    // old-cell → new-sub-cell membership table the index maintainer
    // applies as a partition rewrite. Shapes: members of flagged cells
    // only (a few cells × ~√N members); every centroid table is
    // 2·|flagged| rows and broadcasts; the split never touches
    // unflagged cells — O(flagged membership), not a retrain. ----
    "q429_ivf_resplit" -> { (s, d) =>
      graft.functions.GraftExpressions.ensure(s)
      // The RESPLIT WORKLIST — flagged cells' augmented membership — is
      // a once-per-corpus ARTIFACT: the flag derivation replays q423's
      // maintenance chain (delta assign, one-round drift audit), and a
      // maintainer derives the worklist once and feeds it to the build
      // stage, not once per consumer. Warm runs read the worklist and
      // pay only the (flagged-cells-bounded) split itself.
      val memPath = graft.core.Artifacts.materialize(
        s"ivf_resplit_members_v1_${graft.core.Artifacts.corpusKey(d, "embeddings.parquet")}") { tmp =>
        val (vecs, ranked, cells, centx) = baseModelState(s, d)
        val delta = vecs.filter(pmod(col("vec_id"), lit(10L)) === lit(7L))
          .select(col("vec_id"), col("q"), col("norm"))
        val dasg = assignCells(delta, centx)
        val aug = cells.select(col("vec_id"), col("q"), col("norm"),
            col("cell").as("cell_old"), lit(0L).as("is_new"))
          .unionByName(dasg.select(col("vec_id"), col("q"), col("norm"),
            col("cell").as("cell_old"), lit(1L).as("is_new")))
        val centy = updateCentroids(
          aug.select(col("vec_id"), col("q"), col("cell_old").as("cell")))
        val reasg = assignCells(aug.select("vec_id", "q", "norm"), centy)
          .select(col("vec_id"), col("cell").as("cell_new"))
        val flags = aug.join(reasg, "vec_id")
          .groupBy("cell_old")
          .agg(sum(lit(1L) - col("is_new")).as("n_base"),
            sum("is_new").as("n_new"),
            sum(when(col("cell_new") =!= col("cell_old"), 1L).otherwise(0L))
              .as("n_moved"))
          .filter(expr("n_new * 1000000 div n_base") > lit(growthResplitPpm) ||
            expr("n_moved * 1000000 div (n_base + n_new)") > lit(driftResplitPpm))
          .select(col("cell_old").as("cell"))
        aug.select(col("vec_id"), col("q"), col("norm"), col("cell_old").as("cell"))
          .join(broadcast(flags), "cell")
          .repartition(8).write.mode("overwrite").parquet(tmp)
        ranked.unpersist(); vecs.unpersist()
      }
      // warmed: the worklist feeds the seed rank + every Lloyd round +
      // the final assignment
      val members = warmed(s.read.parquet(memPath))
      val wSeed = Window.partitionBy("cell").orderBy("h", "vec_id")
      val seeds = members
        .withColumn("h",
          graft.functions.TextFunctions.hex64(md5(col("vec_id").cast("string"))))
        .withColumn("rn", row_number().over(wSeed)).filter(col("rn") <= 2)
        .select(col("cell"), (col("rn") - 1).cast("int").as("sub"),
          col("q").as("cq"))
        .withColumn("cnorm", sqrt(normSqQ(col("cq"))))
      val cent = (1 to ivfRounds).foldLeft(seeds)((c, _) =>
        subUpdateCentroids(subAssign(members, c)))
      val result = subAssign(members, cent)
        .select(col("cell").cast("int").as("cell"),
          col("sub").cast("int").as("sub"), col("vec_id"))
      materialized(result, members).orderBy("cell", "sub", "vec_id")
    },

    // ---- EMBEDDING-SPACE DRIFT: TWO-SAMPLE ENERGY DISTANCE (Székely &
    // Rizzo 2004) per source pair (r10 VERDICT follow-on #4) — the
    // drift test an embedding pipeline monitors where q330/q426/q427
    // watch scalar (length) distributions: E(A,B) = 2·E‖a−b‖ − E‖a−a′‖
    // − E‖b−b′‖ ≥ 0, zero iff the distributions coincide. Exactness:
    // every pairwise distance is floor(sqrt(raw int64 squared-L2)) — the
    // l2Q kernel's exact integer into one correctly-rounded sqrt, so
    // each micro-distance is a portable int64 and the pair sums are
    // aggregation-order-free; the statistic assembles with ONE integer
    // division at common denominator n_a²·n_b². Panels are the P=16
    // md5-minimal vectors per source (q324's panel discipline), so the
    // pair frame is sources²·P² — panel-bounded at any corpus size; at
    // 100 TB the panel draw is the only corpus scan. Sources come from
    // the documents row sharing the vector's id (vec_id ≙ doc_id, the
    // corpus contract q74/q123 already ride). ----
    "q430_energy_distance" -> { (s, d) =>
      graft.functions.GraftExpressions.ensure(s)
      val vecs = persistedVecs(s, d).select(col("vec_id"), col("q"))
      val src = Tables.documents(s, d)
        .select(col("doc_id").as("vec_id"), col("source"))
      val wP = Window.partitionBy("source").orderBy("h", "vec_id")
      val panel = warmed(vecs.join(src, "vec_id")
        .withColumn("h",
          graft.functions.TextFunctions.hex64(md5(col("vec_id").cast("string"))))
        .withColumn("rn", row_number().over(wP))
        .filter(col("rn") <= lit(energyPanel))
        .select(col("source"), col("vec_id"), col("q")))
      def dm(qa: Column, qb: Column): Column =
        floor(sqrt(l2Q(qa, qb).cast("double"))).cast("long")
      val sizes = panel.groupBy("source").agg(count(lit(1)).as("n"))
      val sab = panel.as("a").join(panel.as("b"), col("a.source") < col("b.source"))
        .select(col("a.source").as("source_a"), col("b.source").as("source_b"),
          dm(col("a.q"), col("b.q")).as("dmic"))
        .groupBy("source_a", "source_b").agg(sum("dmic").as("s_ab"))
      // ordered within-source pairs (i ≠ j): twice the unordered sum —
      // the E‖a−a′‖ numerator over n² with the zero diagonal dropped
      val sxx = panel.as("a").join(panel.as("b"),
          col("a.source") === col("b.source") && col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.source").as("source"), dm(col("a.q"), col("b.q")).as("dmic"))
        .groupBy("source").agg(sum("dmic").as("s_xx"))
      val result = sab
        .join(sizes.select(col("source").as("source_a"), col("n").as("n_a")), "source_a")
        .join(sizes.select(col("source").as("source_b"), col("n").as("n_b")), "source_b")
        .join(sxx.select(col("source").as("source_a"), col("s_xx").as("s_aa0")),
          Seq("source_a"), "left")
        .join(sxx.select(col("source").as("source_b"), col("s_xx").as("s_bb0")),
          Seq("source_b"), "left")
        .select(col("source_a"), col("source_b"),
          col("n_a").cast("bigint").as("n_a"), col("n_b").cast("bigint").as("n_b"),
          col("s_ab").cast("bigint").as("s_ab"),
          coalesce(col("s_aa0"), lit(0L)).cast("bigint").as("s_aa"),
          coalesce(col("s_bb0"), lit(0L)).cast("bigint").as("s_bb"))
        .withColumn("e_micro", expr(
          "(2 * s_ab * n_a * n_b - s_aa * n_b * n_b - s_bb * n_a * n_a) " +
            "div (n_a * n_a * n_b * n_b)").cast("bigint"))
      materialized(result, panel, vecs).orderBy("source_a", "source_b")
    },

    // ---- EMBEDDING DRIFT: POLYNOMIAL-KERNEL MMD² (Gretton et al.,
    // JMLR 2012) per source pair — q430's companion with a KERNEL view
    // of the same panels: the unbiased MMD² estimator under the degree-2
    // polynomial kernel k(x,y) = (1000 + ⟨x,y⟩_milli)², which is
    // ALL-INTEGER end to end (the raw int64 dot is exact; one div
    // rescales it to milli; the square and the three pair sums stay in
    // int64 by construction — no sqrt, no doubles anywhere, unlike
    // energy distance's one rounded sqrt per pair). Unbiased form drops
    // the within-sample diagonal, so panels need n ≥ 2 — pairs with a
    // singleton side are excluded identically in both engines. Same
    // panel²-bounded shapes as q430; the two statistics disagreeing on
    // a pair (one flags, one doesn't) is itself diagnostic: energy
    // distance reads metric geometry, the poly kernel reads second-order
    // moments. ----
    "q433_mmd_poly" -> { (s, d) =>
      graft.functions.GraftExpressions.ensure(s)
      val vecs = persistedVecs(s, d).select(col("vec_id"), col("q"))
      val src = Tables.documents(s, d)
        .select(col("doc_id").as("vec_id"), col("source"))
      val wP = Window.partitionBy("source").orderBy("h", "vec_id")
      val panel = warmed(vecs.join(src, "vec_id")
        .withColumn("h",
          graft.functions.TextFunctions.hex64(md5(col("vec_id").cast("string"))))
        .withColumn("rn", row_number().over(wP))
        .filter(col("rn") <= lit(energyPanel))
        .select(col("source"), col("vec_id"), col("q")))
      // k(x,y) = (1000 + (raw_dot div 1e9))²: dot_milli ≈ cos·1000 on
      // unit-ish vectors; |dot_milli| ≤ 2.6e5 keeps k ≤ 6.6e10 and the
      // panel² sums ≤ ~2e13 — exact int64 throughout (div truncates
      // toward zero in BOTH engines, including negative dots)
      val kv = expr("(1000 + (dotr div 1000000000)) * (1000 + (dotr div 1000000000))")
      val sizes = panel.groupBy("source").agg(count(lit(1)).as("n"))
      val sab = panel.as("a").join(panel.as("b"), col("a.source") < col("b.source"))
        .select(col("a.source").as("source_a"), col("b.source").as("source_b"),
          graft.functions.GraftExpressions.longArrayDot(col("a.q"), col("b.q")).as("dotr"))
        .withColumn("kv", kv)
        .groupBy("source_a", "source_b").agg(sum("kv").as("s_ab"))
      val sxx = panel.as("a").join(panel.as("b"),
          col("a.source") === col("b.source") && col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.source").as("source"),
          graft.functions.GraftExpressions.longArrayDot(col("a.q"), col("b.q")).as("dotr"))
        .withColumn("kv", kv)
        .groupBy("source").agg(sum("kv").as("s_xx"))
      val result = sab
        .join(sizes.select(col("source").as("source_a"), col("n").as("n_a")), "source_a")
        .join(sizes.select(col("source").as("source_b"), col("n").as("n_b")), "source_b")
        .join(sxx.select(col("source").as("source_a"), col("s_xx").as("s_aa")), "source_a")
        .join(sxx.select(col("source").as("source_b"), col("s_xx").as("s_bb")), "source_b")
        .filter(col("n_a") >= 2 && col("n_b") >= 2)
        .select(col("source_a"), col("source_b"),
          col("n_a").cast("bigint").as("n_a"), col("n_b").cast("bigint").as("n_b"),
          col("s_ab").cast("bigint").as("s_ab"),
          col("s_aa").cast("bigint").as("s_aa"),
          col("s_bb").cast("bigint").as("s_bb"))
        // unbiased MMD²: S_aa/(na(na−1)) + S_bb/(nb(nb−1)) − 2·S_ab/(na·nb),
        // assembled over the common denominator in ONE integer division
        .withColumn("mmd2_q", expr(
          "(s_aa * (n_b * (n_b - 1)) + s_bb * (n_a * (n_a - 1)) " +
            "- 2 * s_ab * ((n_a - 1) * (n_b - 1))) " +
            "div ((n_a * (n_a - 1)) * (n_b * (n_b - 1)))").cast("bigint"))
      materialized(result, panel, vecs).orderBy("source_a", "source_b")
    },

    // ---- DAVIES–BOULDIN CLUSTER SEPARATION (Davies & Bouldin, TPAMI
    // 1979): per IVF cell, worst-case (scatter_i + scatter_j) / d(c_i,
    // c_j)² over all other cells — the compactness-vs-separation index
    // an ANN service reads next to q239's purity and q315's staleness
    // before trusting a trained index. All integer: scatter = mean raw
    // squared-L2 of members to their RECOMPUTED centroid (q315's centx,
    // so the three index-health queries audit the same model state);
    // the ratio is ×1000 floor-division on provably-nonnegative int64
    // (scatter ≤ 64·(2·10⁶)² ≈ 2.6·10¹⁴, ×1000 < 2⁶³). Shapes: one
    // members⋈broadcast-centroid join + cells²-bounded pair frame. ----
    "q323_davies_bouldin" -> { (s, d) =>
      graft.functions.GraftExpressions.ensure(s)
      val vecs = persistedVecs(s, d)
      val ranked = warmed(ivfRanked(s, d, vecs, ivfCellsFor(corpusCount(s, d))))
      val cells = ranked.filter(col("arn") === 1)
        .select(col("vec_id"), col("q"), col("cell"))
      val centx = updateCentroids(cells)
      val scat = cells.join(broadcast(centx), "cell")
        .select(col("cell"), l2Q(col("q"), col("cq")).as("d2"))
        .groupBy("cell").agg(count(lit(1)).as("n"), sum("d2").as("sd2"))
        .select(col("cell"), col("n"), expr("sd2 div n").as("scatter_q"))
      val m = centx.select(col("cell").as("ci"), col("cq").as("cqi"))
        .crossJoin(broadcast(centx.select(col("cell").as("cj"), col("cq").as("cqj"))))
        .filter(col("ci") =!= col("cj"))
        .select(col("ci"), col("cj"), l2Q(col("cqi"), col("cqj")).as("m2"))
        .filter(col("m2") > 0)
      val db = m
        .join(scat.select(col("cell").as("ci"), col("scatter_q").as("si")), "ci")
        .join(scat.select(col("cell").as("cj"), col("scatter_q").as("sj")), "cj")
        .groupBy("ci").agg(max(expr("(si + sj) * 1000 div m2")).as("db_ppk"))
      val result = scat
        .join(db.select(col("ci").as("cell"), col("db_ppk")), Seq("cell"), "left")
        .select(col("cell").cast("int").as("cell"),
          col("n").cast("bigint").as("n_members"),
          col("scatter_q").cast("bigint").as("scatter_q"),
          coalesce(col("db_ppk"), lit(-1L)).cast("bigint").as("db_ppk"))
      materialized(result, ranked, vecs).orderBy("cell")
    },

    // ---- JOHNSON–LINDENSTRAUSS DISTORTION AUDIT (JL 1984; Achlioptas
    // 2003 ±1 projections): project the corpus to r=16 dims with a
    // deterministic md5-seeded sign matrix and measure, over a fixed
    // 32-vector panel's 496 pairs, how well r-dim squared distances
    // preserve the 64-dim truth — the go/no-go check before shipping a
    // cheaper projected index. distortion_ppk = (d2_proj·1000) div
    // (r·d2_orig) at matched 10⁻⁶ scale-downs (both floor-divided AFTER
    // squaring, so every operand is nonnegative int64; raw projections
    // stay full-precision — |p| ≤ 64·10⁶ keeps Σ(Δp)² ≤ 2.6·10¹⁷).
    // Shapes: the sign matrix is a 1024-row broadcast; projection is
    // one narrow explode + map-side-combining sum per (vector, j);
    // the pair frame is panel²-bounded. ----
    "q324_jl_distortion" -> { (s, d) =>
      graft.functions.GraftExpressions.ensure(s)
      val r = 16
      val vecs = persistedVecs(s, d)
      val panel = warmed(vecs
        .select(col("vec_id"), col("q"),
          graft.functions.TextFunctions.hex64(md5(col("vec_id").cast("string"))).as("h"))
        .orderBy("h", "vec_id").limit(32)
        .select(col("vec_id"), col("q")))
      val signs = jlSigns(s, r)
      val proj = panel
        .select(col("vec_id"), posexplode(col("q")).as(Seq("i0", "x")))
        .withColumn("i", (col("i0") + 1).cast("int"))
        .join(broadcast(signs), "i")
        .groupBy("vec_id", "j").agg(sum(col("sgn") * col("x")).as("p"))
      val d2p = proj.select(col("vec_id").as("va"), col("j"), col("p").as("pa"))
        .join(proj.select(col("vec_id").as("vb"), col("j"), col("p").as("pb")), "j")
        .filter(col("va") < col("vb"))
        .groupBy("va", "vb")
        .agg(sum((col("pa") - col("pb")) * (col("pa") - col("pb"))).as("d2p_raw"))
        .select(col("va"), col("vb"), expr("d2p_raw div 1000000").as("d2p_s"))
      val d2o = panel.select(col("vec_id").as("va"), col("q").as("qa"))
        .crossJoin(panel.select(col("vec_id").as("vb"), col("q").as("qb")))
        .filter(col("va") < col("vb"))
        .select(col("va"), col("vb"), l2Q(col("qa"), col("qb")).as("d2o_raw"))
        .select(col("va"), col("vb"), expr("d2o_raw div 1000000").as("d2o_s"))
      val result = d2o.join(d2p, Seq("va", "vb"))
        .filter(col("d2o_s") > 0)
        .select(col("va").cast("bigint").as("vec_i"),
          col("vb").cast("bigint").as("vec_j"),
          col("d2o_s").cast("bigint").as("d2o_s"),
          col("d2p_s").cast("bigint").as("d2p_s"),
          expr(s"(d2p_s * 1000) div ($r * d2o_s)").cast("bigint").as("distortion_ppk"))
      materialized(result, vecs).orderBy("vec_i", "vec_j")
    },

    // ---- NEAREST-CENTROID CLASSIFIER EVAL (the prototype baseline —
    // Rocchio 1971; "prototypical networks" in the metric-learning
    // frame): per label, the truncated-int64 mean vector; every corpus
    // vector classified to its max-cosine prototype (ties → smallest
    // label, the assignCells rule); output the labels²-bounded
    // confusion matrix with integer-ppm recall — the linear-separability
    // read next to q279's k-NN accuracy (k-NN is local, the centroid
    // is global: disagreement between the two diagnoses cluster shape).
    // Shapes: one label-keyed mean aggregate (labels-sized), one
    // broadcast argmax scan, one matrix aggregate. ----
    "q333_centroid_classifier" -> { (s, d) =>
      graft.functions.GraftExpressions.ensure(s)
      val vecs = persistedVecs(s, d)
      val labeled = vecs.join(
        graft.core.Tables.embeddings(s, d).select(col("vec_id"), col("label")),
        "vec_id")
      val cent = updateCentroids(
        labeled.select(col("vec_id"), col("q"), col("label").cast("int").as("cell")))
      val pred = assignCells(labeled.select(col("vec_id"), col("q"), col("norm")), cent)
        .select(col("vec_id"), col("cell").as("pred_label"))
      val cm = labeled.select(col("vec_id"), col("label").cast("int").as("true_label"))
        .join(pred, "vec_id")
        .groupBy("true_label", "pred_label")
        .agg(count(lit(1)).cast("bigint").as("n_vecs"))
      val tot = cm.groupBy("true_label").agg(sum("n_vecs").as("n_true"))
      val result = cm.join(tot, "true_label")
        .select(col("true_label"), col("pred_label").cast("int").as("pred_label"),
          col("n_vecs"), col("n_true").cast("bigint").as("n_true"),
          expr("n_vecs * 1000000 div n_true").cast("bigint").as("recall_ppm"))
      materialized(result, vecs).orderBy("true_label", "pred_label")
    },

    // ---- SQ8 RECONSTRUCTION-ERROR AUDIT: per label class, the exact
    // distribution of the 1-byte scalar quantizer's information loss —
    // the error-budget read that justifies (or vetoes) shipping the
    // q151 SQ8 index for a given corpus, next to q54's recall and
    // q285's dimension health. Everything in the model's own 255-scaled
    // integer units (x̂·255 = 255·mn + code·(mx−mn), the q151 decode):
    // d2 = Σ(255x − 255x̂)² and the per-vector relative error
    // d2·1000 div Σ(255x)², all provably-nonnegative int64 (d2 ≤
    // 64·(mx−mn)² ≈ 2.6·10¹⁴; the norm term ≤ 4.2·10¹⁸). Shapes: the
    // once-per-corpus SQ8 artifact joined back per dimension (narrow),
    // then two stacked map-side-combining aggregates (vector grain →
    // label grain). ----
    "q325_sq8_error" -> { (s, d) =>
      graft.functions.GraftExpressions.ensure(s)
      val vecs = persistedVecs(s, d)
      val dir = sq8ModelDir(s, d)
      val par = s.read.parquet(s"$dir/params")
      val codes = s.read.parquet(s"$dir/codes")
        .select(col("vec_id"), posexplode(col("codes")).as(Seq("i", "code")))
      val comp = vecs
        .select(col("vec_id"), posexplode(col("q")).as(Seq("i", "x")))
      val err = comp
        .join(codes, Seq("vec_id", "i"))
        .join(broadcast(par), "i")
        .withColumn("xh", expr("255L * mn + code * (mx - mn)"))
        .withColumn("e", expr("255L * x - xh"))
        .groupBy("vec_id")
        .agg(sum(expr("e * e")).as("d2"),
          sum(expr("(255L * x) * (255L * x)")).as("n255"))
        .withColumn("rel_ppk",
          expr("CASE WHEN n255 = 0 THEN 0L ELSE (d2 * 1000) div n255 END"))
      val result = err
        .join(graft.core.Tables.embeddings(s, d).select(col("vec_id"), col("label")),
          "vec_id")
        .groupBy("label")
        .agg(count(lit(1)).as("n"), sum("d2").as("sd2"), max("d2").as("mx2"),
          sum("rel_ppk").as("srel"))
        .select(col("label").cast("int").as("label"),
          col("n").cast("bigint").as("n_vecs"),
          expr("sd2 div n").cast("bigint").as("mean_err_q"),
          col("mx2").cast("bigint").as("max_err_q"),
          expr("srel div n").cast("bigint").as("mean_rel_ppk"))
      materialized(result, vecs).orderBy("label")
    },

    // ---- EMBEDDING DIMENSION HEALTH: per-coordinate population stats
    // over the fixed-point components — the dead/collapsed-dimension
    // diagnostic (a dim whose mass sits at ~0, or whose range collapsed,
    // signals an encoder fault) an embedding pipeline runs before any
    // ANN index build. posexplode to (dim, x_q) then one dim-keyed
    // aggregate: 64 output rows whatever the corpus size, all counters
    // int64-exact (|x_q| ≤ ~2²⁰ for unit-scale embeddings, so even Σ|x|
    // holds to ~10¹² vectors); no division anywhere — downstream readers
    // derive means at report time. ----
    "q285_embedding_dim_stats" -> { (s, d) =>
      Tables.embeddings(s, d)
        .select(posexplode(quantize(col("embedding"))).as(Seq("dim", "x")))
        .groupBy("dim")
        .agg(count(lit(1)).cast("bigint").as("n"),
          sum("x").cast("bigint").as("sum_q"),
          min("x").cast("bigint").as("min_q"),
          max("x").cast("bigint").as("max_q"),
          sum(abs(col("x"))).cast("bigint").as("sum_abs_q"),
          sum((abs(col("x")) < lit(10000L)).cast("bigint"))
            .cast("bigint").as("n_nearzero"))
        .select(col("dim").cast("int").as("dim"), col("n"), col("sum_q"),
          col("min_q"), col("max_q"), col("sum_abs_q"), col("n_nearzero"))
        .orderBy("dim")
    },

    // ---- REDUNDANT-DIMENSION DETECTOR: top-20 most-correlated
    // coordinate pairs of the embedding space — collapsed/duplicated
    // dimensions are wasted index bytes and a PQ-subspace hazard. The
    // moment sums come from a GRAM-MATRIX treeAggregate (the classic
    // RowMatrix.computeGramianMatrix shape): each task folds its rows
    // into ONE d + d(d+1)/2 int64 state (d = 64 → 2 KiB), merged
    // tree-wise — O(d²) bounded state, no shuffle of per-row data, the
    // only driver-side object a constant-size moment vector (the
    // documented bounded-collect class). Pearson corr is then derived
    // per pair from exact int64 moments with one double sqrt+divide
    // (int64→double correctly rounded on both engines — the q228
    // discipline); int64-exact while n·Σxᵢxⱼ ≤ 9·10¹⁸ (unit-scale
    // embeddings: through ~10⁷ vectors; past that the same moments
    // accumulate in 128-bit halves). ----
    "q288_dim_correlation" -> { (s, d) =>
      import s.implicits._
      val nd = dim
      val tri = nd * (nd + 1) / 2
      val rows = Tables.embeddings(s, d)
        .select(quantize(col("embedding")).as("q"))
        .rdd.map(_.getSeq[Long](0).toArray)
      val st = rows.treeAggregate(new Array[Long](1 + nd + tri))(
        (a, x) => {
          a(0) += 1L
          var i = 0
          var k = 1 + nd
          while (i < nd) {
            a(1 + i) += x(i)
            var j = i
            while (j < nd) { a(k) += x(i) * x(j); k += 1; j += 1 }
            i += 1
          }
          a
        },
        (a, b) => { var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a })
      val n = st(0)
      def sx(i: Int): Long = st(1 + i)
      def sxy(i: Int, j: Int): Long = // i <= j, row-major upper triangle
        st(1 + nd + i * (2 * nd - i + 1) / 2 + (j - i))
      val pairs = for { i <- 0 until nd; j <- (i + 1) until nd } yield {
        val num = n * sxy(i, j) - sx(i) * sx(j)
        val vx = n * sxy(i, i) - sx(i) * sx(i)
        val vy = n * sxy(j, j) - sx(j) * sx(j)
        val corr =
          if (vx == 0L || vy == 0L) 0.0
          else num.toDouble / math.sqrt(vx.toDouble * vy.toDouble)
        (i, j, n, sxy(i, j), num, corr)
      }
      pairs.toDF("i", "j", "n", "sxy", "num", "corr")
        .select(col("i").cast("int").as("i"), col("j").cast("int").as("j"),
          col("n"), col("sxy"), col("num"), col("corr"))
        .orderBy(abs(col("corr")).desc, col("i"), col("j")).limit(20)
    },

    // ---- k-NN CLASSIFICATION ACCURACY (leave-one-out, majority vote):
    // the embedding-space labelability eval — top-5 cosine neighbors of
    // each eval vector vote with their labels, ties to the smallest
    // label, and per-class accuracy lands in integer ppm. The eval set
    // is a deterministic 4% slice (vec_id % 25 = 0) — eval sets are
    // constant-size by construction at any corpus scale, and the
    // per-query windows are topK/votes-bounded. Scoring here is exact
    // (the q50 brute baseline shape, int64 quantized dots); at 100 TB
    // the same vote+accuracy tail composes onto the ANN shortlists of
    // q51–q53 unchanged. ----
    "q279_knn_accuracy" -> { (s, d) =>
      graft.functions.GraftExpressions.ensure(s)
      val vecs = persistedVecs(s, d)
      val labels = Tables.embeddings(s, d).select(col("vec_id"), col("label"))
      val qs = vecs.filter(col("vec_id") % 25 === 0)
        .select(col("vec_id").as("q_id"), col("q").as("qq"), col("norm").as("qnorm"))
      val w = Window.partitionBy(col("q_id")).orderBy(desc("cosine"), asc("vec_id"))
      val top = qs.join(vecs, col("vec_id") =!= col("q_id"))
        .withColumn("cosine", cosineQ(col("qq"), col("q"), col("qnorm"), col("norm")))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= topK)
        .select("q_id", "vec_id")
      val votes = top.join(labels, "vec_id")
        .groupBy(col("q_id"), col("label"))
        .agg(count(lit(1)).as("nv"))
      val wv = Window.partitionBy(col("q_id")).orderBy(desc("nv"), asc("label"))
      val pred = votes.withColumn("r", row_number().over(wv))
        .filter(col("r") === 1)
        .select(col("q_id"), col("label").as("pred"))
      val result = pred
        .join(labels.select(col("vec_id").as("q_id"), col("label").as("truth")), "q_id")
        .groupBy(col("truth"))
        .agg(count(lit(1)).cast("bigint").as("n_eval"),
          sum((col("pred") === col("truth")).cast("bigint")).cast("bigint").as("n_correct"))
        .withColumn("acc_ppm", expr("n_correct * 1000000 div n_eval").cast("bigint"))
        .select(col("truth").cast("int").as("label"),
          col("n_eval"), col("n_correct"), col("acc_ppm"))
      materialized(result, vecs).orderBy("label")
    },

    // ---- hard-negative mining (the contrastive-training data step —
    // cf. DPR/Contriever: for each anchor, the most similar vectors
    // with a DIFFERENT label are the negatives that teach the margin).
    // Top-5 cosine neighbors per anchor restricted to label != anchor's;
    // exact scoring over the quantized index on the q50 eval-set shape
    // (negative mining runs per training batch, not corpus x corpus —
    // the corpus-scale candidate structures are the bucketed/IVF paths
    // of q51-q53, to which the label exclusion composes as a post-
    // candidate filter). ----
    "q174_hard_negatives" -> { (s, d) =>
      val vecs = persistedVecs(s, d)
      val labels = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label").cast("bigint").as("label"))
      val cand = vecs.join(labels, "vec_id")
      val anchors = cand.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("q").as("qq"),
          col("norm").as("qnorm"), col("label").as("q_label"))
      val w = Window.partitionBy(col("q_id")).orderBy(desc("cosine"), asc("vec_id"))
      val result = anchors
        .join(cand, col("vec_id") =!= col("q_id") && col("label") =!= col("q_label"))
        .withColumn("cosine", cosineQ(col("qq"), col("q"), col("qnorm"), col("norm")))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("q_id"), col("q_label"), col("rk"),
          col("vec_id"), col("label").as("neg_label"), col("cosine"))
      materialized(result, vecs).orderBy("q_id", "rk")
    },

    // ---- DBSCAN over the LSH neighbor graph (Ester et al., KDD 1996):
    // density-based clustering with ε = "cosine ≥ 0.4" and minPts = 3 —
    // the clustering family member IVF/CC/LPA cannot replace: it finds
    // arbitrarily-shaped dense regions and, unlike every partitioner,
    // has an explicit NOISE verdict (the outlier lane a curation
    // pipeline actually wants). The ε-neighborhood relation is q45's
    // multi-probe LSH candidate generator (bucket-partitioned artifact,
    // probe fan-out L×(b+1), never O(N²)) with exact fixed-point cosine
    // verify — so this is the SCALE path's DBSCAN, and its oracle
    // mirrors the candidate set exactly (the q45 discipline; recall vs
    // the brute ε-graph is q08's measured 0.88+ story). Cores = degree
    // ≥ minPts (one map-side-combining count); core clusters =
    // [[PipelinePack.connectedComponents]] over core-core edges
    // (min-label fixpoint ≡ the oracle's recursive min-closure);
    // isolated cores label themselves; borders take the MIN core
    // neighbor's cluster (deterministic tie rule); everything else is
    // noise (-1). ----
    "q414_dbscan" -> { (s, d) =>
      requireBucketPruned(s, d)
      val vecs = persistedVecs(s, d)
      val prs = warmed(nearDupPairs(vecs, bucketBits(s, d), 0.4)
        .select("vec_i", "vec_j"))
      val sym = prs.select(col("vec_i").as("v"), col("vec_j").as("u"))
        .unionByName(prs.select(col("vec_j").as("v"), col("vec_i").as("u")))
      val core = sym.groupBy("v").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= 3).select("v")
      val coreEdges = sym.join(core, "v")
        .join(core.withColumnRenamed("v", "u"), "u").select("v", "u")
      val cc = PipelinePack.connectedComponents(coreEdges)
      val coreLab = core.join(cc, core("v") === cc("node"), "left")
        .select(col("v"), coalesce(col("label"), col("v")).as("cluster"))
      val nbCl = sym
        .join(coreLab.select(col("v").as("u"), col("cluster").as("ncl")), "u")
        .groupBy("v").agg(min("ncl").as("bcl"))
      val result = Tables.embeddings(s, d).select(col("vec_id"))
        .join(coreLab.select(col("v").as("vec_id"), col("cluster").as("ccl")),
          Seq("vec_id"), "left")
        .join(nbCl.select(col("v").as("vec_id"), col("bcl")), Seq("vec_id"), "left")
        .select(col("vec_id"),
          when(col("ccl").isNotNull, lit("core"))
            .when(col("bcl").isNotNull, lit("border"))
            .otherwise(lit("noise")).as("role"),
          coalesce(col("ccl"), col("bcl"), lit(-1L)).cast("bigint").as("cluster"))
      materialized(result, vecs, prs).orderBy("vec_id")
    },

    // ---- TRIPLET MINING (Schroff et al. 2015, FaceNet; Hermans 2017
    // "In Defense of the Triplet Loss" batch-hard): for each anchor,
    // the HARDEST POSITIVE (same label, LOWEST cosine — the in-class
    // outlier the margin must still pull in) and the HARDEST NEGATIVE
    // (different label, HIGHEST cosine — q174's miner reduced to its
    // argmax), plus the violates flag (cos_neg >= cos_pos: the triplet
    // the loss actually trains on). Completes the contrastive data
    // step next to q174 (negatives-only) and q255 (semi-hard band).
    // Scale shape: NO per-anchor rank window — both argmaxes are
    // map-side-combining struct aggregates (min(struct(cos, id)) /
    // max(struct(cos, -id)) for the asc-id tiebreak), so a corpus-size
    // candidate set per anchor collapses before the shuffle; the
    // anchor panel is the q50 eval-set shape (mining runs per training
    // batch, and the LSH/IVF candidate paths compose as pre-filters at
    // corpus x corpus scale). Cosines are the exact fixed-point dots
    // over correctly-rounded sqrt norms — deterministic doubles,
    // bit-identical cross-engine. ----
    "q406_triplet_mining" -> { (s, d) =>
      val vecs = persistedVecs(s, d)
      val labels = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label").cast("bigint").as("label"))
      val cand = vecs.join(labels, "vec_id")
      val anchors = cand.filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("q").as("qq"),
          col("norm").as("qnorm"), col("label").as("q_label"))
      val scored = anchors.join(cand, col("vec_id") =!= col("q_id"))
        .withColumn("cosine", cosineQ(col("qq"), col("q"), col("qnorm"), col("norm")))
      val hp = scored.filter(col("label") === col("q_label"))
        .groupBy("q_id", "q_label")
        .agg(min(struct(col("cosine"), col("vec_id"))).as("h"))
        .select(col("q_id"), col("q_label"),
          col("h.vec_id").as("pos_id"), col("h.cosine").as("cos_pos"))
      val hn = scored.filter(col("label") =!= col("q_label"))
        .groupBy("q_id")
        .agg(max(struct(col("cosine"), (-col("vec_id")).as("nid"))).as("h"))
        .select(col("q_id"), (-col("h.nid")).as("neg_id"),
          col("h.cosine").as("cos_neg"))
      val result = hp.join(hn, "q_id")
        .withColumn("violates", col("cos_neg") >= col("cos_pos"))
        .select(col("q_id"), col("q_label"), col("pos_id"), col("cos_pos"),
          col("neg_id"), col("cos_neg"), col("violates"))
      materialized(result, vecs).orderBy("q_id")
    },

    // ---- top principal component by POWER ITERATION (the PageRank
    // discipline applied to linear algebra): three unrolled rounds of
    // v <- normalize(X^T (X v)) over the quantized embedding matrix,
    // every step exact int64 — the matrix-vector products are integer
    // sums (order-independent), rescaling is sign-split integer
    // division (identical truncation in both engines, the q160 rule),
    // and the per-round normalization is ONE sqrt + divide + floor on
    // exact integers (sqrt is correctly-rounded IEEE). The oracle
    // replays all three rounds as unrolled CTEs (the q53/q55
    // technique). Scale shape: X^T(Xv) is two map-side-combining
    // aggregates per round — (vec_id, y) then (dim, s) — with v (dim
    // rows) BROADCAST into each; nothing materializes beyond dim-sized
    // frames, which is how a PCA head runs over 100 TB of embeddings.
    // int64 bounds at this corpus: |x|<=1e6, |ys|<=6.4e7, |s| <= rows
    // x 1e6 x 6.4e7 (~1.3e18 at 20k rows — DECIMAL(38,0) territory
    // beyond ~100k rows, documented). ----
    "q175_power_iteration" -> { (s, d) =>
      graft.functions.GraftExpressions.ensure(s)
      val vecs = persistedVecs(s, d)
      val comp = warmed(vecs
        .select(col("vec_id"), posexplode(col("q")).as(Seq("i0", "x")))
        .select(col("vec_id"), (col("i0") + 1).cast("int").as("i"), col("x")))
      var v = s.range(1, dim + 1)
        .select(col("id").cast("int").as("i"), lit(1000000L).as("vq"))
      for (_ <- 1 to 3) {
        val y = comp.join(broadcast(v), "i")
          .groupBy("vec_id")
          .agg(sum(col("x") * col("vq")).as("y"))
          .withColumn("ys", expr(
            "CASE WHEN y >= 0 THEN y div 1000000 ELSE -((-y) div 1000000) END"))
          .select("vec_id", "ys")
        val sdf = comp.join(y, "vec_id")
          .groupBy("i")
          .agg(sum(col("x") * col("ys")).as("sraw"))
          .withColumn("sd", expr(
            "CASE WHEN sraw >= 0 THEN sraw div 10000000000 ELSE -((-sraw) div 10000000000) END"))
        // per-round checkpoint (the BSP-loop rule): sdf feeds BOTH the
        // norm aggregate and the projection, and v feeds two sites next
        // round — without cutting lineage each reference re-executes
        // every earlier round (measured 6-7 s; ~2 s checkpointed).
        // Both frames are dim-sized (64 rows), so the checkpoint is free.
        val sdfC = sdf.localCheckpoint()
        val n2 = sdfC.agg(sum(col("sd") * col("sd")).as("n2"))
        v = sdfC.crossJoin(broadcast(n2))
          .select(col("i"),
            when(col("n2") === 0, lit(0L))
              .otherwise(floor(col("sd").cast("double") /
                sqrt(col("n2").cast("double")) * lit(1e6)).cast("long"))
              .as("vq"))
          .localCheckpoint()
      }
      materialized(v, comp).orderBy("i")
    },

    // ---- LSH-bucketed ANN (scale path): L tables, single probe each ----
    "q51_ann_lsh" -> { (s, d) =>
      requireBucketPruned(s, d)
      val vecs = persistedVecs(s, d)
      materialized(lshTopK(vecs, bucketBits(s, d)), vecs).orderBy("q_id", "rk")
    },

    // ---- contrastive HARD-NEGATIVE mining: for each anchor, the top-3
    // most-similar NON-near-duplicate neighbors in the cosine band
    // [0.3, 0.7) — similar enough to be confusable, dissimilar enough
    // to be true negatives: the pair-mining step of contrastive
    // embedding training (DPR, Karpukhin et al. 2020; SimCSE-style
    // curation). Candidates come from the multi-probe LSH tables
    // (Hamming-1 flips — q52's probe shape over the same bucket-
    // partitioned index artifact), so mining stays bucket-join-bounded
    // at 100 TB: the band filter and cosine ranking only ever see
    // candidates, and the constant-k rank filter plans as the
    // WindowGroupLimit partial top-k. Cosines are exact fixed-point
    // int64 dot products, bit-identical in both engines. ----
    "q255_hard_negatives" -> { (s, d) =>
      val vecs = persistedVecs(s, d)
      val w = Window.partitionBy(col("q_id")).orderBy(desc("cosine"), asc("vec_id"))
      val result = candidates(vecs, col("vec_id") < 20, bucketBits(s, d), maxHam = 1,
          pairCond = col("vec_id") =!= col("q_id"))
        .withColumn("cosine", cosineQ(col("qq"), col("q"), col("qnorm"), col("norm")))
        .filter(col("cosine") >= 0.3 && col("cosine") < 0.7)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("q_id"), col("rk"), col("vec_id"), col("cosine"))
      materialized(result, vecs).orderBy("q_id", "rk")
    },

    // ---- IVF (inverted-file) ANN with DATA-ADAPTIVE cells: ∝√N coarse
    // centroids trained by deterministic integer k-means (md5-ordered
    // seeds, truncated-int64-mean Lloyd rounds — every step is
    // engine-portable, so the DuckDB oracle replays the training as
    // unrolled CTE rounds, the q55 technique); every vector is assigned
    // to its max-cosine centroid and a query probes its 2 nearest cells.
    // At 100 TB the corpus is stored partitioned by cell, the centroid
    // table broadcasts, and a query reads 2 partitions — the same
    // pruning story as LSH buckets but with data-adaptive regions. ----
    "q53_ann_ivf" -> { (s, d) =>
      val vecs = persistedVecs(s, d)
      val (result, ranked) = ivfTopK(s, d, vecs, ivfCellsFor(corpusCount(s, d)))
      materialized(result, ranked, vecs).orderBy("q_id", "rk")
    },

    // ---- IVF nprobe RECALL CURVE: recall@k of the trained IVF index
    // at nprobe ∈ {1, 2, 4} against brute-force truth — the tuning
    // curve (recall vs cells-read) an ANN deployment publishes before
    // choosing its probe budget, extending q54's fixed-config recall
    // report into the knob dimension. ONE model build (the shared
    // ivfRanked assignment frame, warmed) feeds all three arms; truth
    // is brute-force over the 20-query panel only (the q44/q54
    // sample-scale discipline — at 100 TB the panel is a fixed query
    // set, never the corpus). All candidate generation is cell-join
    // bounded; recall in exact integer ppm. ----
    "q271_ivf_nprobe_curve" -> { (s, d) =>
      val vecs = persistedVecs(s, d)
      val ranked = warmed(ivfRanked(s, d, vecs, ivfCellsFor(corpusCount(s, d))))
      val cells = ranked.filter(col("arn") === 1)
        .select(col("vec_id"), col("q"), col("norm"), col("cell"))
      val w = Window.partitionBy(col("q_id")).orderBy(desc("cosine"), asc("vec_id"))
      val queriesDf = vecs.filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("q").as("qq"), col("norm").as("qnorm"))
      val truth = warmed(queriesDf.join(vecs, col("vec_id") =!= col("q_id"))
        .withColumn("cosine", cosineQ(col("qq"), col("q"), col("qnorm"), col("norm")))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= topK)
        .select("q_id", "vec_id"))
      val rows = Seq(1, 2, 4).map { p =>
        val probes = ranked.filter(col("vec_id") < 20 && col("arn") <= p)
          .select(col("vec_id").as("q_id"), col("q").as("qq"),
            col("norm").as("qnorm"), col("cell").as("probe_cell"))
        val top = probes.join(cells,
            col("cell") === col("probe_cell") && col("vec_id") =!= col("q_id"))
          .withColumn("cosine", cosineQ(col("qq"), col("q"), col("qnorm"), col("norm")))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= topK)
          .select("q_id", "vec_id")
        top.join(truth, Seq("q_id", "vec_id"), "left_semi")
          .agg(count(lit(1)).cast("bigint").as("n_hits"))
          .crossJoin(truth.agg(count(lit(1)).cast("bigint").as("n_truth")))
          .select(lit(p).cast("int").as("nprobe"), col("n_hits"), col("n_truth"),
            expr("n_hits * 1000000 div n_truth").cast("bigint").as("recall_ppm"))
      }
      materialized(rows.reduce(_ unionByName _), ranked, truth).orderBy("nprobe")
    },

    // ---- FILTERED ANN (category-constrained search): top-k restricted
    // to candidates sharing the query's label — the "WHERE category =
    // … ORDER BY embedding <-> q LIMIT k" shape every production
    // vector store serves (filtered search is the common case, not the
    // exception: retrieval within a tenant / language / source). The
    // ~10%-selective label filter thins every IVF cell to ~1/10th, so
    // a probe budget tuned for unfiltered search STARVES — measured
    // honestly here: nprobe 1→4→16 reaches only 0.79/0.78/0.63 at
    // sf0.001/0.01/0.1 on this near-orthogonal geometry (the REQUIRE
    // pins the curve monotone ≥ 0.50 at 16, not a flattering floor).
    // The production answer when probe expansion can't win is
    // CARDINALITY-BASED PLANNING (FAISS IDSelector / Qdrant filtered-
    // search planning): when the filtered subset is small enough to
    // scan, search it EXACTLY instead of probing the index. The
    // adaptive arm (nprobe = 0) REQUIREs in-gate that every panel
    // label's cardinality sits under the τ = 4096 brute-force
    // threshold, takes the exact path, and scores recall 1.0 by
    // construction. All candidate generation on every arm is a pure
    // equi-join conjunct — (cell ∩ label)-bounded or label-bounded,
    // never corpus-scan. At 100 TB the corpus is stored partitioned by
    // (cell, label-bucket): probes read nprobe partitions, the exact
    // fallback reads one label partition, and the τ decision reads
    // only the label-cardinality statistics. One shared model build
    // (ivfRanked artifact) feeds all arms. ----
    "q473_ann_filtered" -> { (s, d) =>
      val vecs = persistedVecs(s, d)
      val ranked = warmed(ivfRanked(s, d, vecs, ivfCellsFor(corpusCount(s, d))))
      val labels = Tables.embeddings(s, d).select(col("vec_id"), col("label"))
      val cells = ranked.filter(col("arn") === 1).join(labels, "vec_id")
        .select(col("vec_id"), col("q"), col("norm"), col("cell"), col("label"))
      val probesAll = ranked.filter(col("vec_id") < 20).join(labels, "vec_id")
        .select(col("vec_id").as("q_id"), col("q").as("qq"),
          col("norm").as("qnorm"), col("cell").as("probe_cell"),
          col("arn"), col("label").as("qlabel"))
      val w = Window.partitionBy(col("q_id")).orderBy(desc("cosine"), asc("vec_id"))
      val qpanel = vecs.filter(col("vec_id") < 20).join(labels, "vec_id")
        .select(col("vec_id").as("q_id"), col("q").as("qq"),
          col("norm").as("qnorm"), col("label").as("qlabel"))
      val truth = warmed(qpanel.join(cells,
          col("label") === col("qlabel") && col("vec_id") =!= col("q_id"))
        .withColumn("cosine", cosineQ(col("qq"), col("q"), col("qnorm"), col("norm")))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= topK)
        .select("q_id", "vec_id"))
      val rows = Seq(1, 4, 16).map { p =>
        val top = probesAll.filter(col("arn") <= p)
          .join(cells, col("cell") === col("probe_cell") &&
            col("label") === col("qlabel") && col("vec_id") =!= col("q_id"))
          .withColumn("cosine", cosineQ(col("qq"), col("q"), col("qnorm"), col("norm")))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= topK)
          .select("q_id", "vec_id")
        top.join(truth, Seq("q_id", "vec_id"), "left_semi")
          .agg(count(lit(1)).cast("bigint").as("n_hits"))
          .crossJoin(truth.agg(count(lit(1)).cast("bigint").as("n_truth")))
          .select(lit(p).cast("int").as("nprobe"), col("n_hits"), col("n_truth"),
            expr("n_hits * 1000000 div n_truth").cast("bigint").as("recall_ppm"))
      }
      // the adaptive arm: cardinality-based planning. The decision
      // input is the per-label cardinality statistic (10 rows — at
      // 100 TB this is the table's partition-level stats, never a
      // scan); every panel label under τ ⇒ the exact path serves
      val tau = 4096L
      val panelLabelCards = qpanel.select(col("qlabel").as("label")).distinct()
        .join(cells.groupBy("label").agg(count(lit(1)).as("n")), "label")
        .collect().map(r => r.getInt(0) -> r.getLong(1)) // ≤ 10 rows
      require(panelLabelCards.nonEmpty && panelLabelCards.forall(_._2 <= tau),
        s"q473: adaptive plan expected the exact path (all label cards ≤ $tau), " +
          s"got ${panelLabelCards.mkString(",")}")
      // exact path = brute top-k over the label subset — which IS the
      // truth frame; recall 1.0 by construction is the point
      val exactArm = truth.agg(count(lit(1)).cast("bigint").as("n_hits"))
        .crossJoin(truth.agg(count(lit(1)).cast("bigint").as("n_truth")))
        .select(lit(0).cast("int").as("nprobe"), col("n_hits"), col("n_truth"),
          expr("n_hits * 1000000 div n_truth").cast("bigint").as("recall_ppm"))
      // checkpoint FIRST, then REQUIRE off the stored 4-row frame —
      // the q454 discipline: the gate must not re-execute the arms
      val out = materialized((exactArm +: rows).reduce(_ unionByName _),
        ranked, truth, vecs)
      val arms = out.collect().map(r => r.getInt(0) -> r.getLong(3)).toMap // 4 rows
      require(arms(0) == 1000000L,
        s"q473: the exact-fallback arm must score recall 1.0, got ${arms(0)} ppm")
      require(arms(1) <= arms(4) && arms(4) <= arms(16) && arms(16) >= 500000L,
        s"q473: probe-expansion curve must be monotone and ≥ 0.50 at 16, got $arms")
      out.orderBy("nprobe")
    },

    // ---- product-quantization ANN (asymmetric distance): 4×16-dim
    // subspaces, 16 integer-k-means centroids each, 4-code encodings,
    // broadcast query distance tables, approximate distance = sum of 4
    // lookups. The memory-bound 100 TB layout (scan codes, not
    // vectors); all-int64, so no quantization step in the gate. ----
    "q06_ann_pq" -> { (s, d) =>
      graft.functions.GraftExpressions.ensure(s)
      val vecs = persistedVecs(s, d)
      materialized(pqTopK(s, d, vecs), vecs).orderBy("q_id", "rk")
    },

    // ---- PQ + exact re-rank: the production shape — ADC shortlist
    // over the codes, exact cosine only on pqShortlist candidates per
    // query. ----
    "q07_ann_pq_rerank" -> { (s, d) =>
      graft.functions.GraftExpressions.ensure(s)
      val vecs = persistedVecs(s, d)
      materialized(pqRerankTopK(s, d, vecs), vecs).orderBy("q_id", "rk")
    },

    // ---- SQ8 + exact re-rank: the 1-byte-per-dimension middle point of
    // the quantization spectrum (full 256 B → SQ8 64 B → PQ 4 B). Where
    // PQ's 4-code reconstruction collapses on near-orthogonal random
    // embeddings (q54: ~0.68–0.84 re-rank recall), SQ8's per-dimension
    // error is ~0.4%, so it holds recall ~1.0 on the SAME corpus at 4×
    // compression — the production answer when PQ recall audits fail.
    // See [[sq8RerankTopK]] / [[sq8ModelDir]]. ----
    "q151_ann_sq8_rerank" -> { (s, d) =>
      graft.functions.GraftExpressions.ensure(s)
      val vecs = persistedVecs(s, d)
      materialized(sq8RerankTopK(s, d, vecs), vecs).orderBy("q_id", "rk")
    },

    // ---- IVF-PQ: coarse cells prune, PQ codes rank, exact re-rank —
    // see [[ivfPqRerankTopK]]. ----
    "q103_ann_ivfpq" -> { (s, d) =>
      graft.functions.GraftExpressions.ensure(s)
      val vecs = persistedVecs(s, d)
      val ranked = ivfRanked(s, d, vecs, ivfCellsFor(corpusCount(s, d)))
      materialized(ivfPqRerankTopK(s, d, vecs, ranked), ranked, vecs)
        .orderBy("q_id", "rk")
    },

    // ---- CROSS-ENCODER-STYLE RE-RANK (the retrieve-then-rerank layout
    // of production RAG curation; Nogueira & Cho 2019 frame the stage):
    // the q103 IVF-PQ shortlist (bi-encoder retrieval) is re-scored by a
    // deterministic integer "cross-encoder" — features computed JOINTLY
    // over each (query, candidate) PAIR, which no per-item encoder can
    // express: distinct-token Jaccard (600k weight), character-length
    // ratio (250k), and label agreement from the embeddings table
    // (150k), all exact int64 ppm with floor division. Scale shape: the
    // token table is semi-join-restricted to docs actually in the
    // shortlist (point lookups at 100 TB, never a corpus re-scan), pair
    // overlap is a token equi-join over ≤ |shortlist| docs, and the
    // re-rank window runs over topK-bounded frames per query. Output
    // keeps rk_ann so the reorder vs the ANN ranking is observable. ----
    "q221_crossencoder_rerank" -> { (s, d) =>
      graft.functions.GraftExpressions.ensure(s)
      val sl = queries("q103_ann_ivfpq")(s, d)
        .select(col("q_id"), col("vec_id"), col("rk").cast("int").as("rk_ann"))
      val inPlay = sl.select(col("q_id").as("doc_id"))
        .union(sl.select(col("vec_id").as("doc_id"))).distinct()
      val tok = Tables.documents(s, d)
        .join(inPlay, Seq("doc_id"), "left_semi")
        .select(col("doc_id"),
          explode(array_distinct(graft.functions.TextFunctions.tokens(col("text")))).as("w"))
      val cnt = tok.groupBy("doc_id").agg(count(lit(1)).as("n_tok"))
      val com = sl.select("q_id", "vec_id")
        .join(tok.select(col("doc_id").as("q_id"), col("w")), "q_id")
        .join(tok.select(col("doc_id").as("vec_id"), col("w")), Seq("vec_id", "w"))
        .groupBy("q_id", "vec_id").agg(count(lit(1)).as("n_common"))
      val chars = Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
      val labels = Tables.embeddings(s, d).select(col("vec_id"), col("label"))
      val feat = sl
        .join(com, Seq("q_id", "vec_id"), "left")
        .withColumn("n_common", coalesce(col("n_common"), lit(0L)))
        .join(cnt.select(col("doc_id").as("q_id"), col("n_tok").as("na")), "q_id")
        .join(cnt.select(col("doc_id").as("vec_id"), col("n_tok").as("nb")), "vec_id")
        .join(chars.select(col("doc_id").as("q_id"), col("n_chars").as("la")), "q_id")
        .join(chars.select(col("doc_id").as("vec_id"), col("n_chars").as("lb")), "vec_id")
        .join(labels.select(col("vec_id").as("q_id"), col("label").as("q_label")), "q_id")
        .join(labels.select(col("vec_id"), col("label").as("c_label")), "vec_id")
        .withColumn("score_q",
          expr("(600000 * n_common) div (na + nb - n_common)" +
            " + (250000 * least(la, lb)) div greatest(la, lb)" +
            " + 150000 * cast(q_label = c_label as bigint)"))
      val w = Window.partitionBy(col("q_id")).orderBy(desc("score_q"), asc("vec_id"))
      feat
        .withColumn("rk_ce", row_number().over(w).cast("int"))
        .select(col("q_id"), col("rk_ce"), col("vec_id"),
          col("score_q").cast("bigint").as("score_q"), col("rk_ann"))
        .orderBy("q_id", "rk_ce")
    },

    // ---- CLUSTER LABEL PURITY: per-IVF-cell majority-label fraction —
    // the clustering-quality eval (purity is the standard external
    // criterion; Manning/Raghavan/Schütze IIR §16.3) for the SAME
    // trained partition that serves ANN search (q53/q103) and SemDeDup
    // (q102). A curation team reads this before trusting within-cell
    // dedup: a low-purity cell mixes classes, so cluster-local
    // decisions there are suspect. Cells ∝ √N keeps the output
    // bounded; the majority argmax is a window over the cells×labels
    // frame, exact integer ppm. ----
    "q239_cluster_purity" -> { (s, d) =>
      val vecs = persistedVecs(s, d)
      val ranked = ivfRanked(s, d, vecs, ivfCellsFor(corpusCount(s, d)))
      val cells = ranked.filter(col("arn") === 1).select(col("vec_id"), col("cell"))
      val labels = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label").cast("bigint").as("label"))
      val cnt = cells.join(labels, "vec_id")
        .groupBy("cell", "label").agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("cell").orderBy(desc("n"), asc("label"))
      val result = cnt
        .withColumn("n_vecs", sum("n").over(Window.partitionBy("cell")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("cell").cast("bigint").as("cell"),
          col("n_vecs").cast("bigint").as("n_vecs"),
          col("label").as("major_label"),
          col("n").cast("bigint").as("n_major"),
          expr("(1000000 * n) div n_vecs").cast("bigint").as("purity_ppm"))
      materialized(result, ranked, vecs).orderBy("cell")
    },

    // ---- ADJUSTED RAND INDEX (Hubert & Arabie 1985) between the
    // trained IVF cell assignment and the label partition — the
    // chance-corrected clustering agreement that q239's per-cell
    // purity cannot give (purity is gamed by many tiny cells; ARI's
    // expected-index correction is exactly the anti-gaming term). All
    // pair counts are exact int64 C(x,2) sums over the cells×labels
    // contingency (bounded frame); the final ARI is ONE double
    // expression over four exact integers, identical text in both
    // engines. On random embeddings the honest answer is ≈ 0 — the
    // gate pins that the estimator and its correction agree
    // cross-engine, not that the clustering is good. ----
    "q393_ari_ivf_labels" -> { (s, d) =>
      graft.functions.GraftExpressions.ensure(s)
      val vecs = persistedVecs(s, d)
      val ranked = ivfRanked(s, d, vecs, ivfCellsFor(corpusCount(s, d)))
      val cells = ranked.filter(col("arn") === 1).select(col("vec_id"), col("cell"))
      val labels = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label").cast("bigint").as("label"))
      val nij = warmed(cells.join(labels, "vec_id")
        .groupBy("cell", "label").agg(count(lit(1)).as("n")))
      val sij = nij.agg(sum(expr("n * (n - 1) div 2")).as("s_nij"),
        sum("n").as("n_total"))
      val sa = nij.groupBy("cell").agg(sum("n").as("a"))
        .agg(sum(expr("a * (a - 1) div 2")).as("s_a"))
      val sb = nij.groupBy("label").agg(sum("n").as("b"))
        .agg(sum(expr("b * (b - 1) div 2")).as("s_b"))
      val ariExpr =
        "cast(floor(1000.0 * (cast(s_nij as double) - cast(s_a as double) * cast(s_b as double) " +
          "/ (cast(n_total as double) * (cast(n_total as double) - 1.0) / 2.0)) " +
          "/ ((cast(s_a as double) + cast(s_b as double)) / 2.0 " +
          "- cast(s_a as double) * cast(s_b as double) " +
          "/ (cast(n_total as double) * (cast(n_total as double) - 1.0) / 2.0))) as bigint)"
      val result = sij.crossJoin(broadcast(sa)).crossJoin(broadcast(sb))
        .select(col("n_total").cast("bigint").as("n_total"),
          col("s_nij").cast("bigint").as("s_nij"),
          col("s_a").cast("bigint").as("s_a"),
          col("s_b").cast("bigint").as("s_b"),
          expr(ariExpr).as("ari_milli"))
      materialized(result, nij, vecs).orderBy("n_total")
    },

    // ---- MEAN-RECIPROCAL-RANK eval of the exact cosine ranking
    // against label agreement (Voorhees, TREC-8 1999 — the first-hit
    // metric): per query, the rank of the FIRST same-class candidate
    // in the top-5, reciprocal in exact micro units (10⁶ div rank,
    // 0 = no hit). Completes the retrieval-eval triplet next to q54's
    // recall and q198's NDCG — MRR is the metric when one good context
    // document suffices (RAG's regime), where NDCG rewards depth.
    // Candidate rows are topK-bounded per query; one min-CASE argmin
    // per query. ----
    "q237_mrr" -> { (s, d) =>
      val vecs = persistedVecs(s, d)
      val labels = Tables.embeddings(s, d).select(col("vec_id"), col("label"))
      val ql = labels.select(col("vec_id").as("q_id"), col("label").as("q_label"))
      val result = bruteTopK(vecs)
        .join(labels, "vec_id")
        .join(broadcast(ql), "q_id")
        .groupBy("q_id", "q_label")
        .agg(min(when(col("label") === col("q_label"), col("rk"))).as("fh"))
        .select(col("q_id"), col("q_label").cast("int").as("q_label"),
          coalesce(col("fh"), lit(0)).cast("bigint").as("first_hit_rank"),
          when(col("fh").isNotNull, expr("1000000 div fh"))
            .otherwise(lit(0L)).cast("bigint").as("rr_micro"))
      materialized(result, vecs).orderBy("q_id")
    },

    // ---- MMR DIVERSIFICATION (Carbonell & Goldstein, SIGIR 1998):
    // the context-assembly stage after retrieve-then-rerank — greedy
    // top-3 selection from q221's re-ranked shortlist balancing
    // relevance against redundancy: pick argmax of
    //   mmr = score_q − max_{s ∈ selected} jaccard_ppm(c, s) div 2
    // (λ = 2/3 in the classical λ·rel − (1−λ)·sim form, scaled to stay
    // all-int64). Without this, a near-dup-heavy shortlist fills the
    // context window with three copies of the same document. k = 3
    // rounds are UNROLLED — no driver loop — as join + deterministic
    // argmax (ties to the smaller vec_id); the candidate-candidate
    // similarity table is bounded by |shortlist|² per query, token
    // overlap via the same semi-join-restricted token equi-join as
    // q221. The oracle replays all three rounds over q221's composed
    // oracle. ----
    "q223_mmr_diversify" -> { (s, d) =>
      graft.functions.GraftExpressions.ensure(s)
      // Lineage truncation, not just caching: ce/sim/s3 are referenced
      // by MANY downstream branches, and each reference embeds the full
      // upstream LOGICAL tree (q221→q103's, with its thousand-literal
      // codebook expressions) — Catalyst re-analyzes that tree per
      // action, so a persist alone left 10+ s of pure PLANNING time
      // (measured: every count over the persisted trees cost 0.4–1.7 s
      // on 20-row data). localCheckpoint rewrites the plan to a short
      // RDD scan; planDumpMode keeps the full tree explainable.
      def cp(df: org.apache.spark.sql.DataFrame) =
        if (graft.core.QueryPack.planDumpMode) df else df.localCheckpoint()
      val ce = cp(queries("q221_crossencoder_rerank")(s, d)
        .select(col("q_id"), col("vec_id"), col("score_q")))
      val inPlay = ce.select(col("vec_id").as("doc_id")).distinct()
      val tok = cp(Tables.documents(s, d)
        .join(inPlay, Seq("doc_id"), "left_semi")
        .select(col("doc_id"),
          explode(array_distinct(graft.functions.TextFunctions.tokens(col("text")))).as("w")))
      val cnt = tok.groupBy("doc_id").agg(count(lit(1)).as("n_tok"))
      val pairsQ = ce.select(col("q_id"), col("vec_id").as("va"))
        .join(ce.select(col("q_id"), col("vec_id").as("vb")), "q_id")
        .filter(col("va") =!= col("vb"))
      val common = pairsQ
        .join(tok.select(col("doc_id").as("va"), col("w")), "va")
        .join(tok.select(col("doc_id").as("vb"), col("w")), Seq("vb", "w"))
        .groupBy("q_id", "va", "vb").agg(count(lit(1)).as("nc"))
      val sim = cp(pairsQ
        .join(common, Seq("q_id", "va", "vb"), "left")
        .withColumn("nc", coalesce(col("nc"), lit(0L)))
        .join(cnt.select(col("doc_id").as("va"), col("n_tok").as("na")), "va")
        .join(cnt.select(col("doc_id").as("vb"), col("n_tok").as("nb")), "vb")
        .select(col("q_id"), col("va"), col("vb"),
          expr("(1000000 * nc) div (na + nb - nc)").as("jac_ppm")))
      // round 1: pure relevance argmax
      val s1 = ce.groupBy("q_id")
        .agg(min(struct((-col("score_q")).as("ns"), col("vec_id").as("v"))).as("m"))
        .select(col("q_id"), col("m.v").as("v1"), (-col("m.ns")).as("mmr1"))
      // round 2: penalized by similarity to pick 1
      val c2 = ce.join(s1, "q_id").filter(col("vec_id") =!= col("v1"))
        .join(sim.select(col("q_id"), col("va").as("vec_id"),
            col("vb").as("v1"), col("jac_ppm")),
          Seq("q_id", "vec_id", "v1"), "left")
        .withColumn("mmr",
          col("score_q") - expr("coalesce(jac_ppm, 0) div 2"))
      val s2 = c2.groupBy("q_id", "v1", "mmr1")
        .agg(min(struct((-col("mmr")).as("ns"), col("vec_id").as("v"))).as("m"))
        .select(col("q_id"), col("v1"), col("mmr1"),
          col("m.v").as("v2"), (-col("m.ns")).as("mmr2"))
      // round 3: penalized by the max similarity to either pick
      val c3 = ce.join(s2, "q_id")
        .filter(col("vec_id") =!= col("v1") && col("vec_id") =!= col("v2"))
        .join(sim.select(col("q_id"), col("va").as("vec_id"),
            col("vb").as("v1"), col("jac_ppm").as("j1")),
          Seq("q_id", "vec_id", "v1"), "left")
        .join(sim.select(col("q_id"), col("va").as("vec_id"),
            col("vb").as("v2"), col("jac_ppm").as("j2")),
          Seq("q_id", "vec_id", "v2"), "left")
        .withColumn("mmr", col("score_q") -
          expr("greatest(coalesce(j1, 0), coalesce(j2, 0)) div 2"))
      // one row per query carrying all three picks — checkpointed so the
      // three-branch output union reads stored blocks instead of
      // re-planning and re-executing the nested round chain 3×
      val s3 = cp(c3.groupBy("q_id", "v1", "v2", "mmr1", "mmr2")
        .agg(min(struct((-col("mmr")).as("ns"), col("vec_id").as("v"))).as("m"))
        .select(col("q_id"), col("v1"), col("v2"), col("mmr1"), col("mmr2"),
          col("m.v").as("v3"), (-col("m.ns")).as("mmr3")))
      val out = s3.select(col("q_id"), lit(1).as("pick_no"),
          col("v1").as("vec_id"), col("mmr1").as("mmr_q"))
        .unionByName(s3.select(col("q_id"), lit(2).as("pick_no"),
          col("v2").as("vec_id"), col("mmr2").as("mmr_q")))
        .unionByName(s3.select(col("q_id"), lit(3).as("pick_no"),
          col("v3").as("vec_id"), col("mmr3").as("mmr_q")))
        .select(col("q_id"), col("pick_no").cast("int").as("pick_no"),
          col("vec_id"), col("mmr_q").cast("bigint").as("mmr_q"))
      materialized(out).orderBy("q_id", "pick_no")
    },

    // ---- recall report: each approximate method's top-k (restricted to
    // the brute-force query set q_id < 5) scored against q50's exact
    // ground truth — the evaluation harness every ANN deployment runs
    // before trusting an index. Output: method, n_hits, recall.
    // ONE vector table build feeds all six method pipelines, and the
    // truth set + each method output are materialized once (round 2
    // rebuilt the vector table and all four searches from the raw scan
    // inside a single query plan). ----
    "q54_ann_recall" -> { (s, d) =>
      import s.implicits._
      val vecs = persistedVecs(s, d)
      // truth (an eager warmed build) and the 8-arm panel are
      // independent — overlap them too (guide §2.6)
      var truthSlot: DataFrame = null
      var panelSlot: (Seq[(String, DataFrame)], DataFrame) = null
      graft.core.Par.run[Unit](Seq(
        () => truthSlot = warmed(bruteTopK(vecs).select("q_id", "vec_id")),
        () => panelSlot = q54Methods(s, d, vecs)))
      val truth = truthSlot
      val (methodOut, ranked) = panelSlot
      val methods = methodOut.map(_._1)
      val hits = methodOut.map { case (m, out) =>
          out.filter(col("q_id") < 5)
            .select(lit(m).as("method"), col("q_id"), col("vec_id"))
        }.reduce(_ union _)
        .join(truth, Seq("q_id", "vec_id"))
        .groupBy("method").agg(count(lit(1)).as("n_hits"))
      val denom = truth.agg(count(lit(1)).cast("double").as("n_truth"))
      val result = methods.toDF("method")
        .join(hits, Seq("method"), "left")
        .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
        .crossJoin(denom)
        .withColumn("recall", col("n_hits").cast("double") / col("n_truth"))
        .select("method", "n_hits", "recall")
      materialized(result, truth, ranked, vecs).orderBy("method")
    },

    // ---- SemDeDup-style cluster dedup (Abbas et al. 2023, public
    // arXiv:2303.09540): k-means-partition the embedding space (the SAME
    // deterministic integer trainer as q53 — one trained model serves
    // both the ANN index and the dedup pass), then compare vectors ONLY
    // within their cluster; a vector is a duplicate iff a lower-id
    // vector in its cluster has cosine >= 0.4. Complements q44 (global
    // brute truth) and q45 (LSH buckets): the cluster route is the one
    // that trades global recall for a partition-local O(Σ|cell|²)
    // pair budget. Scale: cells ∝ √N here; production raises k to keep
    // |cell| bounded (the paper runs k=50k), the corpus is stored
    // partitioned by cell, and the within-cell self-join never crosses
    // partitions — embarrassingly parallel over cells, AQE splits any
    // over-dense cell. ----
    "q102_semdedup" -> { (s, d) =>
      val vecs = persistedVecs(s, d)
      val ranked = ivfRanked(s, d, vecs, ivfCellsFor(corpusCount(s, d)))
      val cells = ranked.filter(col("arn") === 1)
      val a = cells.select(col("cell"), col("vec_id").as("vi"),
        col("q").as("qa"), col("norm").as("na"))
      val b = cells.select(col("cell"), col("vec_id").as("vj"),
        col("q").as("qb"), col("norm").as("nb"))
      val dups = a.join(b, "cell")
        .filter(col("vj") < col("vi"))
        .withColumn("cosine", cosineQ(col("qa"), col("qb"), col("na"), col("nb")))
        .filter(col("cosine") >= semDedupTau)
        .groupBy(col("vi").as("vec_id"))
        .agg(count(lit(1)).as("n_dup_lower"))
      val result = cells.select("vec_id", "cell")
        .join(dups, Seq("vec_id"), "left")
        .withColumn("n_dup_lower", coalesce(col("n_dup_lower"), lit(0L)))
        .withColumn("is_dup", col("n_dup_lower") > 0)
        .select("vec_id", "cell", "n_dup_lower", "is_dup")
      materialized(result, ranked, vecs).orderBy("vec_id")
    },

    // ---- multi-probe LSH: also search the b Hamming-1 neighbor buckets
    // in each of the L tables. Single-probe recall is poor when vectors
    // are near-orthogonal (each hyperplane bit is close to a coin flip
    // for moderate cosines); probing adjacent buckets across independent
    // tables trades bounded candidate volume for recall — still
    // bucket-pruned, never all-pairs. ----
    "q52_ann_multiprobe" -> { (s, d) =>
      val vecs = persistedVecs(s, d)
      materialized(multiprobeTopK(vecs, bucketBits(s, d)), vecs).orderBy("q_id", "rk")
    }
  )

  /** q54's method panel — the 8 approximate searches over ONE shared
    * vector table, each restricted to the truth query set. Returns
    * (method → top-k frame, the shared ranked artifact for the caller to
    * release). */
  private def q54Methods(s: SparkSession, d: String, vecs: DataFrame)
      : (Seq[(String, DataFrame)], DataFrame) = {
    // hoist the memoized corpus params so the parallel arms never race
    // the first count
    val b = bucketBits(s, d)
    val n = corpusCount(s, d)
    // the arms are independent (the one dependency — ivf's ranked
    // artifact feeding ivf-pq — stays inside a single thunk), and each
    // runs eager work at CONSTRUCTION time: hnsw's 5 beam-round
    // checkpoint jobs, ivf/sq8/pq artifact warm-ups. Sequential
    // construction cost sum(arms) ≈ 4.8-8 s steady at sf0.1 while each
    // arm's 32-partition stages left most cores idle; concurrent
    // submission (guide §2.6) overlaps them. Results are identical —
    // every arm is a pure function of (vecs, params).
    // 2-3 jobs in flight is plenty (guide §2.6) — more oversubscribes
    // the 32 cores (8 arms × 32-partition stages) and GC-thrashes the
    // concurrent checkpoint builds (measured: parallelism 8 → 10-42 s
    // full-query wall vs the sequential 8.3-9.3 s baseline)
    // NOTE: eagerly executing each arm here (warmed per-arm outputs) was
    // measured WORSE (16-21 s vs ~8.7 s): the caller's single union job
    // shares the persisted vecs/ranked scans across all arms and runs
    // their stages concurrently; 8 separate per-arm jobs give that up.
    // Arms stay lazy; only construction-time eager work (hnsw beam
    // rounds, artifact warm-ups) is overlapped.
    val slots = new Array[DataFrame](9)
    graft.core.Par.run[Unit](Seq(
      () => slots(3) = hnswTopK(s, d, vecs),
      () => {
        val (ivf, ranked) = ivfTopK(s, d, vecs, ivfCellsFor(n))
        slots(6) = ivf; slots(7) = ranked
        slots(8) = ivfPqRerankTopK(s, d, vecs, ranked)
      },
      () => {
        slots(0) = pqTopK(s, d, vecs)
        slots(1) = pqRerankTopK(s, d, vecs)
        slots(2) = sq8RerankTopK(s, d, vecs)
        slots(4) = lshTopK(vecs, b)
        slots(5) = multiprobeTopK(vecs, b)
      }), parallelism = 3)
    (Seq(
      "q06_ann_pq" -> slots(0),
      "q07_ann_pq_rerank" -> slots(1),
      "q103_ann_ivfpq" -> slots(8),
      "q151_ann_sq8_rerank" -> slots(2),
      "q452_ann_hnsw" -> slots(3),
      "q51_ann_lsh" -> slots(4),
      "q52_ann_multiprobe" -> slots(5),
      "q53_ann_ivf" -> slots(6)), slots(7))
  }

  /** Test hook (IvfPqSpec): the exact (q_id, probe_cell) universe of the
    * trained model — deterministic training makes this reproducible
    * against a separately-computed q103 result. */
  private[graft] def probeMap(s: SparkSession, d: String): DataFrame = {
    val vecs = persistedVecs(s, d)
    val ranked = ivfRanked(s, d, vecs, ivfCellsFor(corpusCount(s, d)))
    val out = ranked.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("cell").as("probe_cell"))
    materialized(out, ranked, vecs)
  }

  // ---------- oracles ----------

  /** DuckDB: the b CASE-ladder parameter CTE — the oracle derives the
    * bucket width from its own corpus count, mirroring [[bucketBitsFor]].
    */
  private[operators] def paramCte: String = paramCteP("")
  private def paramCteP(pfx: String): String = {
    val n = "(SELECT count(*) FROM embeddings)"
    val ladder = (0 to 40).map(p => s"WHEN $n <= ${1L << p} THEN $p")
      .mkString("CASE ", " ", " ELSE 41 END")
    s"${pfx}param AS (SELECT LEAST($bMax, GREATEST(4, $ladder - 3)) AS b)"
  }

  /** DuckDB: sign projections of table t as correlated subqueries over
    * inlined coefficient lists. */
  private[operators] def signSqls(t: Int, qcol: String): Seq[String] =
    (0 until bMax).map { h =>
      val lst = planes(t)(h).mkString("[", ",", "]")
      s"""(SELECT SUM($qcol[g.i] * ($lst)[g.i])
         | FROM UNNEST(generate_series(1, $dim)) AS g(i))""".stripMargin
    }

  /** DuckDB: the full bMax-bit bucket of table t; the effective b-bit
    * bucket is `% (1 << b)` (bits are low-first, so the modulus keeps
    * exactly the first b planes — the Spark side computes only those). */
  private[operators] def fullBucketSql(t: Int, qcol: String): String =
    signSqls(t, qcol).zipWithIndex
      .map { case (sq, h) => s"(CASE WHEN $sq >= 0 THEN ${1 << h} ELSE 0 END)" }
      .mkString(" + ")

  /** Shared CTE chain: quantized + normed + per-table-bucketed vectors
    * (`scored`), plus `param` and the per-table exploded `cor`. */
  private[operators] def vecsCte: String = vecsCte("")

  /** `pfx` prefixes every CTE name — required when two independent
    * vector scopes coexist in ONE statement (q467's per-layer graph
    * replays): DuckDB's materialized-CTE hoisting trips an internal
    * assertion when a nested scope shadows a same-named MATERIALIZED
    * CTE, so distinct names, not nesting, is the composition rule. */
  private[operators] def vecsCte(pfx: String): String = {
    val buckets = (0 until nTables)
      .map(t => s"(${fullBucketSql(t, "v.q")}) % (1 << p.b) AS cb$t")
      .mkString(",\n         ")
    val corArms = (0 until nTables)
      .map(t => s"  SELECT vec_id, q, norm, cb0, cb1, cb2, cb3, $t AS ctbl, cb$t AS cb FROM ${pfx}scored")
      .mkString("\n  UNION ALL\n")
    // scored/cor are MATERIALIZED: both are referenced from several
    // downstream CTEs (probes, candidate joins, re-rank arms), and the
    // per-row bucket arithmetic is the expensive part — without the
    // hint DuckDB re-evaluates the inlined chain per reference
    // (measured 14 s → 4 s on the q51/q52 oracles at sf0.01)
    s"""${pfx}vecs AS (SELECT vec_id, ${quantizeSql("embedding")} AS q FROM embeddings),
       |${paramCteP(pfx)},
       |${pfx}scored AS MATERIALIZED (
       |  SELECT vec_id, q,
       |         sqrt(${dotQSql("v.q", "v.q", dim)}) AS norm,
       |         $buckets
       |  FROM ${pfx}vecs v, ${pfx}param p),
       |${pfx}cor AS MATERIALIZED (
       |$corArms)""".stripMargin
  }

  /** Probe CTE: query rows exploded over (table, flip mask). maxHam 0 →
    * identity mask only; 1 → identity + the b single-bit flips. */
  private def probesCte(filterSql: String, maxHam: Int, pfx: String = ""): String = {
    val masks =
      if (maxHam == 0) "(SELECT 0 AS mask) m"
      else
        s"""(SELECT CASE WHEN g.g = 0 THEN 0 ELSE 1 << (g.g - 1) END AS mask
          |   FROM UNNEST(generate_series(0, (SELECT b FROM ${pfx}param))) AS g(g)) m""".stripMargin
    s"""${pfx}probes AS MATERIALIZED (
       |  SELECT c.vec_id AS q_id, c.q AS qq, c.norm AS qnorm,
       |         c.cb0 AS qb0, c.cb1 AS qb1, c.cb2 AS qb2, c.cb3 AS qb3,
       |         c.ctbl AS tbl, CAST(xor(c.cb, m.mask) AS INT) AS pb
       |  FROM ${pfx}cor c, $masks
       |  $filterSql)""".stripMargin
  }

  /** Emit-once across tables, SQL form (probe alias p, corpus alias c). */
  private def emitOnceSql(maxHam: Int): String =
    (0 until nTables - 1)
      .map(j => s"(p.tbl <= $j OR bit_count(xor(p.qb$j, c.cb$j)) > $maxHam)")
      .mkString(" AND ")

  /** q255's oracle: q52's multi-probe candidate CTE with the hard-
    * negative cosine band applied before the per-anchor top-3. */
  private def hardNegOracle: String =
    s"""WITH $vecsCte,
       |${probesCte("WHERE c.vec_id < 20", maxHam = 1)},
       |cand AS (
       |  SELECT p.q_id, c.vec_id,
       |         ${dotQSql("p.qq", "c.q", dim)} / (p.qnorm * c.norm) AS cosine
       |  FROM probes p JOIN cor c
       |    ON c.ctbl = p.tbl AND c.cb = p.pb AND c.vec_id <> p.q_id
       |   AND ${emitOnceSql(maxHam = 1)}),
       |hard AS (SELECT * FROM cand WHERE cosine >= 0.3 AND cosine < 0.7),
       |ranked AS (
       |  SELECT q_id, vec_id, cosine,
       |         CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS INT) AS rk
       |  FROM hard)
       |SELECT q_id, rk, vec_id, cosine FROM ranked
       |WHERE rk <= 3
       |ORDER BY q_id, rk""".stripMargin

  /** q271's oracle: ivfTrainCtes' ranked/cells frames probed at each
    * nprobe arm, brute truth over the same 20-query panel. */
  private def nprobeCurveOracle: String = {
    val armCtes = Seq(1, 2, 4).map { p =>
      s"""cand_$p AS (
         |  SELECT pr.vec_id AS q_id, c.vec_id,
         |         ${dotQSql("pr.q", "c.q", dim)} / (pr.norm * c.norm) AS cosine
         |  FROM ranked pr JOIN cells c ON c.cell = pr.cell
         |  WHERE pr.arn <= $p AND pr.vec_id < 20 AND c.vec_id <> pr.vec_id),
         |top_$p AS (SELECT q_id, vec_id FROM (
         |    SELECT q_id, vec_id,
         |           row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rk
         |    FROM cand_$p) t
         |  WHERE rk <= $topK)""".stripMargin
    }.mkString(",\n")
    val arms = Seq(1, 2, 4).map { p =>
      s"""SELECT $p AS nprobe,
         |  (SELECT CAST(count(*) AS BIGINT) FROM top_$p t JOIN bt USING (q_id, vec_id)) AS n_hits,
         |  (SELECT CAST(count(*) AS BIGINT) FROM bt) AS n_truth""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $ivfTrainCtes,
       |bt AS (SELECT q_id, vec_id FROM (
       |    SELECT q2.vec_id AS q_id, v.vec_id,
       |           row_number() OVER (PARTITION BY q2.vec_id
       |                              ORDER BY ${dotQSql("q2.q", "v.q", dim)} / (q2.norm * v.norm) DESC, v.vec_id) AS rk
       |    FROM scored q2 JOIN scored v ON v.vec_id <> q2.vec_id AND q2.vec_id < 20) t
       |  WHERE rk <= $topK),
       |$armCtes
       |SELECT CAST(nprobe AS INT) AS nprobe, n_hits, n_truth,
       |       CAST(n_hits * 1000000 // n_truth AS BIGINT) AS recall_ppm
       |FROM ($arms)
       |ORDER BY nprobe""".stripMargin
  }

  /** q473's oracle: the IVF training replay (ivfTrainCtes) with the
    * label relation joined into BOTH the probe arms and the brute
    * truth — the filter composes as an equi-join conjunct on each
    * side, exactly as the Spark plan does. */
  private def filteredAnnOracle: String = {
    val armCtes = Seq(1, 4, 16).map { p =>
      s"""fcand_$p AS (
         |  SELECT pr.vec_id AS q_id, c.vec_id,
         |         ${dotQSql("pr.q", "c.q", dim)} / (pr.norm * c.norm) AS cosine
         |  FROM ranked pr, lab lq, cells c, lab lc
         |  WHERE lq.vec_id = pr.vec_id AND lc.vec_id = c.vec_id
         |    AND lc.label = lq.label AND c.cell = pr.cell
         |    AND pr.arn <= $p AND pr.vec_id < 20 AND c.vec_id <> pr.vec_id),
         |ftop_$p AS (SELECT q_id, vec_id FROM (
         |    SELECT q_id, vec_id,
         |           row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rk
         |    FROM fcand_$p) t
         |  WHERE rk <= $topK)""".stripMargin
    }.mkString(",\n")
    val arms = (s"""SELECT 0 AS nprobe,
         |  (SELECT CAST(count(*) AS BIGINT) FROM fbt) AS n_hits,
         |  (SELECT CAST(count(*) AS BIGINT) FROM fbt) AS n_truth""".stripMargin +:
      Seq(1, 4, 16).map { p =>
        s"""SELECT $p AS nprobe,
           |  (SELECT CAST(count(*) AS BIGINT) FROM ftop_$p t JOIN fbt USING (q_id, vec_id)) AS n_hits,
           |  (SELECT CAST(count(*) AS BIGINT) FROM fbt) AS n_truth""".stripMargin
      }).mkString("\nUNION ALL\n")
    s"""WITH $ivfTrainCtes,
       |lab AS (SELECT vec_id, label FROM embeddings),
       |fbt AS (SELECT q_id, vec_id FROM (
       |    SELECT q2.vec_id AS q_id, v.vec_id,
       |           row_number() OVER (PARTITION BY q2.vec_id
       |                              ORDER BY ${dotQSql("q2.q", "v.q", dim)} / (q2.norm * v.norm) DESC, v.vec_id) AS rk
       |    FROM scored q2, lab lq, scored v, lab lv
       |    WHERE lq.vec_id = q2.vec_id AND lv.vec_id = v.vec_id
       |      AND lv.label = lq.label AND v.vec_id <> q2.vec_id AND q2.vec_id < 20) t
       |  WHERE rk <= $topK),
       |$armCtes
       |SELECT CAST(nprobe AS INT) AS nprobe, n_hits, n_truth,
       |       CAST(n_hits * 1000000 // n_truth AS BIGINT) AS recall_ppm
       |FROM ($arms)
       |ORDER BY nprobe""".stripMargin
  }

  override def oracle: Map[String, String] =
    baseOracle + ("q54_ann_recall" -> recallOracle) +
      ("q473_ann_filtered" -> filteredAnnOracle) +
      ("q198_ndcg_label" -> ndcgOracle) +
      ("q221_crossencoder_rerank" -> ceRerankOracle) +
      ("q223_mmr_diversify" -> mmrOracle) +
      ("q237_mrr" -> mrrOracle) +
      ("q239_cluster_purity" -> purityOracle) +
      ("q255_hard_negatives" -> hardNegOracle) +
      ("q271_ivf_nprobe_curve" -> nprobeCurveOracle) +
      ("q393_ari_ivf_labels" -> ariOracle) +
      ("q406_triplet_mining" -> tripletOracle) +
      ("q414_dbscan" -> dbscanOracle)

  /** q414's oracle: the exact q45 candidate set (nearDupOracle) as the
    * ε-relation, recursive min-closure over core-core edges for the
    * core clusters, min core neighbor for borders. Every CTE up to the
    * recursion is MATERIALIZED: DuckDB inlines CTEs by default, and
    * re-evaluating the LSH-cosine candidate subquery inside each
    * recursion round turns a seconds-long closure into minutes. */
  private def dbscanOracle: String =
    s"""WITH RECURSIVE cand AS MATERIALIZED (
       |  SELECT vec_i, vec_j FROM (${nearDupOracle(0.4)})),
       |sym AS MATERIALIZED (
       |  SELECT vec_i AS v, vec_j AS u FROM cand
       |  UNION ALL SELECT vec_j, vec_i FROM cand),
       |core AS MATERIALIZED (
       |  SELECT v FROM (SELECT v, CAST(count(*) AS BIGINT) AS deg
       |                 FROM sym GROUP BY v) WHERE deg >= 3),
       |ce AS MATERIALIZED (
       |  SELECT s.v, s.u FROM sym s
       |  JOIN core a ON a.v = s.v JOIN core b ON b.v = s.u),
       |reach(v, u) AS (
       |  SELECT v, v AS u FROM core
       |  UNION
       |  SELECT r.v, e2.u FROM reach r JOIN ce e2 ON e2.v = r.u),
       |lab AS MATERIALIZED (
       |  SELECT v, CAST(min(u) AS BIGINT) AS cluster FROM reach GROUP BY v),
       |nb AS MATERIALIZED (
       |  SELECT s.v, CAST(MIN(l.cluster) AS BIGINT) AS bcl
       |  FROM sym s JOIN lab l ON l.v = s.u GROUP BY s.v)
       |SELECT a.vec_id,
       |       CASE WHEN l.cluster IS NOT NULL THEN 'core'
       |            WHEN n2.bcl IS NOT NULL THEN 'border'
       |            ELSE 'noise' END AS role,
       |       COALESCE(l.cluster, n2.bcl, -1) AS cluster
       |FROM embeddings a
       |LEFT JOIN lab l ON l.v = a.vec_id
       |LEFT JOIN nb n2 ON n2.v = a.vec_id
       |ORDER BY vec_id""".stripMargin

  /** q406's oracle: same quantized dots and norms, same panel; the
    * argmax/argmin replay as rank-1 windows (oracle scale is free). */
  private def tripletOracle: String =
    s"""WITH vq AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
       |                   ${quantizeSql("embedding")} AS q
       |            FROM embeddings),
       |vs AS (SELECT vec_id, label, q,
       |              sqrt(${dotQSql("v.q", "v.q", dim)}) AS norm
       |       FROM vq v),
       |an AS (SELECT vec_id AS q_id, label AS q_label, q AS qq, norm AS qnorm
       |       FROM vs WHERE vec_id < 20),
       |sc AS (SELECT a.q_id, a.q_label, c.vec_id, c.label,
       |              ${dotQSql("a.qq", "c.q", dim)} / (a.qnorm * c.norm) AS cosine
       |       FROM an a JOIN vs c ON c.vec_id <> a.q_id),
       |hp AS (SELECT q_id, q_label, vec_id AS pos_id, cosine AS cos_pos
       |       FROM (SELECT *, row_number() OVER (PARTITION BY q_id
       |                         ORDER BY cosine ASC, vec_id) AS rk
       |             FROM sc WHERE label = q_label) t
       |       WHERE rk = 1),
       |hn AS (SELECT q_id, vec_id AS neg_id, cosine AS cos_neg
       |       FROM (SELECT *, row_number() OVER (PARTITION BY q_id
       |                         ORDER BY cosine DESC, vec_id) AS rk
       |             FROM sc WHERE label <> q_label) t
       |       WHERE rk = 1)
       |SELECT hp.q_id, hp.q_label, hp.pos_id, hp.cos_pos,
       |       hn.neg_id, hn.cos_neg,
       |       hn.cos_neg >= hp.cos_pos AS violates
       |FROM hp JOIN hn USING (q_id)
       |ORDER BY q_id""".stripMargin

  /** q393's oracle: the same trained cells (ivfTrainCtes) and label
    * join, exact C(x,2) pair sums, identical single-row ARI text. */
  private def ariOracle: String =
    s"""WITH $ivfTrainCtes,
       |lbl AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings),
       |cl AS (SELECT c.cell, l.label FROM cells c JOIN lbl l USING (vec_id)),
       |nij AS (SELECT cell, label, CAST(count(*) AS BIGINT) AS n
       |        FROM cl GROUP BY cell, label),
       |sij AS (SELECT CAST(SUM(n * (n - 1) // 2) AS BIGINT) AS s_nij,
       |               CAST(SUM(n) AS BIGINT) AS n_total FROM nij),
       |sa AS (SELECT CAST(SUM(a * (a - 1) // 2) AS BIGINT) AS s_a
       |       FROM (SELECT CAST(SUM(n) AS BIGINT) AS a FROM nij GROUP BY cell)),
       |sb AS (SELECT CAST(SUM(b * (b - 1) // 2) AS BIGINT) AS s_b
       |       FROM (SELECT CAST(SUM(n) AS BIGINT) AS b FROM nij GROUP BY label))
       |SELECT n_total, s_nij, s_a, s_b,
       |       CAST(floor(1000.0 * (CAST(s_nij AS DOUBLE) - CAST(s_a AS DOUBLE) * CAST(s_b AS DOUBLE) / (CAST(n_total AS DOUBLE) * (CAST(n_total AS DOUBLE) - 1.0) / 2.0)) / ((CAST(s_a AS DOUBLE) + CAST(s_b AS DOUBLE)) / 2.0 - CAST(s_a AS DOUBLE) * CAST(s_b AS DOUBLE) / (CAST(n_total AS DOUBLE) * (CAST(n_total AS DOUBLE) - 1.0) / 2.0))) AS BIGINT) AS ari_milli
       |FROM sij CROSS JOIN sa CROSS JOIN sb
       |ORDER BY n_total""".stripMargin

  /** q239's oracle: the q53/q102 trained model (ivfTrainCtes' `cells`)
    * joined to labels, same majority argmax and ppm. */
  private def purityOracle: String =
    s"""WITH $ivfTrainCtes,
       |lbl AS (SELECT vec_id, label FROM embeddings),
       |cl AS (SELECT c.cell, l.label FROM cells c JOIN lbl l USING (vec_id)),
       |cnt AS (SELECT cell, label, CAST(count(*) AS BIGINT) AS n
       |        FROM cl GROUP BY cell, label),
       |r AS (SELECT cell, label, n,
       |             CAST(sum(n) OVER (PARTITION BY cell) AS BIGINT) AS n_vecs,
       |             row_number() OVER (PARTITION BY cell ORDER BY n DESC, label) AS rn
       |      FROM cnt)
       |SELECT CAST(cell AS BIGINT) AS cell, n_vecs,
       |       CAST(label AS BIGINT) AS major_label, n AS n_major,
       |       CAST((1000000 * n) // n_vecs AS BIGINT) AS purity_ppm
       |FROM r WHERE rn = 1
       |ORDER BY cell""".stripMargin

  /** A [[baseOracle]] query's SQL as a parenthesized subquery, for the
    * oracles that compose another query's oracle. */
  private def baseSub(name: String): String = s"(${baseOracle(name)})"

  /** DuckDB: the raw int64 squared L2 distance between two `dim`-long
    * quantized vectors `a` and `b`, as a scalar subquery. */
  private def rl2(a: String, b: String): String =
    s"(SELECT SUM(($a[g.i] - $b[g.i]) * ($a[g.i] - $b[g.i])) FROM UNNEST(generate_series(1, $dim)) AS g(i))"

  /** q237's oracle composes q50's oracle (the ndcgOracle pattern):
    * identical first-hit argmin and micro-reciprocal. */
  private def mrrOracle: String = {
    s"""WITH top AS (SELECT q_id, rk, vec_id FROM ${baseSub("q50_ann_brute")} t),
       |lbl AS (SELECT vec_id, label FROM embeddings),
       |per AS (SELECT t.q_id, q.label AS q_label,
       |               MIN(CASE WHEN c.label = q.label THEN t.rk END) AS fh
       |        FROM top t JOIN lbl c USING (vec_id)
       |             JOIN lbl q ON q.vec_id = t.q_id
       |        GROUP BY t.q_id, q.label)
       |SELECT q_id, CAST(q_label AS INT) AS q_label,
       |       CAST(COALESCE(fh, 0) AS BIGINT) AS first_hit_rank,
       |       CAST(CASE WHEN fh IS NOT NULL THEN 1000000 // fh ELSE 0 END AS BIGINT) AS rr_micro
       |FROM per
       |ORDER BY q_id""".stripMargin
  }

  /** q223's oracle composes q221's oracle and replays the three greedy
    * MMR rounds as unrolled CTEs — same integer penalty, same
    * (mmr desc, vec_id asc) argmax tie-break. `ce`/`sim` are
    * MATERIALIZED: DuckDB inlines plain CTEs per reference, and the six
    * references to `ce` would otherwise re-expand the whole composed
    * q103 subtree each time (file-handle exhaustion, not just wasted
    * work). */
  private def mmrOracle: String = {
    s"""WITH ce AS MATERIALIZED (SELECT q_id, vec_id, score_q FROM ($ceRerankOracle) t),
       |tok AS (SELECT doc_id,
       |               unnest(list_distinct(list_filter(string_split_regex(regexp_replace(text, '[^\\w\\s]', '', 'g'), '\\s+'), w -> w <> ''))) AS w
       |        FROM documents
       |        WHERE doc_id IN (SELECT vec_id FROM ce)),
       |cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok FROM tok GROUP BY doc_id),
       |pr AS (SELECT a.q_id, a.vec_id AS va, b.vec_id AS vb
       |       FROM ce a JOIN ce b ON b.q_id = a.q_id AND b.vec_id <> a.vec_id),
       |cm AS (SELECT p.q_id, p.va, p.vb, CAST(count(*) AS BIGINT) AS nc
       |       FROM pr p JOIN tok x ON x.doc_id = p.va
       |                 JOIN tok y ON y.doc_id = p.vb AND y.w = x.w
       |       GROUP BY p.q_id, p.va, p.vb),
       |sim AS MATERIALIZED (SELECT p.q_id, p.va, p.vb,
       |               (1000000 * COALESCE(c.nc, 0)) // (ca.n_tok + cb.n_tok - COALESCE(c.nc, 0)) AS jac_ppm
       |        FROM pr p
       |        LEFT JOIN cm c ON c.q_id = p.q_id AND c.va = p.va AND c.vb = p.vb
       |        JOIN cnt ca ON ca.doc_id = p.va
       |        JOIN cnt cb ON cb.doc_id = p.vb),
       |s1 AS (SELECT q_id, vec_id AS v1, score_q AS mmr1 FROM (
       |         SELECT q_id, vec_id, score_q,
       |                row_number() OVER (PARTITION BY q_id ORDER BY score_q DESC, vec_id) AS r
       |         FROM ce) WHERE r = 1),
       |c2 AS (SELECT ce.q_id, ce.vec_id, s1.v1, s1.mmr1,
       |              ce.score_q - COALESCE(s.jac_ppm, 0) // 2 AS mmr
       |       FROM ce JOIN s1 ON s1.q_id = ce.q_id AND ce.vec_id <> s1.v1
       |       LEFT JOIN sim s ON s.q_id = ce.q_id AND s.va = ce.vec_id AND s.vb = s1.v1),
       |s2 AS (SELECT q_id, v1, mmr1, vec_id AS v2, mmr AS mmr2 FROM (
       |         SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY mmr DESC, vec_id) AS r
       |         FROM c2) WHERE r = 1),
       |c3 AS (SELECT ce.q_id, ce.vec_id, s2.v1, s2.v2, s2.mmr1, s2.mmr2,
       |              ce.score_q - greatest(COALESCE(sa.jac_ppm, 0), COALESCE(sb.jac_ppm, 0)) // 2 AS mmr
       |       FROM ce JOIN s2 ON s2.q_id = ce.q_id AND ce.vec_id <> s2.v1 AND ce.vec_id <> s2.v2
       |       LEFT JOIN sim sa ON sa.q_id = ce.q_id AND sa.va = ce.vec_id AND sa.vb = s2.v1
       |       LEFT JOIN sim sb ON sb.q_id = ce.q_id AND sb.va = ce.vec_id AND sb.vb = s2.v2),
       |s3 AS (SELECT q_id, v1, v2, mmr1, mmr2, vec_id AS v3, mmr AS mmr3 FROM (
       |         SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY mmr DESC, vec_id) AS r
       |         FROM c3) WHERE r = 1)
       |SELECT q_id, CAST(1 AS INT) AS pick_no, v1 AS vec_id, CAST(mmr1 AS BIGINT) AS mmr_q FROM s3
       |UNION ALL SELECT q_id, CAST(2 AS INT), v2, CAST(mmr2 AS BIGINT) FROM s3
       |UNION ALL SELECT q_id, CAST(3 AS INT), v3, CAST(mmr3 AS BIGINT) FROM s3
       |ORDER BY q_id, pick_no""".stripMargin
  }

  /** q221's oracle composes q103's oracle as the shortlist (the
    * recallOracle pattern) and recomputes the identical integer pair
    * features — token sets via the shared DuckDB tokenizer text, length
    * ratio from n_chars, label agreement from embeddings. */
  private def ceRerankOracle: String = {
    s"""WITH sl AS MATERIALIZED (SELECT q_id, vec_id, CAST(rk AS INT) AS rk_ann
       |            FROM ${baseSub("q103_ann_ivfpq")} t),
       |tok AS (SELECT doc_id,
       |               unnest(list_distinct(list_filter(string_split_regex(regexp_replace(text, '[^\\w\\s]', '', 'g'), '\\s+'), w -> w <> ''))) AS w
       |        FROM documents
       |        WHERE doc_id IN (SELECT q_id FROM sl UNION SELECT vec_id FROM sl)),
       |cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok FROM tok GROUP BY doc_id),
       |com AS (SELECT s.q_id, s.vec_id, CAST(count(*) AS BIGINT) AS n_common
       |        FROM sl s JOIN tok a ON a.doc_id = s.q_id
       |                  JOIN tok b ON b.doc_id = s.vec_id AND b.w = a.w
       |        GROUP BY s.q_id, s.vec_id),
       |feat AS (SELECT s.q_id, s.vec_id, s.rk_ann,
       |                COALESCE(c.n_common, 0) AS n_common,
       |                ca.n_tok AS na, cb.n_tok AS nb,
       |                da.n_chars AS la, db.n_chars AS lb,
       |                CASE WHEN ea.label = eb.label THEN 1 ELSE 0 END AS lm
       |         FROM sl s
       |         LEFT JOIN com c ON c.q_id = s.q_id AND c.vec_id = s.vec_id
       |         JOIN cnt ca ON ca.doc_id = s.q_id
       |         JOIN cnt cb ON cb.doc_id = s.vec_id
       |         JOIN documents da ON da.doc_id = s.q_id
       |         JOIN documents db ON db.doc_id = s.vec_id
       |         JOIN embeddings ea ON ea.vec_id = s.q_id
       |         JOIN embeddings eb ON eb.vec_id = s.vec_id),
       |sc AS (SELECT q_id, vec_id, rk_ann,
       |              (600000 * n_common) // (na + nb - n_common)
       |            + (250000 * least(la, lb)) // greatest(la, lb)
       |            + 150000 * lm AS score_q
       |       FROM feat)
       |SELECT q_id,
       |       CAST(row_number() OVER (PARTITION BY q_id ORDER BY score_q DESC, vec_id) AS INT) AS rk_ce,
       |       vec_id, CAST(score_q AS BIGINT) AS score_q, rk_ann
       |FROM sc
       |ORDER BY q_id, rk_ce""".stripMargin
  }

  /** q198's oracle composes q50's oracle as a subquery (the recallOracle
    * pattern): both engines score the SAME ranking; the DCG weight and
    * prefix-sum literals are the identical VALUES rows. */
  private def ndcgOracle: String = {
    s"""WITH top AS (SELECT q_id, rk, vec_id FROM ${baseSub("q50_ann_brute")} t),
       |lbl AS (SELECT vec_id, label FROM embeddings),
       |wt(rk, wgt) AS (VALUES (1, 1000000), (2, 630929), (3, 500000), (4, 430676), (5, 386852)),
       |pf(r, acc) AS (VALUES (1, 1000000), (2, 1630929), (3, 2130929), (4, 2561605), (5, 2948457)),
       |scored AS (
       |  SELECT t.q_id, q.label AS q_label,
       |         CASE WHEN c.label = q.label THEN 1 ELSE 0 END AS rel, w.wgt
       |  FROM top t JOIN lbl c USING (vec_id)
       |       JOIN lbl q ON q.vec_id = t.q_id
       |       JOIN wt w ON w.rk = t.rk),
       |per AS (SELECT q_id, q_label, CAST(sum(rel) AS BIGINT) AS n_rel,
       |               CAST(sum(rel * wgt) AS BIGINT) AS dcg_q
       |        FROM scored GROUP BY q_id, q_label)
       |SELECT p.q_id, CAST(p.q_label AS INT) AS q_label, p.n_rel, p.dcg_q,
       |       CAST(COALESCE(pf.acc, 0) AS BIGINT) AS idcg_q,
       |       CAST(CASE WHEN p.n_rel > 0 THEN (1000000 * p.dcg_q) // pf.acc
       |                 ELSE 0 END AS BIGINT) AS ndcg_q
       |FROM per p LEFT JOIN pf ON pf.r = p.n_rel
       |ORDER BY q_id""".stripMargin
  }

  /** q54's oracle composes the other four oracles as parenthesized
    * subqueries (nested WITH scopes) — the recall arithmetic itself is
    * trivial; the point is both engines score the SAME method outputs.
    */
  private def recallOracle: String = {
    // each method subquery is hoisted into its OWN top-level
    // MATERIALIZED CTE: with the eight scopes nested directly inside
    // the `cand` union, DuckDB evaluated the composite ~5× slower than
    // the sum of its standalone parts (145.7 s vs ~30 s at sf0.01);
    // hoisted + materialized it runs the parts once each (~17 s)
    val methods = Seq("q06_ann_pq", "q07_ann_pq_rerank", "q103_ann_ivfpq",
      "q151_ann_sq8_rerank", "q452_ann_hnsw", "q51_ann_lsh",
      "q52_ann_multiprobe", "q53_ann_ivf")
    val methodCtes = methods.zipWithIndex.map { case (m, i) =>
      s"m$i AS MATERIALIZED (SELECT q_id, vec_id FROM ${baseSub(m)} t WHERE q_id < 5)"
    }.mkString(",\n")
    val cand = methods.zipWithIndex.map { case (m, i) =>
      s"SELECT '$m' AS method, q_id, vec_id FROM m$i"
    }.mkString("\n  UNION ALL ")
    s"""WITH truth AS MATERIALIZED (
       |  SELECT q_id, vec_id FROM ${baseSub("q50_ann_brute")} t),
       |$methodCtes,
       |cand AS (
       |  $cand),
       |hits AS (SELECT method, CAST(count(*) AS BIGINT) AS n_hits
       |         FROM cand JOIN truth USING (q_id, vec_id) GROUP BY method),
       |methods(method) AS (VALUES ${methods.map(m => s"('$m')").mkString(", ")}),
       |denom AS (SELECT CAST(count(*) AS DOUBLE) AS n_truth FROM truth)
       |SELECT m.method, COALESCE(h.n_hits, 0) AS n_hits,
       |       CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / d.n_truth AS recall
       |FROM methods m LEFT JOIN hits h ON h.method = m.method, denom d
       |ORDER BY m.method""".stripMargin
  }

  /** DuckDB CTE chain replaying the deterministic integer k-means
    * training ([[ivfRanked]]'s trajectory, bit-identical): every round is
    * (argmax-cosine assignment) → (truncated-int64-mean centroid update).
    * Ends with `ranked` (every vector's per-cell rank `arn`) and `cells`
    * (the arn=1 partition); leaves `np`/`kp` in scope. No trailing comma.
    * Shared by the q53 (IVF search) and q102 (SemDeDup) oracles.
    */
  /** q425's oracle (referenced from [[graft.streaming.StreamingPack]]):
    * the q423 base-training replay truncated at the delta argmax stage
    * — per delta vector, the assigned cell and its exact cosine.
    * Stream ≡ batch: the streaming HOF argmax must reproduce this
    * row set bit-exactly (cosines included). */
  private[graft] def streamIvfAssignOracle: String = {
    val cosX = s"${dotQSql("v.q", "c.cq", dim)} / (v.norm * c.cnorm)"
    s"""WITH ${ivfTrainCtesFrom("(SELECT * FROM embeddings WHERE vec_id % 10 <> 7)")},
       |cellsm AS MATERIALIZED (SELECT * FROM cells),
       |cx0 AS (SELECT cell, g.i AS i,
       |               CAST(SUM(q[g.i]) // CAST(count(*) AS BIGINT) AS BIGINT) AS v
       |        FROM cellsm, UNNEST(generate_series(1, $dim)) AS g(i)
       |        GROUP BY cell, g.i),
       |cxq AS (SELECT cell, list(v ORDER BY i) AS cq FROM cx0 GROUP BY cell),
       |centx AS (SELECT cell, cq, sqrt(${dotQSql("c.cq", "c.cq", dim)}) AS cnorm FROM cxq c),
       |dvecs AS (SELECT vec_id, ${quantizeSql("embedding")} AS q
       |          FROM embeddings WHERE vec_id % 10 = 7),
       |dscored AS (SELECT vec_id, q, sqrt(${dotQSql("v.q", "v.q", dim)}) AS norm FROM dvecs v),
       |dcos AS (SELECT v.vec_id, c.cell, $cosX AS cosine,
       |                row_number() OVER (PARTITION BY v.vec_id
       |                                   ORDER BY $cosX DESC, c.cell) AS rn
       |         FROM dscored v CROSS JOIN centx c)
       |SELECT vec_id, CAST(cell AS INT) AS cell, cosine
       |FROM dcos WHERE rn = 1
       |ORDER BY vec_id""".stripMargin
  }

  private def ivfTrainCtes: String = ivfTrainCtesFrom("embeddings")

  /** The IVF training replay parameterized by its source relation —
    * `embeddings` for the full-corpus model, a filtered subquery for
    * the q423 base-corpus model. k derives from the SOURCE's count via
    * the same integer ladder [[ivfCellsFor]] walks. */
  /** `pfx` prefixes every CTE name in the chain: required when this
    * scope NESTS inside an oracle whose outer scope defines a
    * MATERIALIZED CTE of the same name (`scored` in [[vecsCte]]) —
    * DuckDB's materialized-CTE hoisting otherwise trips an internal
    * "recursive CTE scan" assertion on the shadowed name. */
  private def ivfTrainCtesFrom(src: String, pfx: String = ""): String = {
    val n = s"(SELECT count(*) FROM $src)"
    val ladder = (0 to 40).map(p => s"WHEN $n <= ${1L << p} THEN $p")
      .mkString("CASE ", " ", " ELSE 41 END")
    val rounds = (1 to ivfRounds).map { r =>
      val cosPrev = s"${dotQSql("v.q", "c.cq", dim)} / (v.norm * c.cnorm)"
      s"""${pfx}assign$r AS (
         |  SELECT vec_id, q, cell FROM (
         |    SELECT v.vec_id, v.q, c.cell,
         |           row_number() OVER (PARTITION BY v.vec_id
         |                              ORDER BY $cosPrev DESC, c.cell) AS rn
         |    FROM ${pfx}scored v CROSS JOIN ${pfx}cent${r - 1} c) WHERE rn = 1),
         |${pfx}upd$r AS (SELECT cell, g.i AS i,
         |                 CAST(SUM(q[g.i]) // CAST(count(*) AS BIGINT) AS BIGINT) AS v
         |          FROM ${pfx}assign$r, UNNEST(generate_series(1, $dim)) AS g(i)
         |          GROUP BY cell, g.i),
         |${pfx}cq$r AS (SELECT cell, list(v ORDER BY i) AS cq FROM ${pfx}upd$r GROUP BY cell),
         |${pfx}cent$r AS (SELECT cell, cq, sqrt(${dotQSql("c.cq", "c.cq", dim)}) AS cnorm FROM ${pfx}cq$r c)"""
        .stripMargin
    }.mkString(",\n")
    val cosFinal = s"${dotQSql("v.q", "c.cq", dim)} / (v.norm * c.cnorm)"
    s"""${pfx}vecs AS (SELECT vec_id, ${quantizeSql("embedding")} AS q FROM $src),
       |${pfx}scored AS (
       |  SELECT vec_id, q, sqrt(${dotQSql("v.q", "v.q", dim)}) AS norm
       |  FROM ${pfx}vecs v),
       |${pfx}kp AS (SELECT 1 << (($ladder + 1) // 2) AS k),
       |${pfx}np AS (SELECT GREATEST(2, k // 2) AS nprobe FROM ${pfx}kp),
       |${pfx}hashed AS (SELECT vec_id, q,
       |                  CAST('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
       |           FROM ${pfx}scored),
       |${pfx}seeds AS (SELECT CAST(row_number() OVER (ORDER BY h, vec_id) AS INT) AS cell, q AS cq
       |          FROM ${pfx}hashed
       |          QUALIFY row_number() OVER (ORDER BY h, vec_id) <= (SELECT k FROM ${pfx}kp)),
       |${pfx}cent0 AS (SELECT cell, cq, sqrt(${dotQSql("c.cq", "c.cq", dim)}) AS cnorm FROM ${pfx}seeds c),
       |$rounds,
       |${pfx}ranked AS (
       |  SELECT v.vec_id, v.q, v.norm, c.cell,
       |         row_number() OVER (PARTITION BY v.vec_id
       |                            ORDER BY $cosFinal DESC, c.cell) AS arn
       |  FROM ${pfx}scored v CROSS JOIN ${pfx}cent$ivfRounds c),
       |${pfx}cells AS (SELECT vec_id, q, norm, cell FROM ${pfx}ranked WHERE arn = 1)""".stripMargin
  }

  /** PQ ADC oracle SQL — the training loop unrolled, all 4 subspaces in
    * one CTE chain keyed by m; every distance is raw int64 squared-L2
    * on the fixed-point components, so there is NOTHING to quantize in
    * the compare — both engines replay the identical trajectory. Keeps
    * candidates ranked `rk <= keep`.
    */
  private def pqAdcSql(keep: Int): String = {
      def idot(a: String, b: String) =
        s"(SELECT SUM($a[g.i] * $b[g.i]) FROM UNNEST(generate_series(1, $pqSubDim)) AS g(i))"
      def l2(a: String, b: String) =
        s"(${idot(a, a)} + ${idot(b, b)} - 2 * ${idot(a, b)})"
      val rounds = (1 to pqRounds).map { r =>
        s"""assign$r AS (
           |  SELECT vec_id, m, sq, code FROM (
           |    SELECT s.vec_id, s.m, s.sq, c.code,
           |           row_number() OVER (PARTITION BY s.vec_id, s.m
           |                              ORDER BY ${l2("s.sq", "c.cq")} ASC, c.code) AS rn
           |    FROM tsub s JOIN cent${r - 1} c ON c.m = s.m) WHERE rn = 1),
           |upd$r AS (SELECT m, code, g.i AS i,
           |                 CAST(SUM(sq[g.i]) // CAST(count(*) AS BIGINT) AS BIGINT) AS v
           |          FROM assign$r, UNNEST(generate_series(1, $pqSubDim)) AS g(i)
           |          GROUP BY m, code, g.i),
           |cent$r AS (SELECT m, code, list(v ORDER BY i) AS cq FROM upd$r GROUP BY m, code)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH vecs AS (SELECT vec_id, ${quantizeSql("embedding")} AS q FROM embeddings),
         |sub AS (SELECT vec_id, CAST(g.m AS INT) AS m,
         |               q[(g.m * $pqSubDim + 1):((g.m + 1) * $pqSubDim)] AS sq
         |        FROM vecs, UNNEST(generate_series(0, ${pqM - 1})) AS g(m)),
         |hashed AS (SELECT *, CAST('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
         |           FROM sub),
         |tvec AS (SELECT vec_id FROM (SELECT DISTINCT vec_id, h FROM hashed) hv
         |         QUALIFY row_number() OVER (ORDER BY h, vec_id) <= $pqTrainCap),
         |tsub AS (SELECT hashed.* FROM hashed JOIN tvec USING (vec_id)),
         |seeds AS (SELECT m, CAST(row_number() OVER (PARTITION BY m ORDER BY h, vec_id) AS INT) AS code,
         |                 sq AS cq
         |          FROM tsub
         |          QUALIFY row_number() OVER (PARTITION BY m ORDER BY h, vec_id) <= $pqK),
         |cent0 AS (SELECT m, code, cq FROM seeds),
         |$rounds,
         |codes AS (
         |  SELECT vec_id, m, code FROM (
         |    SELECT s.vec_id, s.m, c.code,
         |           row_number() OVER (PARTITION BY s.vec_id, s.m
         |                              ORDER BY ${l2("s.sq", "c.cq")} ASC, c.code) AS rn
         |    FROM sub s JOIN cent$pqRounds c ON c.m = s.m) WHERE rn = 1),
         |dt AS (SELECT s.vec_id AS q_id, s.m, c.code, ${l2("s.sq", "c.cq")} AS dq
         |       FROM sub s JOIN cent$pqRounds c ON c.m = s.m
         |       WHERE s.vec_id < 20),
         |adist AS (SELECT d.q_id, k.vec_id, CAST(SUM(d.dq) AS BIGINT) AS adist_q
         |          FROM codes k JOIN dt d ON d.m = k.m AND d.code = k.code AND k.vec_id <> d.q_id
         |          GROUP BY d.q_id, k.vec_id),
         |out AS (SELECT q_id, vec_id, adist_q,
         |               CAST(row_number() OVER (PARTITION BY q_id ORDER BY adist_q, vec_id) AS INT) AS rk
         |        FROM adist)
         |SELECT q_id, rk, vec_id, adist_q FROM out
         |WHERE rk <= $keep
         |ORDER BY q_id, rk""".stripMargin
  }

  private def baseOracle: Map[String, String] = Map(

    // the full graph-build + unrolled-beam replay (see [[hnswOracleCore]])
    "q452_ann_hnsw" -> hnswOracle,

    // the dedup-then-index replay: SemDeDup election CTEs + the graph/
    // beam machinery restricted to the representative membership
    "q470_ann_dedup_then_index" -> hnswDedupThenIndexOracle,
    "q467_ann_hnsw_hier" -> hnswHierOracle,

    // base-split graph + per-delta-vector insertion links replay
    "q455_hnsw_delta_insert" -> hnswDeltaOracle,

    // shared graph, one unrolled beam chain per sweep arm, q271-style
    // recall arithmetic vs the brute truth
    "q458_hnsw_beam_curve" -> hnswBeamCurveOracle,

    // same quantization, same raw int64 self-dot, same integer average
    "q147_embedding_datacard" ->
      s"""WITH qv AS (SELECT label, ${quantizeSql("embedding")} AS q FROM embeddings),
         |n AS (SELECT label,
         |        CAST((SELECT SUM(q[g.i] * q[g.i])
         |              FROM UNNEST(generate_series(1, $dim)) AS g(i)) AS BIGINT) AS normsq_q
         |      FROM qv),
         |a AS (SELECT CAST(label AS BIGINT) AS label,
         |        CAST(count(*) AS BIGINT) AS n_vecs,
         |        CAST(SUM(normsq_q) AS BIGINT) AS sum_normsq_q,
         |        CAST(MIN(normsq_q) AS BIGINT) AS min_normsq_q,
         |        CAST(MAX(normsq_q) AS BIGINT) AS max_normsq_q
         |      FROM n GROUP BY label)
         |SELECT label, n_vecs, sum_normsq_q, min_normsq_q, max_normsq_q,
         |       CAST(sum_normsq_q // n_vecs AS BIGINT) AS avg_normsq_q
         |FROM a
         |ORDER BY label""".stripMargin,

    "q06_ann_pq" -> pqAdcSql(topK),

    // IVF training replay (one parenthesized scope) restricts the PQ ADC
    // ranking to probed-cell candidates; then the q07-style exact
    // re-rank. Both engines rank the IDENTICAL candidate set with the
    // identical int64 ADC distances.
    "q103_ann_ivfpq" -> {
      val cosRR = s"${dotQSql("qv.q", "cv.q", dim)} / (qv.norm * cv.norm)"
      s"""WITH ivfr AS (SELECT vec_id, cell, arn FROM
         |  (WITH $ivfTrainCtes
         |   SELECT vec_id, cell, arn FROM ranked
         |   WHERE arn <= (SELECT nprobe FROM np)) t0),
         |cellasg AS (SELECT vec_id, cell FROM ivfr WHERE arn = 1),
         |probes AS (SELECT vec_id AS q_id, cell AS probe_cell FROM ivfr WHERE vec_id < 20),
         |cand AS (SELECT p.q_id, c.vec_id
         |         FROM probes p JOIN cellasg c
         |           ON c.cell = p.probe_cell AND c.vec_id <> p.q_id),
         |adcfull AS (SELECT q_id, vec_id, adist_q FROM (${pqAdcSql(Int.MaxValue)}) t1),
         |sl AS (SELECT a.q_id, a.vec_id,
         |              row_number() OVER (PARTITION BY a.q_id ORDER BY a.adist_q, a.vec_id) AS rs
         |       FROM adcfull a JOIN cand USING (q_id, vec_id)),
         |short AS (SELECT q_id, vec_id FROM sl WHERE rs <= $pqShortlist),
         |vecs2 AS (SELECT vec_id, ${quantizeSql("embedding")} AS q FROM embeddings),
         |norms AS (SELECT vec_id, q, sqrt(${dotQSql("v.q", "v.q", dim)}) AS norm FROM vecs2 v),
         |rr AS (SELECT s.q_id, s.vec_id, $cosRR AS cosine
         |       FROM short s JOIN norms cv ON cv.vec_id = s.vec_id
         |                    JOIN norms qv ON qv.vec_id = s.q_id),
         |rout AS (SELECT q_id, vec_id, cosine,
         |                CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS INT) AS rk
         |         FROM rr)
         |SELECT q_id, rk, vec_id, cosine FROM rout
         |WHERE rk <= $topK
         |ORDER BY q_id, rk""".stripMargin
    },

    // the ADC oracle as a shortlist subquery, then the exact cosine
    // re-rank (the same arithmetic the q50 oracle uses)
    "q07_ann_pq_rerank" -> {
      val cosRR = s"${dotQSql("qv.q", "cv.q", dim)} / (qv.norm * cv.norm)"
      s"""WITH short AS (SELECT q_id, vec_id FROM (${pqAdcSql(pqShortlist)}) sl),
         |vecs2 AS (SELECT vec_id, ${quantizeSql("embedding")} AS q FROM embeddings),
         |norms AS (SELECT vec_id, q, sqrt(${dotQSql("v.q", "v.q", dim)}) AS norm FROM vecs2 v),
         |rr AS (SELECT s.q_id, s.vec_id, $cosRR AS cosine
         |       FROM short s JOIN norms cv ON cv.vec_id = s.vec_id
         |                    JOIN norms qv ON qv.vec_id = s.q_id),
         |rout AS (SELECT q_id, vec_id, cosine,
         |                CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS INT) AS rk
         |         FROM rr)
         |SELECT q_id, rk, vec_id, cosine FROM rout
         |WHERE rk <= $topK
         |ORDER BY q_id, rk""".stripMargin
    },

    "q53_ann_ivf" -> {
      val dotPC = dotQSql("p.qq", "c.q", dim)
      s"""WITH $ivfTrainCtes,
         |probes AS (SELECT vec_id AS q_id, q AS qq, norm AS qnorm, cell AS probe_cell
         |           FROM ranked WHERE vec_id < 20 AND arn <= (SELECT nprobe FROM np)),
         |cand AS (
         |  SELECT p.q_id, c.vec_id, c.cell,
         |         $dotPC / (p.qnorm * c.norm) AS cosine
         |  FROM probes p JOIN cells c
         |    ON c.cell = p.probe_cell AND c.vec_id <> p.q_id),
         |out AS (
         |  SELECT q_id, vec_id, cell, cosine,
         |         CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS INT) AS rk
         |  FROM cand)
         |SELECT q_id, rk, vec_id, cell, cosine FROM out
         |WHERE rk <= $topK
         |ORDER BY q_id, rk""".stripMargin
    },

    // same trained model as q53's oracle; the dedup pass is a
    // within-cell self-join with the q44/q45 exact-cosine arithmetic
    "q102_semdedup" -> {
      val dotAB = dotQSql("a.q", "b.q", dim)
      s"""WITH $ivfTrainCtes,
         |dup0 AS (
         |  SELECT a.vec_id AS vec_id
         |  FROM cells a JOIN cells b
         |    ON a.cell = b.cell AND b.vec_id < a.vec_id
         |  WHERE $dotAB / (a.norm * b.norm) >= $semDedupTau),
         |dups AS (SELECT vec_id, CAST(count(*) AS BIGINT) AS n_dup_lower
         |         FROM dup0 GROUP BY vec_id)
         |SELECT c.vec_id, c.cell,
         |       COALESCE(d.n_dup_lower, 0) AS n_dup_lower,
         |       COALESCE(d.n_dup_lower, 0) > 0 AS is_dup
         |FROM cells c LEFT JOIN dups d ON d.vec_id = c.vec_id
         |ORDER BY c.vec_id""".stripMargin
    },

    // q50's brute shape + the label-exclusion join condition
    "q174_hard_negatives" ->
      s"""WITH vecs AS (SELECT vec_id, CAST(label AS BIGINT) AS label, ${quantizeSql("embedding")} AS q FROM embeddings),
         |scored AS (
         |  SELECT vec_id, label, q, sqrt(${dotQSql("v.q", "v.q", dim)}) AS norm
         |  FROM vecs v),
         |pairs AS (
         |  SELECT qv.vec_id AS q_id, qv.label AS q_label,
         |         cv.vec_id AS vec_id, cv.label AS neg_label,
         |         ${dotQSql("qv.q", "cv.q", dim)} / (qv.norm * cv.norm) AS cosine
         |  FROM scored qv JOIN scored cv
         |    ON cv.vec_id <> qv.vec_id AND cv.label <> qv.label
         |  WHERE qv.vec_id < 5),
         |ranked AS (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS INT) AS rk
         |  FROM pairs)
         |SELECT q_id, q_label, rk, vec_id, neg_label, cosine FROM ranked
         |WHERE rk <= 5
         |ORDER BY q_id, rk""".stripMargin,

    // the three power-iteration rounds unrolled; sign-split // mirrors
    // Spark's div on negative operands
    "q175_power_iteration" -> {
      def round(r: Int, prev: String): String =
        s"""y$r AS (SELECT vec_id, CAST(sum(x * vq) AS BIGINT) AS y
           |        FROM comp JOIN $prev USING (i) GROUP BY vec_id),
           |ys$r AS (SELECT vec_id,
           |               CASE WHEN y >= 0 THEN y // 1000000 ELSE -((-y) // 1000000) END AS ys
           |        FROM y$r),
           |s$r AS (SELECT i, CAST(sum(x * ys) AS BIGINT) AS sraw
           |        FROM comp JOIN ys$r USING (vec_id) GROUP BY i),
           |sd$r AS (SELECT i, CASE WHEN sraw >= 0 THEN sraw // 10000000000
           |                       ELSE -((-sraw) // 10000000000) END AS sd
           |        FROM s$r),
           |n$r AS (SELECT CAST(sum(sd * sd) AS BIGINT) AS n2 FROM sd$r),
           |v$r AS (SELECT i, CASE WHEN n2 = 0 THEN 0
           |                      ELSE CAST(floor(CAST(sd AS DOUBLE) / sqrt(CAST(n2 AS DOUBLE)) * 1000000) AS BIGINT)
           |                 END AS vq
           |       FROM sd$r, n$r)""".stripMargin
      s"""WITH vecs AS (SELECT vec_id, ${quantizeSql("embedding")} AS q FROM embeddings),
         |comp AS (SELECT vec_id, CAST(g.i AS INT) AS i, q[g.i] AS x
         |         FROM vecs, UNNEST(generate_series(1, $dim)) AS g(i)),
         |v0 AS (SELECT CAST(g.i AS INT) AS i, CAST(1000000 AS BIGINT) AS vq
         |       FROM UNNEST(generate_series(1, $dim)) AS g(i)),
         |${round(1, "v0")},
         |${round(2, "v1")},
         |${round(3, "v2")}
         |SELECT i, vq FROM v3 ORDER BY i""".stripMargin
    },

    // the shared k-means replay plus ONE more update+assign round;
    // identical truncated-int64 centroid means and argmax tie rule
    "q315_ivf_staleness" -> {
      val cosX = s"${dotQSql("v.q", "c.cq", dim)} / (v.norm * c.cnorm)"
      s"""WITH $ivfTrainCtes,
         |updx AS (SELECT cell, g.i AS i,
         |                CAST(SUM(q[g.i]) // CAST(count(*) AS BIGINT) AS BIGINT) AS v
         |         FROM cells, UNNEST(generate_series(1, $dim)) AS g(i)
         |         GROUP BY cell, g.i),
         |cqx AS (SELECT cell, list(v ORDER BY i) AS cq FROM updx GROUP BY cell),
         |centx AS (SELECT cell, cq, sqrt(${dotQSql("c.cq", "c.cq", dim)}) AS cnorm FROM cqx c),
         |rex AS (
         |  SELECT v.vec_id, c.cell,
         |         row_number() OVER (PARTITION BY v.vec_id
         |                            ORDER BY $cosX DESC, c.cell) AS rn
         |  FROM scored v CROSS JOIN centx c),
         |newcell AS (SELECT vec_id, cell AS cell_new FROM rex WHERE rn = 1),
         |j AS (SELECT o.cell AS cell_old, n.cell_new
         |      FROM cells o JOIN newcell n USING (vec_id))
         |SELECT CAST(cell_old AS INT) AS cell,
         |       CAST(count(*) AS BIGINT) AS n_members,
         |       CAST(sum(CASE WHEN cell_new <> cell_old THEN 1 ELSE 0 END) AS BIGINT) AS n_moved,
         |       CAST(sum(CASE WHEN cell_new <> cell_old THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS moved_ppm
         |FROM j GROUP BY cell_old
         |ORDER BY cell""".stripMargin
    },

    // base-corpus training replay (the stored artifact's trajectory),
    // then: recomputed means -> delta argmax assignment -> augmented
    // means -> q315-style reassignment audit. cells/aug MATERIALIZED:
    // DuckDB inlines CTEs, and each is referenced from several scopes —
    // without the pin the whole training chain re-evaluates per use.
    "q423_ivf_delta_maintain" -> {
      val cosX = s"${dotQSql("v.q", "c.cq", dim)} / (v.norm * c.cnorm)"
      s"""WITH ${ivfTrainCtesFrom("(SELECT * FROM embeddings WHERE vec_id % 10 <> 7)")},
         |cellsm AS MATERIALIZED (SELECT * FROM cells),
         |cx0 AS (SELECT cell, g.i AS i,
         |               CAST(SUM(q[g.i]) // CAST(count(*) AS BIGINT) AS BIGINT) AS v
         |        FROM cellsm, UNNEST(generate_series(1, $dim)) AS g(i)
         |        GROUP BY cell, g.i),
         |cxq AS (SELECT cell, list(v ORDER BY i) AS cq FROM cx0 GROUP BY cell),
         |centx AS (SELECT cell, cq, sqrt(${dotQSql("c.cq", "c.cq", dim)}) AS cnorm FROM cxq c),
         |dvecs AS (SELECT vec_id, ${quantizeSql("embedding")} AS q
         |          FROM embeddings WHERE vec_id % 10 = 7),
         |dscored AS (SELECT vec_id, q, sqrt(${dotQSql("v.q", "v.q", dim)}) AS norm FROM dvecs v),
         |dasg AS (SELECT vec_id, q, norm, cell FROM (
         |    SELECT v.vec_id, v.q, v.norm, c.cell,
         |           row_number() OVER (PARTITION BY v.vec_id
         |                              ORDER BY $cosX DESC, c.cell) AS rn
         |    FROM dscored v CROSS JOIN centx c) t WHERE rn = 1),
         |aug AS MATERIALIZED (
         |  SELECT vec_id, q, norm, cell AS cell_old, 0 AS is_new FROM cellsm
         |  UNION ALL
         |  SELECT vec_id, q, norm, cell, 1 FROM dasg),
         |cy0 AS (SELECT cell_old AS cell, g.i AS i,
         |               CAST(SUM(q[g.i]) // CAST(count(*) AS BIGINT) AS BIGINT) AS v
         |        FROM aug, UNNEST(generate_series(1, $dim)) AS g(i)
         |        GROUP BY cell_old, g.i),
         |cyq AS (SELECT cell, list(v ORDER BY i) AS cq FROM cy0 GROUP BY cell),
         |centy AS (SELECT cell, cq, sqrt(${dotQSql("c.cq", "c.cq", dim)}) AS cnorm FROM cyq c),
         |reasg AS (SELECT vec_id, cell AS cell_new FROM (
         |    SELECT v.vec_id, c.cell,
         |           row_number() OVER (PARTITION BY v.vec_id
         |                              ORDER BY $cosX DESC, c.cell) AS rn
         |    FROM aug v CROSS JOIN centy c) t WHERE rn = 1),
         |agg AS (
         |  SELECT a.cell_old,
         |         CAST(SUM(1 - a.is_new) AS BIGINT) AS n_base,
         |         CAST(SUM(a.is_new) AS BIGINT) AS n_new,
         |         CAST(SUM(CASE WHEN r.cell_new <> a.cell_old THEN 1 ELSE 0 END) AS BIGINT) AS n_moved
         |  FROM aug a JOIN reasg r USING (vec_id)
         |  GROUP BY a.cell_old)
         |SELECT CAST(cell_old AS INT) AS cell, n_base, n_new,
         |       CAST(n_new * 1000000 // n_base AS BIGINT) AS growth_ppm,
         |       n_moved,
         |       CAST(n_moved * 1000000 // (n_base + n_new) AS BIGINT) AS moved_ppm,
         |       (n_new * 1000000 // n_base > $growthResplitPpm
         |        OR n_moved * 1000000 // (n_base + n_new) > $driftResplitPpm) AS needs_resplit
         |FROM agg
         |ORDER BY cell""".stripMargin
    },

    // q423's replay through the flag computation, then the per-cell
    // 2-means split unrolled under composite (cell, sub) keys: md5-
    // minimal seeds per cell, the same truncated-int64 centroid rounds,
    // max-cosine / min-sub assignment — membership must match per vector
    "q429_ivf_resplit" -> {
      val cosX = s"${dotQSql("v.q", "c.cq", dim)} / (v.norm * c.cnorm)"
      val cosSub = s"${dotQSql("v.q", "c.cq", dim)} / (v.norm * c.cnorm)"
      val splitRounds = (1 to ivfRounds).map { r =>
        s"""sasg$r AS (SELECT cell, vec_id, q, norm, sub FROM (
           |    SELECT v.cell, v.vec_id, v.q, v.norm, c.sub,
           |           row_number() OVER (PARTITION BY v.cell, v.vec_id
           |                              ORDER BY $cosSub DESC, c.sub) AS rn
           |    FROM mem v JOIN scent${r - 1} c ON c.cell = v.cell) t WHERE rn = 1),
           |supd$r AS (SELECT cell, sub, g.i AS i,
           |                  CAST(SUM(q[g.i]) // CAST(count(*) AS BIGINT) AS BIGINT) AS v
           |           FROM sasg$r, UNNEST(generate_series(1, $dim)) AS g(i)
           |           GROUP BY cell, sub, g.i),
           |scq$r AS (SELECT cell, sub, list(v ORDER BY i) AS cq FROM supd$r GROUP BY cell, sub),
           |scent$r AS (SELECT cell, sub, cq, sqrt(${dotQSql("c.cq", "c.cq", dim)}) AS cnorm FROM scq$r c)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH ${ivfTrainCtesFrom("(SELECT * FROM embeddings WHERE vec_id % 10 <> 7)")},
         |cellsm AS MATERIALIZED (SELECT * FROM cells),
         |cx0 AS (SELECT cell, g.i AS i,
         |               CAST(SUM(q[g.i]) // CAST(count(*) AS BIGINT) AS BIGINT) AS v
         |        FROM cellsm, UNNEST(generate_series(1, $dim)) AS g(i)
         |        GROUP BY cell, g.i),
         |cxq AS (SELECT cell, list(v ORDER BY i) AS cq FROM cx0 GROUP BY cell),
         |centx AS (SELECT cell, cq, sqrt(${dotQSql("c.cq", "c.cq", dim)}) AS cnorm FROM cxq c),
         |dvecs AS (SELECT vec_id, ${quantizeSql("embedding")} AS q
         |          FROM embeddings WHERE vec_id % 10 = 7),
         |dscored AS (SELECT vec_id, q, sqrt(${dotQSql("v.q", "v.q", dim)}) AS norm FROM dvecs v),
         |dasg AS (SELECT vec_id, q, norm, cell FROM (
         |    SELECT v.vec_id, v.q, v.norm, c.cell,
         |           row_number() OVER (PARTITION BY v.vec_id
         |                              ORDER BY $cosX DESC, c.cell) AS rn
         |    FROM dscored v CROSS JOIN centx c) t WHERE rn = 1),
         |aug AS MATERIALIZED (
         |  SELECT vec_id, q, norm, cell AS cell_old, 0 AS is_new FROM cellsm
         |  UNION ALL
         |  SELECT vec_id, q, norm, cell, 1 FROM dasg),
         |cy0 AS (SELECT cell_old AS cell, g.i AS i,
         |               CAST(SUM(q[g.i]) // CAST(count(*) AS BIGINT) AS BIGINT) AS v
         |        FROM aug, UNNEST(generate_series(1, $dim)) AS g(i)
         |        GROUP BY cell_old, g.i),
         |cyq AS (SELECT cell, list(v ORDER BY i) AS cq FROM cy0 GROUP BY cell),
         |centy AS (SELECT cell, cq, sqrt(${dotQSql("c.cq", "c.cq", dim)}) AS cnorm FROM cyq c),
         |reasg AS (SELECT vec_id, cell AS cell_new FROM (
         |    SELECT v.vec_id, c.cell,
         |           row_number() OVER (PARTITION BY v.vec_id
         |                              ORDER BY $cosX DESC, c.cell) AS rn
         |    FROM aug v CROSS JOIN centy c) t WHERE rn = 1),
         |agg AS (
         |  SELECT a.cell_old,
         |         CAST(SUM(1 - a.is_new) AS BIGINT) AS n_base,
         |         CAST(SUM(a.is_new) AS BIGINT) AS n_new,
         |         CAST(SUM(CASE WHEN r.cell_new <> a.cell_old THEN 1 ELSE 0 END) AS BIGINT) AS n_moved
         |  FROM aug a JOIN reasg r USING (vec_id)
         |  GROUP BY a.cell_old),
         |flags AS (SELECT cell_old AS cell FROM agg
         |          WHERE n_new * 1000000 // n_base > $growthResplitPpm
         |             OR n_moved * 1000000 // (n_base + n_new) > $driftResplitPpm),
         |mem AS MATERIALIZED (
         |  SELECT a.vec_id, a.q, a.norm, a.cell_old AS cell
         |  FROM aug a JOIN flags f ON a.cell_old = f.cell),
         |mh AS (SELECT *, CAST('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
         |       FROM mem),
         |sseed AS (SELECT cell,
         |                 CAST(row_number() OVER (PARTITION BY cell ORDER BY h, vec_id) - 1 AS INT) AS sub,
         |                 q AS cq
         |          FROM mh
         |          QUALIFY row_number() OVER (PARTITION BY cell ORDER BY h, vec_id) <= 2),
         |scent0 AS (SELECT cell, sub, cq, sqrt(${dotQSql("c.cq", "c.cq", dim)}) AS cnorm FROM sseed c),
         |$splitRounds,
         |sfin AS (SELECT cell, vec_id, sub FROM (
         |    SELECT v.cell, v.vec_id, c.sub,
         |           row_number() OVER (PARTITION BY v.cell, v.vec_id
         |                              ORDER BY $cosSub DESC, c.sub) AS rn
         |    FROM mem v JOIN scent$ivfRounds c ON c.cell = v.cell) t WHERE rn = 1)
         |SELECT CAST(cell AS INT) AS cell, CAST(sub AS INT) AS sub, vec_id
         |FROM sfin
         |ORDER BY cell, sub, vec_id""".stripMargin
    },

    // same md5-minimal per-source panels, the same floor(sqrt(int64
    // squared-L2)) micro-distances, one common-denominator division
    "q430_energy_distance" -> {
      val dmic = (a: String, b: String) =>
        s"CAST(floor(sqrt(CAST(${rl2(a, b)} AS DOUBLE))) AS BIGINT)"
      s"""WITH qv AS (SELECT vec_id, ${quantizeSql("embedding")} AS q FROM embeddings),
         |lab AS (SELECT e.vec_id, d.source, e.q
         |        FROM qv e JOIN documents d ON e.vec_id = d.doc_id),
         |hh AS (SELECT *, CAST('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
         |       FROM lab),
         |panel AS MATERIALIZED (
         |  SELECT source, vec_id, q FROM hh
         |  QUALIFY row_number() OVER (PARTITION BY source ORDER BY h, vec_id) <= $energyPanel),
         |sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM panel GROUP BY 1),
         |sab AS (SELECT a.source AS source_a, b.source AS source_b,
         |               CAST(SUM(${dmic("a.q", "b.q")}) AS BIGINT) AS s_ab
         |        FROM panel a JOIN panel b ON a.source < b.source
         |        GROUP BY 1, 2),
         |sxx AS (SELECT a.source AS source,
         |               CAST(SUM(${dmic("a.q", "b.q")}) AS BIGINT) AS s_xx
         |        FROM panel a JOIN panel b
         |          ON a.source = b.source AND a.vec_id <> b.vec_id
         |        GROUP BY 1),
         |out AS (
         |  SELECT p.source_a, p.source_b, na.n AS n_a, nb.n AS n_b, p.s_ab,
         |         COALESCE(xa.s_xx, 0) AS s_aa, COALESCE(xb.s_xx, 0) AS s_bb
         |  FROM sab p
         |  JOIN sizes na ON na.source = p.source_a
         |  JOIN sizes nb ON nb.source = p.source_b
         |  LEFT JOIN sxx xa ON xa.source = p.source_a
         |  LEFT JOIN sxx xb ON xb.source = p.source_b)
         |SELECT source_a, source_b, n_a, n_b, s_ab,
         |       CAST(s_aa AS BIGINT) AS s_aa, CAST(s_bb AS BIGINT) AS s_bb,
         |       CAST((2 * s_ab * n_a * n_b - s_aa * n_b * n_b - s_bb * n_a * n_a)
         |            // (n_a * n_a * n_b * n_b) AS BIGINT) AS e_micro
         |FROM out
         |ORDER BY source_a, source_b""".stripMargin
    },

    // same panels as q430; the kernel's raw dot, milli rescale (// —
    // truncation toward zero matches Spark div on negatives), square,
    // pair sums, and the one common-denominator division — all integer
    "q433_mmd_poly" -> {
      def rdot(a: String, b: String) =
        s"(SELECT SUM($a[g.i] * $b[g.i]) FROM UNNEST(generate_series(1, $dim)) AS g(i))"
      val kv = (a: String, b: String) =>
        s"(1000 + (CAST(${rdot(a, b)} AS BIGINT) // 1000000000)) * " +
          s"(1000 + (CAST(${rdot(a, b)} AS BIGINT) // 1000000000))"
      s"""WITH qv AS (SELECT vec_id, ${quantizeSql("embedding")} AS q FROM embeddings),
         |lab AS (SELECT e.vec_id, d.source, e.q
         |        FROM qv e JOIN documents d ON e.vec_id = d.doc_id),
         |hh AS (SELECT *, CAST('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
         |       FROM lab),
         |panel AS MATERIALIZED (
         |  SELECT source, vec_id, q FROM hh
         |  QUALIFY row_number() OVER (PARTITION BY source ORDER BY h, vec_id) <= $energyPanel),
         |sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM panel GROUP BY 1),
         |sab AS (SELECT a.source AS source_a, b.source AS source_b,
         |               CAST(SUM(${kv("a.q", "b.q")}) AS BIGINT) AS s_ab
         |        FROM panel a JOIN panel b ON a.source < b.source
         |        GROUP BY 1, 2),
         |sxx AS (SELECT a.source AS source,
         |               CAST(SUM(${kv("a.q", "b.q")}) AS BIGINT) AS s_xx
         |        FROM panel a JOIN panel b
         |          ON a.source = b.source AND a.vec_id <> b.vec_id
         |        GROUP BY 1),
         |out AS (
         |  SELECT p.source_a, p.source_b, na.n AS n_a, nb.n AS n_b, p.s_ab,
         |         xa.s_xx AS s_aa, xb.s_xx AS s_bb
         |  FROM sab p
         |  JOIN sizes na ON na.source = p.source_a
         |  JOIN sizes nb ON nb.source = p.source_b
         |  JOIN sxx xa ON xa.source = p.source_a
         |  JOIN sxx xb ON xb.source = p.source_b
         |  WHERE na.n >= 2 AND nb.n >= 2)
         |SELECT source_a, source_b, n_a, n_b, s_ab, s_aa, s_bb,
         |       CAST((s_aa * (n_b * (n_b - 1)) + s_bb * (n_a * (n_a - 1))
         |             - 2 * s_ab * ((n_a - 1) * (n_b - 1)))
         |            // ((n_a * (n_a - 1)) * (n_b * (n_b - 1))) AS BIGINT) AS mmd2_q
         |FROM out
         |ORDER BY source_a, source_b""".stripMargin
    },

    // the same recomputed centroids (q315's updx), raw int64 squared-L2
    // scatter and separation, identical ×1000 floor-divided ratio
    "q323_davies_bouldin" -> {
      s"""WITH $ivfTrainCtes,
         |updx AS (SELECT cell, g.i AS i,
         |                CAST(SUM(q[g.i]) // CAST(count(*) AS BIGINT) AS BIGINT) AS v
         |         FROM cells, UNNEST(generate_series(1, $dim)) AS g(i)
         |         GROUP BY cell, g.i),
         |cqx AS (SELECT cell, list(v ORDER BY i) AS cq FROM updx GROUP BY cell),
         |md AS (SELECT c.cell, ${rl2("c.q", "x.cq")} AS d2
         |       FROM cells c JOIN cqx x USING (cell)),
         |scat AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_members,
         |                CAST(SUM(d2) // CAST(count(*) AS BIGINT) AS BIGINT) AS scatter_q
         |         FROM md GROUP BY cell),
         |m AS (SELECT a.cell AS ci, b.cell AS cj, CAST(${rl2("a.cq", "b.cq")} AS BIGINT) AS m2
         |      FROM cqx a JOIN cqx b ON a.cell <> b.cell),
         |db AS (SELECT si.cell AS cell,
         |              CAST(MAX((si.scatter_q + sj.scatter_q) * 1000 // m.m2) AS BIGINT) AS db_ppk
         |       FROM m JOIN scat si ON si.cell = m.ci JOIN scat sj ON sj.cell = m.cj
         |       WHERE m.m2 > 0
         |       GROUP BY si.cell)
         |SELECT CAST(s.cell AS INT) AS cell, s.n_members, s.scatter_q,
         |       COALESCE(d.db_ppk, CAST(-1 AS BIGINT)) AS db_ppk
         |FROM scat s LEFT JOIN db d USING (cell)
         |ORDER BY cell""".stripMargin
    },

    // the same md5-parity sign matrix, raw-projection pair distances,
    // matched 10⁻⁶ scale-downs and ×1000 floor-divided ratio
    "q324_jl_distortion" -> {
      val r = 16
      s"""WITH vecs AS (SELECT vec_id, ${quantizeSql("embedding")} AS q FROM embeddings),
         |hashed AS (SELECT vec_id, q,
         |                  CAST('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
         |           FROM vecs),
         |panel AS (SELECT vec_id, q FROM hashed
         |          QUALIFY row_number() OVER (ORDER BY h, vec_id) <= 32),
         |signs AS (SELECT CAST(i.i AS INT) AS i, CAST(j.j AS INT) AS j,
         |                 CASE WHEN CAST('0x' || substring(md5('jl_' || CAST(j.j AS VARCHAR) || '_' || CAST(i.i AS VARCHAR)), 1, 15) AS BIGINT) % 2 = 0
         |                      THEN 1 ELSE -1 END AS sgn
         |          FROM UNNEST(generate_series(1, $r)) AS j(j),
         |               UNNEST(generate_series(1, $dim)) AS i(i)),
         |proj AS (SELECT p.vec_id, s.j, CAST(SUM(s.sgn * p.q[s.i]) AS BIGINT) AS p
         |         FROM panel p JOIN signs s ON TRUE
         |         GROUP BY p.vec_id, s.j),
         |d2p AS (SELECT a.vec_id AS va, b.vec_id AS vb,
         |               CAST(SUM((a.p - b.p) * (a.p - b.p)) // 1000000 AS BIGINT) AS d2p_s
         |        FROM proj a JOIN proj b ON a.j = b.j AND a.vec_id < b.vec_id
         |        GROUP BY a.vec_id, b.vec_id),
         |d2o AS (SELECT a.vec_id AS va, b.vec_id AS vb,
         |               CAST(${rl2("a.q", "b.q")} // 1000000 AS BIGINT) AS d2o_s
         |        FROM panel a JOIN panel b ON a.vec_id < b.vec_id)
         |SELECT CAST(o.va AS BIGINT) AS vec_i, CAST(o.vb AS BIGINT) AS vec_j,
         |       o.d2o_s, p.d2p_s,
         |       CAST(p.d2p_s * 1000 // ($r * o.d2o_s) AS BIGINT) AS distortion_ppk
         |FROM d2o o JOIN d2p p ON p.va = o.va AND p.vb = o.vb
         |WHERE o.d2o_s > 0
         |ORDER BY vec_i, vec_j""".stripMargin
    },

    // label-keyed truncated-int64 mean prototypes, the assignCells
    // (cosine desc, label) argmax, the q128-style ppm matrix
    "q333_centroid_classifier" -> {
      val cos = s"${dotQSql("l.q", "c.cq", dim)} / (l.norm * c.cnorm)"
      s"""WITH vecs AS (SELECT vec_id, ${quantizeSql("embedding")} AS q FROM embeddings),
         |scored AS (SELECT vec_id, q, sqrt(${dotQSql("v.q", "v.q", dim)}) AS norm FROM vecs v),
         |lab AS (SELECT s.vec_id, s.q, s.norm, CAST(e.label AS INT) AS label
         |        FROM scored s JOIN embeddings e USING (vec_id)),
         |upd AS (SELECT label, g.i AS i,
         |               CAST(SUM(q[g.i]) // CAST(count(*) AS BIGINT) AS BIGINT) AS v
         |        FROM lab, UNNEST(generate_series(1, $dim)) AS g(i)
         |        GROUP BY label, g.i),
         |cqx AS (SELECT label, list(v ORDER BY i) AS cq FROM upd GROUP BY label),
         |cent AS (SELECT label, cq, sqrt(${dotQSql("c.cq", "c.cq", dim)}) AS cnorm FROM cqx c),
         |asn AS (SELECT vec_id, true_label, pl FROM (
         |    SELECT l.vec_id, l.label AS true_label, c.label AS pl,
         |           row_number() OVER (PARTITION BY l.vec_id
         |                              ORDER BY $cos DESC, c.label) AS rn
         |    FROM lab l CROSS JOIN cent c) WHERE rn = 1),
         |cm AS (SELECT true_label, pl AS pred_label, CAST(count(*) AS BIGINT) AS n_vecs
         |       FROM asn GROUP BY 1, 2),
         |tt AS (SELECT true_label, CAST(SUM(n_vecs) AS BIGINT) AS n_true FROM cm GROUP BY 1)
         |SELECT cm.true_label, CAST(cm.pred_label AS INT) AS pred_label, cm.n_vecs, tt.n_true,
         |       CAST(cm.n_vecs * 1000000 // tt.n_true AS BIGINT) AS recall_ppm
         |FROM cm JOIN tt USING (true_label)
         |ORDER BY true_label, pred_label""".stripMargin
    },

    // the q151 SQ8 replay (per-dim min/max params, floor-division
    // codes, 255-scaled decode), then exact integer error moments
    "q325_sq8_error" ->
      s"""WITH vecs AS (SELECT vec_id, ${quantizeSql("embedding")} AS q FROM embeddings),
         |comp AS (SELECT vec_id, g.i AS i, q[g.i] AS x
         |         FROM vecs, UNNEST(generate_series(1, $dim)) AS g(i)),
         |par AS (SELECT i, MIN(x) AS mn, MAX(x) AS mx FROM comp GROUP BY i),
         |xh AS (SELECT c.vec_id, c.i, c.x,
         |              CASE WHEN p.mx = p.mn THEN 255 * p.mn
         |                   ELSE 255 * p.mn + (((c.x - p.mn) * 255) // (p.mx - p.mn)) * (p.mx - p.mn)
         |              END AS xh
         |       FROM comp c JOIN par p USING (i)),
         |err AS (SELECT vec_id,
         |               CAST(SUM((255 * x - xh) * (255 * x - xh)) AS BIGINT) AS d2,
         |               CAST(SUM((255 * x) * (255 * x)) AS BIGINT) AS n255
         |        FROM xh GROUP BY vec_id),
         |rel AS (SELECT vec_id, d2,
         |               CASE WHEN n255 = 0 THEN 0
         |                    ELSE CAST((d2 * 1000) // n255 AS BIGINT) END AS rel_ppk
         |        FROM err)
         |SELECT CAST(e.label AS INT) AS label,
         |       CAST(count(*) AS BIGINT) AS n_vecs,
         |       CAST(SUM(r.d2) // CAST(count(*) AS BIGINT) AS BIGINT) AS mean_err_q,
         |       CAST(MAX(r.d2) AS BIGINT) AS max_err_q,
         |       CAST(SUM(r.rel_ppk) // CAST(count(*) AS BIGINT) AS BIGINT) AS mean_rel_ppk
         |FROM rel r JOIN embeddings e USING (vec_id)
         |GROUP BY e.label
         |ORDER BY label""".stripMargin,

    // identical exact int64 moments (here via a grouped self-join), the
    // same one-sqrt-one-divide double, the same top-20 rank
    "q288_dim_correlation" ->
      s"""WITH comp AS (
         |  SELECT vec_id, g.i - 1 AS i, q[g.i] AS x
         |  FROM (SELECT vec_id, ${quantizeSql("embedding")} AS q FROM embeddings) v,
         |       UNNEST(generate_series(1, $dim)) AS g(i)),
         |stats AS (
         |  SELECT i, CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
         |         CAST(sum(x * x) AS BIGINT) AS sxx
         |  FROM comp GROUP BY i),
         |pr AS (
         |  SELECT a.i AS i, b.i AS j, CAST(sum(a.x * b.x) AS BIGINT) AS sxy
         |  FROM comp a JOIN comp b ON a.vec_id = b.vec_id AND a.i < b.i
         |  GROUP BY 1, 2),
         |scored AS (
         |  SELECT p.i, p.j, sa.n, p.sxy,
         |         sa.n * p.sxy - sa.sx * sb.sx AS num,
         |         sa.n * sa.sxx - sa.sx * sa.sx AS vx,
         |         sb.n * sb.sxx - sb.sx * sb.sx AS vy
         |  FROM pr p JOIN stats sa ON sa.i = p.i JOIN stats sb ON sb.i = p.j)
         |SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j, n, sxy, num,
         |       CASE WHEN vx = 0 OR vy = 0 THEN 0.0
         |            ELSE CAST(num AS DOUBLE) / sqrt(CAST(vx AS DOUBLE) * CAST(vy AS DOUBLE))
         |       END AS corr
         |FROM scored
         |QUALIFY row_number() OVER (
         |  ORDER BY abs(CASE WHEN vx = 0 OR vy = 0 THEN 0.0
         |                    ELSE CAST(num AS DOUBLE) / sqrt(CAST(vx AS DOUBLE) * CAST(vy AS DOUBLE)) END) DESC,
         |           i, j) <= 20
         |ORDER BY abs(corr) DESC, i, j""".stripMargin,

    // same ×1e6 floor quantization, posexplode mirrored as UNNEST with
    // a 0-based position to match Spark's posexplode
    "q285_embedding_dim_stats" ->
      s"""WITH comp AS (
         |  SELECT g.i - 1 AS dim, q[g.i] AS x
         |  FROM (SELECT ${quantizeSql("embedding")} AS q FROM embeddings) v,
         |       UNNEST(generate_series(1, $dim)) AS g(i))
         |SELECT CAST(dim AS INT) AS dim,
         |       CAST(count(*) AS BIGINT) AS n,
         |       CAST(sum(x) AS BIGINT) AS sum_q,
         |       CAST(min(x) AS BIGINT) AS min_q,
         |       CAST(max(x) AS BIGINT) AS max_q,
         |       CAST(sum(abs(x)) AS BIGINT) AS sum_abs_q,
         |       CAST(sum(CASE WHEN abs(x) < 10000 THEN 1 ELSE 0 END) AS BIGINT) AS n_nearzero
         |FROM comp
         |GROUP BY dim
         |ORDER BY dim""".stripMargin,

    // same brute scoring on the 4% eval slice, same vote/tie rules
    "q279_knn_accuracy" ->
      s"""WITH vecs AS (SELECT vec_id, ${quantizeSql("embedding")} AS q FROM embeddings),
         |scored AS (
         |  SELECT vec_id, q, sqrt(${dotQSql("v.q", "v.q", dim)}) AS norm
         |  FROM vecs v),
         |labels AS (SELECT vec_id, label FROM embeddings),
         |pairs AS (
         |  SELECT qv.vec_id AS q_id, cv.vec_id AS vec_id,
         |         ${dotQSql("qv.q", "cv.q", dim)} / (qv.norm * cv.norm) AS cosine
         |  FROM scored qv JOIN scored cv ON cv.vec_id <> qv.vec_id
         |  WHERE qv.vec_id % 25 = 0),
         |top AS (
         |  SELECT q_id, vec_id FROM pairs
         |  QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) <= $topK),
         |votes AS (
         |  SELECT t.q_id, l.label, count(*) AS nv
         |  FROM top t JOIN labels l USING (vec_id) GROUP BY 1, 2),
         |pred AS (
         |  SELECT q_id, label AS pred FROM votes
         |  QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY nv DESC, label) = 1)
         |SELECT CAST(l.label AS INT) AS label,
         |       CAST(count(*) AS BIGINT) AS n_eval,
         |       CAST(sum(CASE WHEN p.pred = l.label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
         |       CAST(sum(CASE WHEN p.pred = l.label THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS acc_ppm
         |FROM pred p JOIN labels l ON l.vec_id = p.q_id
         |GROUP BY 1
         |ORDER BY label""".stripMargin,

    // the 8 greedy rounds replayed verbatim: dist² as Σ(aᵢ−bᵢ)² equals
    // the Spark side's dot(a,a)+dot(b,b)−2dot(a,b) exactly (both raw
    // int64 on the same quantized components)
    "q439_kcenter_coreset" -> {
      def dist2(a: String, b: String) =
        s"(SELECT SUM(($a[g.i] - $b[g.i]) * ($a[g.i] - $b[g.i])) FROM UNNEST(generate_series(1, $dim)) AS g(i))"
      val rounds = (2 to 8).map { r =>
        s"""c$r AS (SELECT vec_id, q, dmin FROM d${r - 1} ORDER BY dmin DESC, vec_id LIMIT 1),
           |d$r AS (SELECT v.vec_id, v.q, LEAST(v.dmin, ${dist2("v.q", "c.q")}) AS dmin
           |        FROM d${r - 1} v, c$r c)""".stripMargin
      }.mkString(",\n")
      val sels = (2 to 8)
        .map(r => s"UNION ALL SELECT $r AS sel_order, vec_id, dmin AS radius_sq FROM c$r")
        .mkString("\n")
      s"""WITH vecs AS (SELECT vec_id, ${quantizeSql("embedding")} AS q FROM embeddings),
         |h AS (SELECT vec_id, q,
         |             CAST('0x' || substring(md5('kc_' || CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT) AS hh
         |      FROM vecs),
         |c1 AS (SELECT vec_id, q FROM h ORDER BY hh, vec_id LIMIT 1),
         |d1 AS (SELECT v.vec_id, v.q, ${dist2("v.q", "c.q")} AS dmin FROM vecs v, c1 c),
         |$rounds
         |SELECT CAST(sel_order AS INT) AS sel_order, CAST(vec_id AS BIGINT) AS c_id,
         |       CAST(radius_sq AS BIGINT) AS radius_sq
         |FROM (SELECT 1 AS sel_order, vec_id, 0 AS radius_sq FROM c1
         |$sels)
         |ORDER BY sel_order""".stripMargin
    },

    "q50_ann_brute" ->
      s"""WITH vecs AS (SELECT vec_id, ${quantizeSql("embedding")} AS q FROM embeddings),
         |scored AS (
         |  SELECT vec_id, q, sqrt(${dotQSql("v.q", "v.q", dim)}) AS norm
         |  FROM vecs v),
         |pairs AS (
         |  SELECT qv.vec_id AS q_id, cv.vec_id AS vec_id,
         |         ${dotQSql("qv.q", "cv.q", dim)} / (qv.norm * cv.norm) AS cosine
         |  FROM scored qv JOIN scored cv ON cv.vec_id <> qv.vec_id
         |  WHERE qv.vec_id < 5),
         |ranked AS (
         |  SELECT q_id, vec_id, cosine,
         |         CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS INT) AS rk
         |  FROM pairs)
         |SELECT q_id, rk, vec_id, cosine FROM ranked
         |WHERE rk <= $topK
         |ORDER BY q_id, rk""".stripMargin,

    // same quantized prefixes, per-dim norms, identical cosine text;
    // dims unrolled as literal branches
    "q379_matryoshka_recall" -> {
      val branches = Seq(8, 16, 32, 64).map { dm =>
        s"""  SELECT $dm AS dim, q_id, vec_id FROM (
           |    SELECT qv.vec_id AS q_id, cv.vec_id AS vec_id,
           |           ${dotQSql("qv.qd", "cv.qd", dm)} / (qv.normd * cv.normd) AS cosine
           |    FROM (SELECT vec_id, qd, sqrt(${dotQSql("t.qd", "t.qd", dm)}) AS normd
           |          FROM (SELECT vec_id, q[1:$dm] AS qd FROM vecs) t) qv
           |    JOIN (SELECT vec_id, qd, sqrt(${dotQSql("t.qd", "t.qd", dm)}) AS normd
           |          FROM (SELECT vec_id, q[1:$dm] AS qd FROM vecs) t) cv
           |      ON cv.vec_id <> qv.vec_id
           |    WHERE qv.vec_id < 5)
           |  QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) <= $topK""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH vecs AS (SELECT vec_id, ${quantizeSql("embedding")} AS q FROM embeddings),
         |scored AS (
         |  SELECT vec_id, q, sqrt(${dotQSql("v.q", "v.q", dim)}) AS norm
         |  FROM vecs v),
         |fp AS (
         |  SELECT qv.vec_id AS q_id, cv.vec_id AS vec_id,
         |         ${dotQSql("qv.q", "cv.q", dim)} / (qv.norm * cv.norm) AS cosine
         |  FROM scored qv JOIN scored cv ON cv.vec_id <> qv.vec_id
         |  WHERE qv.vec_id < 5),
         |truth AS (
         |  SELECT q_id, vec_id FROM fp
         |  QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) <= $topK),
         |per AS (
         |$branches
         |)
         |SELECT CAST(p.dim AS INT) AS dim,
         |       CAST(count(DISTINCT p.q_id) AS BIGINT) AS n_queries,
         |       CAST(count(*) AS BIGINT) AS n_retrieved,
         |       CAST(SUM(CASE WHEN t.q_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
         |       CAST((SUM(CASE WHEN t.q_id IS NOT NULL THEN 1 ELSE 0 END) * 1000000) // count(*) AS BIGINT) AS recall_ppm
         |FROM per p LEFT JOIN truth t ON t.q_id = p.q_id AND t.vec_id = p.vec_id
         |GROUP BY p.dim
         |ORDER BY dim""".stripMargin
    },

    // replays the SQ8 model exactly: per-dim min/max over the quantized
    // components, floor-division codes, scaled-by-255 decode, int64
    // approximate-dot shortlist, exact cosine re-rank
    "q151_ann_sq8_rerank" ->
      s"""WITH vecs AS (SELECT vec_id, ${quantizeSql("embedding")} AS q FROM embeddings),
         |scored AS (
         |  SELECT vec_id, q, sqrt(${dotQSql("v.q", "v.q", dim)}) AS norm
         |  FROM vecs v),
         |comp AS (SELECT vec_id, g.i AS i, q[g.i] AS x
         |         FROM vecs, UNNEST(generate_series(1, $dim)) AS g(i)),
         |par AS (SELECT i, MIN(x) AS mn, MAX(x) AS mx FROM comp GROUP BY i),
         |xh AS (SELECT c.vec_id, c.i,
         |              CASE WHEN p.mx = p.mn THEN 255 * p.mn
         |                   ELSE 255 * p.mn + (((c.x - p.mn) * 255) // (p.mx - p.mn)) * (p.mx - p.mn)
         |              END AS xh
         |       FROM comp c JOIN par p USING (i)),
         |qs AS (SELECT vec_id AS q_id, q AS qq, norm AS qnorm FROM scored WHERE vec_id < 20),
         |ad AS (SELECT q.q_id, x.vec_id, SUM(q.qq[x.i] * x.xh) AS adist_q
         |       FROM qs q JOIN xh x ON x.vec_id <> q.q_id
         |       GROUP BY q.q_id, x.vec_id),
         |short AS (SELECT q_id, vec_id FROM ad
         |          QUALIFY row_number() OVER (PARTITION BY q_id
         |                                     ORDER BY adist_q DESC, vec_id) <= $sq8Shortlist),
         |rr AS (SELECT s.q_id, s.vec_id,
         |              ${dotQSql("q2.qq", "v.q", dim)} / (q2.qnorm * v.norm) AS cosine
         |       FROM short s JOIN scored v ON v.vec_id = s.vec_id
         |                    JOIN qs q2 ON q2.q_id = s.q_id)
         |SELECT q_id, rk, vec_id, cosine FROM (
         |  SELECT q_id, vec_id, cosine,
         |         CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS INT) AS rk
         |  FROM rr)
         |WHERE rk <= $topK
         |ORDER BY q_id, rk""".stripMargin,

    "q51_ann_lsh" ->
      s"""WITH $vecsCte,
         |${probesCte("WHERE c.vec_id < 20", maxHam = 0)},
         |cand AS (
         |  SELECT p.q_id, c.vec_id, c.cb AS bucket,
         |         ${dotQSql("p.qq", "c.q", dim)} / (p.qnorm * c.norm) AS cosine
         |  FROM probes p JOIN cor c
         |    ON c.ctbl = p.tbl AND c.cb = p.pb AND c.vec_id <> p.q_id
         |   AND ${emitOnceSql(maxHam = 0)}),
         |ranked AS (
         |  SELECT q_id, vec_id, bucket, cosine,
         |         CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS INT) AS rk
         |  FROM cand)
         |SELECT q_id, rk, vec_id, bucket, cosine FROM ranked
         |WHERE rk <= $topK
         |ORDER BY q_id, rk""".stripMargin,

    "q52_ann_multiprobe" ->
      s"""WITH $vecsCte,
         |${probesCte("WHERE c.vec_id < 20", maxHam = 1)},
         |cand AS (
         |  SELECT p.q_id, c.vec_id,
         |         ${dotQSql("p.qq", "c.q", dim)} / (p.qnorm * c.norm) AS cosine
         |  FROM probes p JOIN cor c
         |    ON c.ctbl = p.tbl AND c.cb = p.pb AND c.vec_id <> p.q_id
         |   AND ${emitOnceSql(maxHam = 1)}),
         |ranked AS (
         |  SELECT q_id, vec_id, cosine,
         |         CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS INT) AS rk
         |  FROM cand)
         |SELECT q_id, rk, vec_id, cosine FROM ranked
         |WHERE rk <= $topK
         |ORDER BY q_id, rk""".stripMargin
  )

  /** q452's/q455's oracle core: the COMPLETE replay — graph
    * construction (LSH multiprobe candidate pairs ∪ IVF same-cell
    * pairs, both restricted to `baseCond` rows → symmetrize → per-node
    * top-M) followed by the unrolled fixed-round beam search for the
    * `queryCond` rows against the `baseCond` corpus. The IVF training
    * replay nests as a parenthesized WITH scope (its CTE names collide
    * with [[vecsCte]]'s). Every ordering ties on vec_id and every
    * cosine is the shared exact expression, so the trajectory is
    * bit-deterministic on both engines. MATERIALIZED throughout:
    * DuckDB inlines plain CTEs per reference, and the beam chain
    * references v{r-1} twice per round with `edges` re-read every
    * round — inlining would re-run the candidate subtree 2^R times. */
  private def hnswOracleCore(baseCond: String, queryCond: String,
                             excludeSelf: Boolean,
                             finalSelect: String): String = {
    val selfGuard = if (excludeSelf) "WHERE vec_id <> q_id" else ""
    s"""WITH ${hnswGraphCtes(baseCond, queryCond)},
       |${hnswBeamChainCtes("", hnswBeam)},
       |ranked_out AS (
       |  SELECT q_id, vec_id, cosine,
       |         CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS INT) AS rk
       |  FROM v$hnswRounds $selfGuard)
       |$finalSelect""".stripMargin
  }

  /** Shared graph + seed/query CTE chain (through `edges`, `scoredm`,
    * `qset`, `sd`): everything before the beam rounds. `pfx` prefixes
    * every CTE name so two graph scopes (q467's layers) can coexist in
    * one statement — see [[vecsCte]]'s composition note. */
  private def hnswGraphCtes(baseCond: String, queryCond: String,
                            pfx: String = "",
                            condOnFn: Option[String => String] = None): String = {
    val n = s"(SELECT count(*) FROM embeddings WHERE $baseCond)"
    val ladder = (0 to 40).map(p => s"WHEN $n <= ${1L << p} THEN $p")
      .mkString("CASE ", " ", " ELSE 41 END")
    // default: textual alias substitution — correct for simple
    // predicates; membership subqueries (q470's `vec_id IN (SELECT …)`)
    // supply condOnFn so the inner SELECT's vec_id is left alone
    def condOn(alias: String) = condOnFn.map(_(alias))
      .getOrElse(baseCond.replace("vec_id", s"$alias.vec_id"))
    s"""${vecsCte(pfx)},
       |${probesCte(s"WHERE ${condOn("c")}", maxHam = 1, pfx)},
       |${pfx}lshp AS MATERIALIZED (
       |  SELECT p.q_id AS vec_i, c.vec_id AS vec_j,
       |         ${dotQSql("p.qq", "c.q", dim)} / (p.qnorm * c.norm) AS cosine
       |  FROM ${pfx}probes p JOIN ${pfx}cor c
       |    ON c.ctbl = p.tbl AND c.cb = p.pb AND p.q_id < c.vec_id
       |   AND ${condOn("c")}
       |   AND ${emitOnceSql(maxHam = 1)}),
       |${pfx}cellp AS MATERIALIZED (
       |  SELECT vec_i, vec_j, cosine FROM (
       |    WITH ${ivfTrainCtesFrom(s"(SELECT * FROM embeddings WHERE $baseCond)", pfx = s"${pfx}t_")}
       |    SELECT a.vec_id AS vec_i, b.vec_id AS vec_j,
       |           ${dotQSql("a.q", "b.q", dim)} / (a.norm * b.norm) AS cosine
       |    FROM ${pfx}t_cells a JOIN ${pfx}t_cells b ON b.cell = a.cell AND a.vec_id < b.vec_id) t),
       |${pfx}pool AS MATERIALIZED (SELECT * FROM ${pfx}lshp UNION SELECT * FROM ${pfx}cellp),
       |${pfx}sym AS MATERIALIZED (SELECT vec_i AS src, vec_j AS dst, cosine FROM ${pfx}pool
       |        UNION SELECT vec_j AS src, vec_i AS dst, cosine FROM ${pfx}pool),
       |${pfx}edges AS MATERIALIZED (SELECT src, dst FROM (
       |    SELECT src, dst,
       |           row_number() OVER (PARTITION BY src ORDER BY cosine DESC, dst) AS nrk
       |    FROM ${pfx}sym) t WHERE nrk <= $hnswM),
       |${pfx}hp AS (SELECT (1 << GREATEST(2, ($ladder) - 5)) AS sm),
       |${pfx}scoredm AS MATERIALIZED (SELECT vec_id, q, norm FROM ${pfx}scored WHERE $baseCond),
       |${pfx}qset AS MATERIALIZED (SELECT vec_id AS q_id, q AS qq, norm AS qnorm
       |                      FROM ${pfx}scored WHERE $queryCond),
       |${pfx}sd AS (SELECT vec_id FROM ${pfx}scoredm, ${pfx}hp WHERE vec_id % ${pfx}hp.sm = 0)""".stripMargin
  }

  /** One unrolled beam chain (`c0`…`v$hnswRounds`, names suffixed by
    * `tag` so several widths can coexist in one WITH scope). */
  /** One unrolled beam chain over a `pfx`-scoped graph. `seedFromSql`
    * replaces the stride seed set with caller-supplied per-query
    * (q_id, vec_id) entries — how q467's layers chain (each layer's
    * chain is seeded by the one above's result). */
  private def hnswBeamChainCtes(tag: String, beamWidth: Int,
                                pfx: String = "",
                                nRounds: Int = hnswRounds,
                                seedFromSql: Option[String] = None): String = {
    val score = s"${dotQSql("q.qq", "x.q", dim)} / (q.qnorm * x.norm)"
    val rounds = (1 to nRounds).map { r =>
      s"""f$tag$r AS MATERIALIZED (SELECT q_id, vec_id FROM (
         |    SELECT q_id, vec_id,
         |           row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS brk
         |    FROM v$tag${r - 1}) t WHERE brk <= $beamWidth),
         |c$tag$r AS MATERIALIZED (SELECT q_id, vec_id FROM v$tag${r - 1}
         |        UNION SELECT f.q_id, e.dst FROM f$tag$r f JOIN ${pfx}edges e ON e.src = f.vec_id),
         |v$tag$r AS MATERIALIZED (SELECT c.q_id, c.vec_id, $score AS cosine
         |        FROM c$tag$r c JOIN ${pfx}qset q ON q.q_id = c.q_id
         |        JOIN ${pfx}scoredm x ON x.vec_id = c.vec_id)""".stripMargin
    }.mkString(",\n")
    val c0 = seedFromSql match {
      case Some(sql) => s"c${tag}0 AS ($sql)"
      case None =>
        s"c${tag}0 AS (SELECT q.q_id, s.vec_id FROM ${pfx}qset q CROSS JOIN ${pfx}sd s)"
    }
    s"""$c0,
       |v${tag}0 AS MATERIALIZED (SELECT c.q_id, c.vec_id, $score AS cosine
       |       FROM c${tag}0 c JOIN ${pfx}qset q ON q.q_id = c.q_id
       |       JOIN ${pfx}scoredm x ON x.vec_id = c.vec_id),
       |$rounds""".stripMargin
  }

  /** q458's oracle: the shared graph, one beam chain per sweep arm,
    * recall vs the brute truth computed like q271's curve. */
  private def hnswBeamCurveOracle: String = {
    val chains = hnswCurveBeams.map(b => hnswBeamChainCtes(s"b${b}_", b)).mkString(",\n")
    val armSelects = hnswCurveBeams.map { b =>
      s"""SELECT $b AS beam, q_id, vec_id FROM (
         |  SELECT q_id, vec_id,
         |         row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rk
         |  FROM vb${b}_$hnswRounds WHERE vec_id <> q_id) t WHERE rk <= $topK""".stripMargin
    }.mkString("\n  UNION ALL ")
    s"""WITH ${hnswGraphCtes("TRUE", "vec_id < 5")},
       |$chains,
       |bt AS MATERIALIZED (SELECT q_id, vec_id FROM (
       |    SELECT q2.vec_id AS q_id, v.vec_id,
       |           row_number() OVER (PARTITION BY q2.vec_id
       |                              ORDER BY ${dotQSql("q2.q", "v.q", dim)} / (q2.norm * v.norm) DESC, v.vec_id) AS rk
       |    FROM scoredm q2 JOIN scoredm v ON v.vec_id <> q2.vec_id AND q2.vec_id < 5) t
       |  WHERE rk <= $topK),
       |arms AS MATERIALIZED (
       |  $armSelects),
       |hits AS (SELECT beam, CAST(count(*) AS BIGINT) AS n_hits
       |         FROM arms JOIN bt USING (q_id, vec_id) GROUP BY beam),
       |beams(beam) AS (VALUES ${hnswCurveBeams.map(b => s"($b)").mkString(", ")}),
       |denom AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM bt)
       |SELECT CAST(b.beam AS INT) AS beam, COALESCE(h.n_hits, 0) AS n_hits,
       |       d.n_truth, COALESCE(h.n_hits, 0) * 1000000 // d.n_truth AS recall_ppm
       |FROM beams b LEFT JOIN hits h ON h.beam = b.beam, denom d
       |ORDER BY beam""".stripMargin
  }

  /** q452's oracle: full-corpus graph, queries vec_id < 5, top-k. */
  private def hnswOracle: String =
    hnswOracleCore("TRUE", "vec_id < 5", excludeSelf = true,
      s"""SELECT q_id, rk, vec_id, cosine FROM ranked_out
         |WHERE rk <= $topK
         |ORDER BY q_id, rk""".stripMargin)

  /** q467's oracle: the full hierarchical replay — TWO independent
    * graph scopes in one statement (the layer-1 graph under the `l1_`
    * prefix, the layer-0 graph under the standard names), the apex
    * entry as an exhaustive top-K over the % 64 members, and two
    * CHAINED beam replays whose seeds flow down (hentry → layer-1 chain
    * → hl1top → layer-0 chain), ending in q452's ranking shape. */
  private def hnswHierOracle: String = {
    val score = s"${dotQSql("q.qq", "x.q", dim)} / (q.qnorm * x.norm)"
    val chain1 = hnswBeamChainCtes("h1_", hierL1Beam, pfx = "l1_",
      nRounds = hierL1Rounds,
      seedFromSql = Some("SELECT q_id, vec_id FROM hentry"))
    val chain0 = hnswBeamChainCtes("h0_", hnswBeam, pfx = "",
      nRounds = hnswRounds,
      seedFromSql = Some("SELECT q_id, vec_id FROM hl1top"))
    s"""WITH ${hnswGraphCtes("TRUE", "vec_id < 5")},
       |${hnswGraphCtes(s"vec_id % $hierL1Mod = 0", "vec_id < 5", pfx = "l1_")},
       |hentry AS MATERIALIZED (SELECT q_id, vec_id FROM (
       |  SELECT q.q_id, x.vec_id,
       |         row_number() OVER (PARTITION BY q.q_id
       |                            ORDER BY $score DESC, x.vec_id) AS crk
       |  FROM qset q JOIN scoredm x ON x.vec_id % $hierL2Mod = 0) t
       |  WHERE crk <= $hierCarryK),
       |$chain1,
       |hl1top AS MATERIALIZED (SELECT q_id, vec_id FROM (
       |  SELECT q_id, vec_id,
       |         row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS crk
       |  FROM vh1_$hierL1Rounds) t WHERE crk <= $hierCarryK),
       |$chain0,
       |ranked_out AS (
       |  SELECT q_id, vec_id, cosine,
       |         CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS INT) AS rk
       |  FROM vh0_$hnswRounds WHERE vec_id <> q_id)
       |SELECT q_id, rk, vec_id, cosine FROM ranked_out
       |WHERE rk <= $topK
       |ORDER BY q_id, rk""".stripMargin
  }

  /** q470's oracle: the SemDeDup model + duplicate election replayed
    * under the `sd_` prefix (q102's oracle machinery), the surviving
    * representatives as a membership CTE, then the standard graph-build
    * + unrolled-beam replay restricted to that membership (condOnFn
    * keeps the `IN (SELECT …)` subquery's own vec_id untouched). The
    * seed-stride ladder and the rep-model's cell count both derive from
    * the REP count, mirroring the Spark build exactly. */
  private def hnswDedupThenIndexOracle: String = {
    val dotAB = dotQSql("a.q", "b.q", dim)
    val repCond = "vec_id IN (SELECT vec_id FROM reps)"
    s"""WITH ${ivfTrainCtesFrom("embeddings", pfx = "sd_")},
       |sdup AS MATERIALIZED (
       |  SELECT a.vec_id
       |  FROM sd_cells a JOIN sd_cells b
       |    ON a.cell = b.cell AND b.vec_id < a.vec_id
       |  WHERE $dotAB / (a.norm * b.norm) >= $semDedupTau
       |  GROUP BY a.vec_id),
       |reps AS MATERIALIZED (
       |  SELECT vec_id FROM sd_cells
       |  WHERE vec_id NOT IN (SELECT vec_id FROM sdup)),
       |${hnswGraphCtes(repCond, "vec_id < 5",
          condOnFn = Some(a => s"$a.vec_id IN (SELECT vec_id FROM reps)"))},
       |${hnswBeamChainCtes("", hnswBeam)},
       |ranked_out AS (
       |  SELECT q_id, vec_id, cosine,
       |         CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS INT) AS rk
       |  FROM v$hnswRounds WHERE vec_id <> q_id)
       |SELECT q_id, rk, vec_id, cosine FROM ranked_out
       |WHERE rk <= $topK
       |ORDER BY q_id, rk""".stripMargin
  }

  /** q455's oracle: base-split graph (vec_id % 10 <> 7), the delta
    * rows as queries, each emitting its M insertion links. */
  private def hnswDeltaOracle: String =
    hnswOracleCore("vec_id % 10 <> 7", "vec_id % 10 = 7",
      excludeSelf = false,
      s"""SELECT q_id, rk AS nrk, vec_id AS dst, cosine FROM ranked_out
         |WHERE rk <= $hnswM
         |ORDER BY q_id, nrk""".stripMargin)

  /** q45's oracle (DedupPack's near-dup twin of the multiprobe search):
    * pairs (i < j) whose buckets are within Hamming 1 in >= 1 table. */
  private[operators] def nearDupOracle(minCosine: Double): String =
    s"""WITH $vecsCte,
       |${probesCte("", maxHam = 1)},
       |pairs AS (
       |  SELECT p.q_id AS vec_i, c.vec_id AS vec_j,
       |         ${dotQSql("p.qq", "c.q", dim)} / (p.qnorm * c.norm) AS cosine
       |  FROM probes p JOIN cor c
       |    ON c.ctbl = p.tbl AND c.cb = p.pb AND p.q_id < c.vec_id
       |   AND ${emitOnceSql(maxHam = 1)})
       |SELECT vec_i, vec_j, cosine
       |FROM pairs
       |WHERE cosine >= $minCosine
       |ORDER BY vec_i, vec_j""".stripMargin
}
