package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-12 additions: HNSW-family beam search (q452), suffix-array
  * dedup (q453), block-max WAND (q451), and the DSv2 keyed upsert
  * (q450). Each operator is pinned against a deterministic plain-Scala
  * replay that shares NO code with the query implementation.
  */
class Wave13Spec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  // plain-Scala mirror of VectorFunctions' exact fixed-point pipeline
  private def quant(v: Seq[Float]): Array[Long] =
    v.map(f => math.floor(f.toDouble * 1e6).toLong).toArray
  private def dot(a: Array[Long], b: Array[Long]): Double = {
    var s = 0L; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s.toDouble / 1e12
  }
  private def cos(a: Array[Long], b: Array[Long]): Double =
    dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))

  test("q452 beam search matches a plain-Scala replay over the stored graph") {
    import graft.operators.SimilarityPack
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> quant(r.getSeq[Float](1))).toMap
    val graph = SimilarityPack.hnswGraph(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (s0, es) => s0 -> es.map(_._2).toSet }
    // bounded degree: the artifact must respect M
    assert(graph.values.forall(_.size <= SimilarityPack.hnswM))
    val sm = SimilarityPack.hnswSeedMod(vecs.size.toLong)
    val seeds = vecs.keySet.filter(_ % sm == 0)
    assert(seeds.nonEmpty)
    val got = SparkEntry.queries("q452_ann_hnsw")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    for (q <- 0L until 5L) {
      val qv = vecs(q)
      var visited = seeds
      for (_ <- 1 to SimilarityPack.hnswRounds) {
        val beam = visited.toSeq.sortBy(v => (-cos(qv, vecs(v)), v))
          .take(SimilarityPack.hnswBeam)
        visited = visited ++ beam.flatMap(v => graph.getOrElse(v, Set.empty))
      }
      val want = visited.toSeq.filter(_ != q)
        .sortBy(v => (-cos(qv, vecs(v)), v)).take(5)
        .zipWithIndex.map { case (v, i) => (q, i + 1, v, cos(qv, vecs(v))) }
      assert(got.filter(_._1 == q).toSeq === want)
    }
  }

  test("q453 matches a plain-Scala suffix array with brute-force adjacent LCPs") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .filter("doc_id % 20 = 3").select("doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        r.getString(1).replaceAll("(?U)[^\\w\\s]", "")
          .split("(?U)\\s+").filter(_.nonEmpty).toVector).toMap
    // every suffix, sorted lexicographically by token sequence (ties by
    // doc_id, position) — the direct O(n² log n) definition the
    // distributed prefix doubling must reproduce
    val suffixes = docs.toSeq.flatMap { case (d, ts) =>
      (1 to ts.length).map(p => (d, p))
    }
    import scala.math.Ordering.Implicits._
    val sa = suffixes.sortBy { case (d, p) => (docs(d).drop(p - 1), d, p.toLong) }
    val pairs = collection.mutable.Map.empty[(Long, Long), (Long, Long)]
    for (((d1, p1), (d2, p2)) <- sa.zip(sa.tail) if d1 != d2) {
      val a = docs(d1).drop(p1 - 1); val b = docs(d2).drop(p2 - 1)
      val lcp = a.zip(b).takeWhile { case (x, y) => x == y }.length.toLong
      val key = (math.min(d1, d2), math.max(d1, d2))
      val (mx, n) = pairs.getOrElse(key, (0L, 0L))
      pairs(key) = (math.max(mx, lcp), n + 1)
    }
    val want = pairs.toSeq.collect {
      case ((a, b), (mx, n)) if mx >= 3 => (a, b, mx, n)
    }.sorted
    val got = SparkEntry.queries("q453_suffix_dedup")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got === want)
  }

  import org.apache.spark.sql.functions.col

  test("q451 block-max pruning engages and the kept blocks cover the exact top-10") {
    val (postings, blockMax) = graft.operators.RetrievalPack.bmwIndex(spark, sf)
    val bm = blockMax.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    val byTerm = bm.groupBy(_._1)
    // at least one panel term must span enough blocks to certify a
    // theta (otherwise the query degrades to full scan and the pruning
    // path is untested at this corpus)
    assert(byTerm.values.exists(_.size > 10))
    val post = postings.collect()
      .map(r => (r.getInt(0), r.getLong(2), r.getLong(3), r.getLong(7)))
    for ((t, blocks) <- byTerm if blocks.size >= 10) {
      val theta = blocks.map(_._3).sorted(Ordering[Long].reverse).take(10).min
      val kept = blocks.filter(_._3 >= theta).map(_._2).toSet
      val all = post.filter(_._1 == t)
      val top10 = all.sortBy(x => (-x._4, x._3)).take(10)
      assert(top10.forall(x => kept.contains(x._2)),
        s"term $t: a true top-10 doc fell in a pruned block")
      assert(kept.size < blocks.size, s"term $t: nothing pruned")
    }
  }

  test("q455 delta insertion links match a plain-Scala beam over the stored base graph") {
    import graft.operators.SimilarityPack
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> quant(r.getSeq[Float](1))).toMap
    val base = vecs.keySet.filter(_ % 10 != 7)
    val graph = SimilarityPack.hnswBaseGraph(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (s0, es) => s0 -> es.map(_._2).toSet }
    // the base graph must not reference any delta vector
    assert(graph.keys.forall(_ % 10 != 7))
    assert(graph.values.flatten.forall(_ % 10 != 7))
    val sm = SimilarityPack.hnswSeedMod(base.size.toLong)
    val seeds = base.filter(_ % sm == 0)
    val got = SparkEntry.queries("q455_hnsw_delta_insert")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val deltas = vecs.keySet.filter(_ % 10 == 7)
    assert(got.map(_._1).toSet === deltas)
    for (q <- deltas.toSeq.sorted.take(8)) {
      val qv = vecs(q)
      var visited = seeds
      for (_ <- 1 to SimilarityPack.hnswRounds) {
        val beam = visited.toSeq.sortBy(v => (-cos(qv, vecs(v)), v))
          .take(SimilarityPack.hnswBeam)
        visited = visited ++ beam.flatMap(v => graph.getOrElse(v, Set.empty))
      }
      val want = visited.toSeq.sortBy(v => (-cos(qv, vecs(v)), v))
        .take(SimilarityPack.hnswM)
        .zipWithIndex.map { case (v, i) => (q, i + 1, v, cos(qv, vecs(v))) }
      assert(got.filter(_._1 == q).toSeq === want)
    }
  }

  test("graft-range runtime filtering narrows the scan to the join's build keys") {
    val aqeKey = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(aqeKey)
    spark.conf.set(aqeKey, "false")
    try {
      val dim = spark.range(0, 40).filter(col("id") < 20)
        .select((col("id") * 7L + 3L).as("did"))
      val fact = spark.read.format("graft-range")
        .option("n", "100000").option("slices", "4").load()
      val joined = fact.join(dim, col("id") === col("did"))
        .agg(org.apache.spark.sql.functions.sum("sq").as("s"),
          org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n"))
      val row = joined.collect().head
      val want = (0L until 20L).map(i => i * 7L + 3L)
      assert((row.getLong(0), row.getLong(1)) === (want.map(i => i * i).sum, 20L))
      val scans = joined.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }
      val sc = scans.head.scan.asInstanceOf[graft.sources.GraftRangeScan]
      assert(sc.runtimeSet.map(_.toSeq) === Some(want))
    } finally spark.conf.set(aqeKey, prev)
  }

  test("graft-mem DELETE: metadata path for exact filters, row-level fallback otherwise") {
    import spark.implicits._
    spark.conf.set("spark.sql.catalog.graftmem",
      classOf[graft.sources.GraftMemCatalog].getName)
    val t = s"wave13_del_${System.nanoTime()}"
    Seq(("abc", 1L), ("xyz", 2L), ("xoo", 3L)).toDF("k", "v")
      .write.format("graft-mem").option("table", t).mode("append").save()
    spark.sql(s"DELETE FROM graftmem.$t WHERE k = 'abc'")
    assert(spark.read.format("graft-mem").option("table", t).load()
      .collect().map(_.getString(0)).sorted.toSeq === Seq("xoo", "xyz"))
    // the exact EqualTo went through the METADATA path (one journaled
    // 'delete' commit) — canDeleteWhere accepted it
    assert(graft.sources.GraftMemStore.commitsOf(t).map(_.kind) ===
      List("append", "delete"))
    // LIKE translates to StringStartsWith — canDeleteWhere REFUSES it
    // (the row predicate can't evaluate it exactly), and since the
    // table supports row-level operations Spark falls back to the
    // GROUP-BASED rewrite instead of failing: the delete still executes
    // correctly, as a journaled whole-table replace, never as a
    // silently-widened metadata delete. (Before SupportsRowLevelOperations
    // this statement threw — the fallback is the strictly better
    // contract: same refusal at the metadata layer, a correct plan on
    // top of it.)
    spark.sql(s"DELETE FROM graftmem.$t WHERE k LIKE 'x%'")
    assert(spark.read.format("graft-mem").option("table", t).load()
      .collect().map(_.getString(0)).toSeq === Seq.empty)
    assert(graft.sources.GraftMemStore.commitsOf(t).last.filters === "replace_delete")
  }

  test("graft-mem keyed upsert: one overwrite commit updates, inserts, and preserves") {
    import spark.implicits._
    import graft.sources.GraftMemStore
    spark.conf.set("spark.sql.catalog.graftmem",
      classOf[graft.sources.GraftMemCatalog].getName)
    val t = s"wave13_upsert_${System.nanoTime()}"
    Seq(("a", 1L), ("b", 2L), ("c", 3L)).toDF("k", "v")
      .write.format("graft-mem").option("table", t).mode("append").save()
    Seq(("b", 20L), ("d", 40L)).toDF("k", "v")
      .writeTo(s"graftmem.$t").overwrite(col("k").isin("b", "d"))
    val rows = spark.read.format("graft-mem").option("table", t).load()
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted
    assert(rows.toSeq === Seq(("a", 1L), ("b", 20L), ("c", 3L), ("d", 40L)))
    val commits = GraftMemStore.commitsOf(t)
    assert(commits.map(_.kind) === List("append", "overwrite"))
    assert(commits.last.deleted === 1 && commits.last.inserted === 2)
    // mode("overwrite") routes through truncate() = overwrite(AlwaysTrue)
    Seq(("z", 9L)).toDF("k", "v")
      .write.format("graft-mem").option("table", t).mode("overwrite").save()
    val after = spark.read.format("graft-mem").option("table", t).load().collect()
    assert(after.map(r => (r.getString(0), r.getLong(1))).toSeq === Seq(("z", 9L)))
  }

  test("q467 hierarchy invariants: nested layers, bounded apex, layer-local graph") {
    import graft.operators.SimilarityPack
    // geometric nesting: every apex member is a layer-1 member, so the
    // descent's entry points always exist in the layer below
    assert(SimilarityPack.hierL2Mod % SimilarityPack.hierL1Mod === 0L)
    val d = SparkTestSession.sfDir
    // the layer-1 graph references ONLY layer members on both endpoints
    val g1 = SimilarityPack.hnswLayerGraph(spark, d, SimilarityPack.hierL1Mod)
    val offLayer = g1.filter(
      org.apache.spark.sql.functions.pmod(col("src"),
        org.apache.spark.sql.functions.lit(SimilarityPack.hierL1Mod)) =!= 0 ||
      org.apache.spark.sql.functions.pmod(col("dst"),
        org.apache.spark.sql.functions.lit(SimilarityPack.hierL1Mod)) =!= 0).count()
    assert(offLayer === 0L, "layer-1 graph leaked non-member endpoints")
    // degree bound: HNSW's M holds per node
    val maxDeg = g1.groupBy("src").count()
      .agg(org.apache.spark.sql.functions.max("count")).head().getLong(0)
    assert(maxDeg <= SimilarityPack.hnswM)
    // end-to-end on the test corpus: hierarchical recall clears the
    // same floor the flat lane gates on
    assert(SimilarityPack.hnswHierRecallProbe(spark, d) >= 0.92)
  }

  test("q470 representative graph: no SemDeDup duplicate endpoint, degree <= M") {
    import graft.operators.SimilarityPack
    val d = SparkTestSession.sfDir
    val vecs = SimilarityPack.persistedVecs(spark, d)
    val dups = SimilarityPack.semDedupDups(spark, d, vecs)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val graph = SimilarityPack.hnswRepsGraph(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    vecs.unpersist()
    assert(dups.nonEmpty, "the test corpus must hold SemDeDup duplicates")
    assert(graph.nonEmpty)
    // the graph is built over representatives only: a deduped vector is
    // neither a source nor a neighbour
    val leaked = graph.filter { case (a, b) => dups(a) || dups(b) }
    assert(leaked.isEmpty, s"duplicate endpoints in the rep graph: ${leaked.take(5).toSeq}")
    // degree bound: HNSW's M holds per node
    assert(graph.groupBy(_._1).values.forall(_.length <= SimilarityPack.hnswM))
  }
}
