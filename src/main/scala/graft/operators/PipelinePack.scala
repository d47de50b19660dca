package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{QueryPack, Tables}
import graft.core.Pin.{checkpointed, materialized, warmed}
import graft.functions.TextFunctions._

/** Training-data pipeline policies layered ON TOP of the dedup primitives —
  * what a real corpus build runs after candidate pairs exist:
  *
  *   - q46 retention: given the near-dup graph (q43's pairs), drop every
  *     doc that has a strictly better partner (longer text, ties by lower
  *     doc_id) — the "keep best of each dup set" policy.
  *   - q47 cluster assignment: TRUE connected components over the
  *     near-dup graph — min-label propagation iterated to fixpoint (loop
  *     until zero labels change), so every component is labeled by its
  *     minimum doc_id no matter how long the dup chain. The oracle
  *     mirrors the converged answer with a recursive transitive-closure
  *     CTE.
  *   - q65 quality gate: the boolean filter chain (min/max length,
  *     type-token ratio) that decides which documents enter training at
  *     all.
  *
  * Scale design: retention and clustering consume the near-dup pair
  * table as a materialized artifact ([[DedupPack.ngramPairs]]) — built
  * once per corpus, read by every downstream stage — and are joins/
  * aggregations keyed on doc_id over that PAIR table, never over the
  * corpus cross product. Label propagation is the standard BSP
  * connected-components loop (each round one join + one min-aggregate,
  * hash-partitioned on the node id), checkpointed per round
  * ([[graft.core.Pin.checkpointed]]: executor-local blocks, or reliable
  * files whenever the context has a checkpoint dir) so lineage stays
  * flat however many rounds the graph's diameter needs.
  */
object PipelinePack extends QueryPack {

  /** Deterministic 80/10/10 split bucket of a doc id (md5 residue — the
    * q66 hash-bucket pattern; mirrored literally in the q144/q145
    * oracles). */
  private def splitOf(id: Column): Column = {
    val b = hex64(md5(concat(id.cast("string"), lit(":split")))) % 10
    when(b < 8, "train").when(b < 9, "val").otherwise("test")
  }

  /** DuckDB mirror of [[splitOf]] over an id column/expression. */
  private def splitSql(idCol: String = "doc_id") =
    s"""CASE WHEN ${hex64Sql(s"md5(CAST($idCol AS VARCHAR) || ':split')")} % 10 < 8 THEN 'train'
       |     WHEN ${hex64Sql(s"md5(CAST($idCol AS VARCHAR) || ':split')")} % 10 < 9 THEN 'val'
       |     ELSE 'test' END""".stripMargin

  private def symmetricEdges(pairs: DataFrame): DataFrame =
    pairs.select(col("doc_i").as("a"), col("doc_j").as("b"))
      .union(pairs.select(col("doc_j").as("a"), col("doc_i").as("b")))

  /** The q118/q328 word co-occurrence graph: one edge per ordered word
    * pair (a < b) adjacent in ≥ 3 documents — linear in corpus tokens
    * (adjacent bigrams, never within-doc all-pairs). */
  private[graft] def cooccurEdges(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(wordShinglesOf(col("toks"), 2)).as("bg"))
      .select(col("doc_id"),
        expr("split_part(bg, ' ', 1)").as("w1"),
        expr("split_part(bg, ' ', 2)").as("w2"))
      .where(col("w1") =!= col("w2"))
      .select(col("doc_id"),
        least(col("w1"), col("w2")).as("a"),
        greatest(col("w1"), col("w2")).as("b"))
      .distinct()
      .groupBy("a", "b").agg(count(lit(1)).as("n_docs"))
      .where(col("n_docs") >= 3)
      .select("a", "b")

  /** Per-word triangle participation over an ordered (a < b) edge list:
    * the compact-forward wedge-close join pair (scales by degree). */
  private[graft] def perWordTriangles(edges: DataFrame): DataFrame = {
    val tri = edges.as("e1")
      .join(edges.as("e2"),
        col("e1.a") === col("e2.a") && col("e1.b") < col("e2.b"))
      .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
      .join(edges.as("e3"),
        col("y") === col("e3.a") && col("z") === col("e3.b"))
      .select("x", "y", "z")
    tri.select(explode(array(col("x"), col("y"), col("z"))).as("w"))
      .groupBy("w").agg(count(lit(1)).cast("bigint").as("n_triangles"))
  }

  /** DuckDB mirror of [[connectedComponents]]: the `e`/`n`/`reach`/`lab`
    * CTEs over an edge CTE with columns `(doc_i, doc_j)` — recursive
    * transitive closure, then `lab(node, label)` = the min node id each
    * node reaches, the algorithm-independent converged CC truth. Needs
    * `WITH RECURSIVE`; no trailing comma.
    */
  private def ccLabelCtes(pairs: String): String =
    s"""e AS (SELECT doc_i AS v, doc_j AS u FROM $pairs
       |      UNION ALL SELECT doc_j, doc_i FROM $pairs),
       |n AS (SELECT DISTINCT v FROM e),
       |reach(v, u) AS (
       |  SELECT v, v AS u FROM n
       |  UNION
       |  SELECT r.v, e2.u FROM reach r JOIN e e2 ON e2.v = r.u),
       |lab AS (SELECT v AS node, min(u) AS label FROM reach GROUP BY v)""".stripMargin

  /** Connected components over a symmetric edge list `(v, u)` by
    * min-label propagation iterated to FIXPOINT: every round each node
    * takes the minimum label over its neighborhood (self-loop included),
    * so labels only decrease and the loop converges in graph-diameter
    * rounds to (node, label = min node id of its component) — for ANY
    * chain length. Each round is one join + one min-aggregate
    * (hash-partitioned on the node id); a per-round
    * [[graft.core.Pin.checkpointed]] (reliable when a checkpoint dir is
    * set) keeps lineage flat, and the convergence check is an exact
    * changed-label count. The returned frame is materialized
    * (checkpointed); the only CacheManager-tracked intermediate (adj) is
    * unpersisted before returning, and superseded rounds' checkpoint
    * blocks are reclaimed by the ContextCleaner once unreferenced.
    */
  def connectedComponents(e: DataFrame): DataFrame = {
    val nodes = e.select(col("v")).distinct()
    // self-loop so a round is a single uniform join + min-aggregate;
    // warm before the per-round branches fan out
    val adj = warmed(nodes.select(col("v"), col("v").as("u")).union(e))
    var labels = checkpointed(
      nodes.select(col("v").as("node"), col("v").as("label")))
    var changed = 1L
    while (changed > 0) {
      // the convergence check rides INSIDE the round's aggregate (r14
      // VERDICT #6, one fewer shuffle job per round): the self-loop row
      // (u = v) carries v's OWN previous label, so min-over-neighborhood
      // and previous-label come out of the same groupBy — the changed
      // count is then a plain scan of the checkpointed blocks instead of
      // a next ⋈ labels shuffle join per round.
      val next = checkpointed( // eager: runs the round, truncates lineage
        adj.join(labels, col("u") === col("node"))
          .groupBy(col("v")).agg(min(col("label")).as("label"),
            min(when(col("u") === col("v"), col("label"))).as("prev"))
          .withColumnRenamed("v", "node"))
      changed = next.filter(col("label") =!= col("prev")).count()
      // superseded rounds' checkpoint blocks are NOT CacheManager-tracked
      // (Dataset.unpersist would be a no-op on them); dropping the
      // reference lets the ContextCleaner reclaim them after GC — per
      // round the table is (node, label, prev), tiny next to the adj cache
      labels = next.select(col("node"), col("label"))
    }
    adj.unpersist()
    labels
  }

  /** Connected components by alternating HOOK + pointer-jumping
    * COMPRESS (the Shiloach–Vishkin 1982 scheme, as adapted to
    * MapReduce-style rounds by Kiveris et al., "Connected Components in
    * MapReduce and Beyond", SoCC 2014): each round first hooks every
    * node to the minimum parent in its closed neighborhood, then
    * compresses parent pointers one hop (p ← p∘p). Pointer jumping
    * halves tree depth per round, so convergence is O(log n) rounds
    * where [[connectedComponents]]' pure neighbor-min BSP needs
    * O(diameter) — the difference between ~40 and ~10 shuffle rounds on
    * a chain-heavy 100 TB near-dup graph. A genuinely different
    * algorithm with the same fixpoint, kept as a cross-check of the BSP
    * loop (both gate against the same recursive-closure oracle; a
    * property spec compares them on random graphs). Parent labels are
    * always existing node ids (mins of node ids), so the compress
    * self-join is total. Round cost: one edge join + one parent-table
    * self-join, both equi-keyed; the parent table is (node, label) —
    * tiny next to the edge cache.
    */
  def pointerJumpCC(e: DataFrame): DataFrame = {
    val adj = warmed(e) // warm before the per-round branches fan out
    var p = checkpointed(
      adj.groupBy(col("v")).agg(min(col("u")).as("mu"))
        .select(col("v").as("node"), least(col("v"), col("mu")).as("label")))
    var changed = 1L
    while (changed > 0) {
      // HOOK: parent ← min over {own parent} ∪ {neighbors' parents}
      val nbrMin = adj
        .join(p.select(col("node").as("u"), col("label").as("plbl")), "u")
        .groupBy(col("v")).agg(min(col("plbl")).as("nmin"))
      // pre-hook label rides along as `prev` so the convergence check is
      // a scan of the round's checkpointed blocks, not a next ⋈ p shuffle
      // join per round (same fusion as [[connectedComponents]])
      val hooked = p
        .join(nbrMin.withColumnRenamed("v", "node"), Seq("node"), "left")
        .select(col("node"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("label"),
          col("label").as("prev"))
      // COMPRESS: one pointer jump, p ← p(p)
      val next = checkpointed(
        hooked.as("c")
          .join(hooked.select(col("node").as("pn"), col("label").as("plbl")).as("g"),
            col("c.label") === col("pn"))
          .select(col("c.node").as("node"), col("plbl").as("label"),
            col("c.prev").as("prev")))
      changed = next.filter(col("label") =!= col("prev")).count()
      p = next.select(col("node"), col("label"))
    }
    adj.unpersist()
    p
  }

  /** Damped PageRank (Page et al., "The PageRank citation ranking",
    * 1999; damping 0.85) over a symmetric edge list `(v, u)` in int64
    * micro-units: every node starts at 1,000,000; each round a node
    * sends `score div degree` along each out-edge and collects
    * `150000 + (85 * sum(received)) div 100`. Integer division is
    * bit-identical across engines, so the result is deterministic with
    * no float-aggregation-order concerns ([[graft.PageRankModelSpec]]
    * checks the loop against an independent in-memory model). Each round
    * is one join + one sum-aggregate keyed on the node id; a per-round
    * [[graft.core.Pin.checkpointed]] (reliable when a checkpoint dir is
    * set) keeps lineage flat. Every node of a
    * symmetric graph has degree >= 1, so there is no dangling mass.
    */
  def pageRank(e: DataFrame, rounds: Int): DataFrame = {
    val deg = e.groupBy("v").agg(count(lit(1)).as("deg"))
    val adj = warmed(e.join(deg, "v")) // warm before the per-round branches fan out
    var rank = deg.select(col("v").as("node"), lit(1000000L).as("score_q"))
    for (_ <- 1 to rounds) {
      rank = checkpointed(
        adj.join(rank, col("v") === col("node"))
          .select(col("u"), expr("score_q div deg").as("c"))
          .groupBy(col("u"))
          .agg((lit(150000L) + expr("(85 * sum(c)) div 100")).as("score_q"))
          .withColumnRenamed("u", "node"))
    }
    adj.unpersist()
    rank
  }

  /** Synchronous label propagation (Raghavan, Albert & Kumara, "Near
    * linear time algorithm to detect community structures in
    * large-scale networks", Phys. Rev. E 2007), determinized: every
    * node starts labeled with its own id; each round every node adopts
    * the most frequent label among its neighbors' PREVIOUS-round
    * labels, ties to the smallest label (the paper breaks ties
    * randomly — a fixed total order makes the fixed-round result
    * engine-portable). Each round is one equi-join + a (node, label)
    * count + a per-node argmax as `min(struct(-count, label))` —
    * partial-aggregated end to end, no windows, so a hub node's
    * neighbor multiset collapses map-side before either shuffle. A
    * per-round [[graft.core.Pin.checkpointed]] keeps lineage flat.
    */
  def labelProp(e: DataFrame, rounds: Int): DataFrame = {
    val adj = warmed(e) // warm before the per-round branches fan out
    var lab = adj.select(col("v").as("node")).distinct()
      .select(col("node"), col("node").as("lbl"))
    for (_ <- 1 to rounds) {
      lab = checkpointed(
        adj.join(lab, col("v") === col("node"))
          .groupBy(col("u"), col("lbl")).agg(count(lit(1)).as("c"))
          .groupBy(col("u"))
          .agg(min(struct((-col("c")).as("nc"), col("lbl").as("l"))).as("m"))
          .select(col("u").as("node"), col("m.l").as("lbl")))
    }
    adj.unpersist()
    lab
  }

  /** Effective-token savings per source under a near-dup pair set: CC
    * clusters over `pairs` (doc_i, doc_j), q48's representative rule (max
    * n_chars, ties to the smaller doc_id; singletons represent
    * themselves), raw vs representative-only docs and tokens. Called by
    * q235 (shingle pairs) and q270 (weighted pairs). */
  private def effectiveTokens(s: SparkSession, d: String, pairs: DataFrame): DataFrame = {
    val cc = connectedComponents(symmetricEdges(pairs).toDF("v", "u"))
      .select(col("node").as("doc_id"), col("label").as("cl"))
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("n_chars"),
        size(graft.functions.TextFunctions.tokens(col("text")))
          .cast("bigint").as("n_toks"))
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    docs.join(cc, Seq("doc_id"), "left")
      .withColumn("cluster", coalesce(col("cl"), col("doc_id")))
      .withColumn("is_rep", row_number().over(w) === 1)
      .groupBy("source")
      .agg(count(lit(1)).cast("bigint").as("raw_docs"),
        sum("n_toks").cast("bigint").as("raw_tokens"),
        sum(when(col("is_rep"), 1L).otherwise(0L)).cast("bigint").as("eff_docs"),
        sum(when(col("is_rep"), col("n_toks")).otherwise(0L))
          .cast("bigint").as("eff_tokens"))
      .withColumn("savings_ppm",
        expr("(1000000 * (raw_tokens - eff_tokens)) div raw_tokens")
          .cast("bigint"))
      .orderBy("source")
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- dedup retention: drop docs with a strictly better near-dup ----
    "q46_dedup_retention" -> { (s, d) =>
      // the pair table is a materialized artifact: the symmetric-edge
      // union scans a tiny parquet twice — no persist, no cache lifecycle
      val pairs = DedupPack.ngramPairs(s, d).select("doc_i", "doc_j")
      val edges = symmetricEdges(pairs)
      val docs = Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
      val dropped = edges
        .join(docs.select(col("doc_id").as("a"), col("n_chars").as("len_a")), "a")
        .join(docs.select(col("doc_id").as("b"), col("n_chars").as("len_b")), "b")
        .filter(col("len_b") > col("len_a") ||
          (col("len_b") === col("len_a") && col("b") < col("a")))
        .select(col("a").as("doc_id")).distinct()
        .withColumn("dropped", lit(true))
      docs.join(dropped, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_chars"), col("dropped").isNull.as("kept"))
        .orderBy("doc_id")
    },

    // ---- dedup clusters: connected components to fixpoint (see
    // [[connectedComponents]]) over the materialized pair artifact ----
    "q47_dedup_clusters" -> { (s, d) =>
      val pairs = DedupPack.ngramPairs(s, d).select("doc_i", "doc_j")
      connectedComponents(symmetricEdges(pairs).toDF("v", "u"))
        .select(col("node").as("doc_id"), col("label").as("cluster"))
        .withColumn("cluster_size", count(lit(1)).over(Window.partitionBy(col("cluster"))))
        .orderBy("doc_id")
    },

    // ---- CROSS-SOURCE DUPLICATION MATRIX: near-dup pair counts by
    // (source, source) — the provenance view of the dup graph (intra-
    // source pairs = boilerplate within a crawl; cross-source pairs =
    // syndication/mirroring between feeds, the pairs that make source-
    // stratified splits leak, q145/q207). Shape: the shared pair
    // artifact joined twice against the doc→source map, folded to a
    // sources²-bounded matrix. ----
    "q348_cross_source_dups" -> { (s, d) =>
      val pairs = DedupPack.ngramPairs(s, d).select("doc_i", "doc_j")
      val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
      val result = pairs
        .join(src.select(col("doc_id").as("doc_i"), col("source").as("s_i")), "doc_i")
        .join(src.select(col("doc_id").as("doc_j"), col("source").as("s_j")), "doc_j")
        .select(least(col("s_i"), col("s_j")).as("source_a"),
          greatest(col("s_i"), col("s_j")).as("source_b"))
        .groupBy("source_a", "source_b")
        .agg(count(lit(1)).cast("bigint").as("n_pairs"))
        .withColumn("intra", col("source_a") === col("source_b"))
      result.orderBy("source_a", "source_b")
    },

    // ---- REP-RULE SURVIVORSHIP AUDIT: per near-dup cluster, which doc
    // survives under the two standard representative rules — smallest
    // id (stable/reproducible) vs longest text (information-preserving,
    // ties to smallest id) — and whether they AGREE. High disagreement
    // means the rep choice materially changes the released corpus and
    // deserves a policy decision, not a default (the q48 rule audited
    // rather than assumed). Shape: CC labels joined to doc lengths,
    // one components-sized argmax aggregate. ----
    "q343_rep_survivorship" -> { (s, d) =>
      val pairs = DedupPack.ngramPairs(s, d).select("doc_i", "doc_j")
      val lab = connectedComponents(symmetricEdges(pairs).toDF("v", "u"))
      val docs = Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
      val result = lab.join(docs, col("node") === col("doc_id"))
        .groupBy(col("label").as("cluster"))
        .agg(count(lit(1)).as("sz"),
          min("doc_id").as("rep_by_id"),
          max(struct(col("n_chars").as("a"), (-col("doc_id")).as("nb"))).as("m"))
        .select(col("cluster").cast("bigint").as("cluster"),
          col("sz").cast("bigint").as("cluster_size"),
          col("rep_by_id").cast("bigint").as("rep_by_id"),
          (-col("m.nb")).cast("bigint").as("rep_by_len"),
          (col("rep_by_id") === -col("m.nb")).as("agree"))
      result.orderBy("cluster")
    },

    // ---- NEAR-DUP CLUSTER-SIZE HISTOGRAM: the distribution of q47's
    // component sizes — the one-table answer to "is duplication a long
    // tail of pairs or a few viral mega-clusters", which decides the
    // rep-picking strategy (q48) and warns of the skew the q286
    // band-load audit sees on the LSH side. Exact-size rows (sizes are
    // few distinct values), n_docs = size × cluster count; singletons
    // are docs outside the pair graph (corpus minus Σ n_docs). Shape:
    // the shared CC labels collapse to a components-sized frame, then
    // a sizes-sized one. ----
    "q342_cluster_size_histogram" -> { (s, d) =>
      val pairs = DedupPack.ngramPairs(s, d).select("doc_i", "doc_j")
      val lab = connectedComponents(symmetricEdges(pairs).toDF("v", "u"))
      val result = lab.groupBy("label").agg(count(lit(1)).as("sz"))
        .groupBy("sz").agg(count(lit(1)).as("n_clusters"))
        .select(col("sz").cast("bigint").as("cluster_size"),
          col("n_clusters").cast("bigint").as("n_clusters"),
          (col("sz") * col("n_clusters")).cast("bigint").as("n_docs"))
      result.orderBy("cluster_size")
    },

    // ---- the SAME cluster assignment by a DIFFERENT algorithm:
    // pointer-jumping CC (see [[pointerJumpCC]] — O(log n) rounds vs
    // q47's O(diameter) BSP). Gated against the same converged
    // recursive-closure oracle, so the two implementations cross-check
    // each other at every scale the gate runs. ----
    "q222_cc_pointer_jump" -> { (s, d) =>
      val pairs = DedupPack.ngramPairs(s, d).select("doc_i", "doc_j")
      pointerJumpCC(symmetricEdges(pairs).toDF("v", "u"))
        .select(col("node").as("doc_id"), col("label").as("cluster"))
        .withColumn("cluster_size", count(lit(1)).over(Window.partitionBy(col("cluster"))))
        .orderBy("doc_id")
    },

    // ---- INCREMENTAL connected-components maintenance: a corpus that
    // ingests continuously cannot re-run CC over the full pair table on
    // every delta. The stored assignment collapses to its STAR GRAPH
    // (one node→label edge per node — at most n edges, depth 1), new
    // edges are a deterministic ~10% md5-hash slice standing in for the
    // latest ingest, and CC re-runs over star ∪ delta only. Labels are
    // component minima and every star edge links a node to a member of
    // its old component, so the merged result provably equals CC over
    // the FULL graph — which is exactly what the oracle computes
    // (ccClosureOracle, shared with q47/q222): the gate IS the
    // incremental == full proof at every scale it runs. At 100 TB the
    // star table is the stored artifact (q101's signature-store
    // discipline) and the recompute touches O(n + ‖delta‖) edges, never
    // the historical pair volume. ----
    "q224_cc_incremental" -> { (s, d) =>
      val pairs = DedupPack.ngramPairs(s, d).select("doc_i", "doc_j")
        .withColumn("is_delta",
          pmod(graft.functions.TextFunctions.hex64(md5(concat(
            col("doc_i").cast("string"), lit(":"), col("doc_j").cast("string")))),
            lit(10)) === 0)
      val base = pairs.filter(!col("is_delta")).select("doc_i", "doc_j")
      val delta = pairs.filter(col("is_delta")).select("doc_i", "doc_j")
      val stored = pointerJumpCC(symmetricEdges(base).toDF("v", "u"))
      val starEdges = stored.select(col("node").as("doc_i"), col("label").as("doc_j"))
      pointerJumpCC(symmetricEdges(starEdges.unionByName(delta)).toDF("v", "u"))
        .select(col("node").as("doc_id"), col("label").as("cluster"))
        .withColumn("cluster_size", count(lit(1)).over(Window.partitionBy(col("cluster"))))
        .orderBy("doc_id")
    },

    // ---- LEAKAGE-FREE train/val/test split: assignment by near-dup
    // CLUSTER, not by document — the curation practice that makes q207's
    // split-leakage audit come back clean BY CONSTRUCTION (a near-dup
    // pair can never straddle splits, because both members carry the
    // same cluster id and the split is a pure function of the cluster).
    // Docs with no near-dup edge are their own singleton cluster. The
    // 80/10/10 cut is the deterministic md5-bucket assignment (q180's
    // discipline), mirrored digit-for-digit in the oracle. One CC pass
    // (amortized: the q47 assignment is the reusable artifact) + one
    // hash per cluster — no per-doc randomness to leak or drift. ----
    "q225_cluster_split" -> { (s, d) =>
      val pairs = DedupPack.ngramPairs(s, d).select("doc_i", "doc_j")
      val labels = connectedComponents(symmetricEdges(pairs).toDF("v", "u"))
        .select(col("node").as("doc_id"), col("label").as("cluster"))
      Tables.documents(s, d).select(col("doc_id"))
        .join(labels, Seq("doc_id"), "left")
        .withColumn("cluster", coalesce(col("cluster"), col("doc_id")))
        .withColumn("h",
          pmod(graft.functions.TextFunctions.hex64(md5(concat(
            lit("split:"), col("cluster").cast("string")))), lit(10)))
        .withColumn("split",
          when(col("h") <= 7, lit("train"))
            .when(col("h") === 8, lit("val")).otherwise(lit("test")))
        .select(col("doc_id"), col("cluster"), col("split"))
        .orderBy("doc_id")
    },

    // ---- PageRank (5 rounds, damping 0.85) over the near-dup graph —
    // a graph-importance quality signal, and the second BSP-iterative
    // operator next to [[connectedComponents]]. All arithmetic is int64
    // micro-units: per-edge contribution `score div degree`, damping
    // `(85 * sum) div 100` — integer div is bit-identical across
    // engines, so the result is deterministic with NO float-aggregation
    // ordering concerns, and the oracle mirrors it with 5 unrolled CTE
    // rounds. Each round is one join + one sum-aggregate keyed on the
    // node id; localCheckpoint keeps lineage flat. Every node of the
    // symmetric graph has degree >= 1, so there is no dangling mass. ----
    "q55_pagerank" -> { (s, d) =>
      val pairs = DedupPack.ngramPairs(s, d).select("doc_i", "doc_j")
      pageRank(symmetricEdges(pairs).toDF("v", "u"), rounds = 5)
        .select(col("node").as("doc_id"), col("score_q"))
        .orderBy("doc_id")
    },

    // ---- PERSONALIZED PAGERANK / random walk with restart (Jeh &
    // Widom, WWW 2003) from the q155 contamination seed set (doc_id %
    // 7 == 0): where q55 scores GLOBAL importance and q155 answers
    // "how many hops", PPR measures STATIONARY influence — how much of
    // a walk restarting at the known-bad docs ends at each node, the
    // graded blast-radius score a curation pipeline thresholds when
    // deciding how far from confirmed contamination to cut. Teleport
    // mass lands ONLY on seeds (non-seeds start and restart at 0);
    // same int64 micro-unit arithmetic as q55 (per-edge `score div
    // deg`, damped `(85·sum) div 100` — bit-portable integer division),
    // 4 rounds, one equi-join + one map-side-combining sum each,
    // per-round localCheckpoint; the oracle unrolls the same rounds. ----
    "q442_ppr" -> { (s, d) =>
      val pairs = DedupPack.ngramPairs(s, d).select("doc_i", "doc_j")
      val e = symmetricEdges(pairs).toDF("v", "u")
      val deg = e.groupBy("v").agg(count(lit(1)).as("deg"))
      val adj = warmed(e.join(deg, "v"))
      var rank = deg.select(col("v").as("node"),
        when(col("v") % 7 === 0, lit(1000000L)).otherwise(lit(0L)).as("score_q"))
      for (_ <- 1 to 4) {
        rank = checkpointed(adj.join(rank, col("v") === col("node"))
          .select(col("u"), expr("score_q div deg").as("c"))
          .groupBy(col("u"))
          .agg(expr("(85 * sum(c)) div 100").as("m"))
          .select(col("u").as("node"),
            (col("m") + when(col("u") % 7 === 0, lit(150000L))
              .otherwise(lit(0L))).as("score_q")))
      }
      val result = rank.select(col("node").cast("bigint").as("doc_id"),
        col("score_q").cast("bigint").as("score_q"),
        (col("node") % 7 === 0).as("is_seed"))
      materialized(result, adj).orderBy("doc_id")
    },

    // ---- label-propagation communities (4 synchronous rounds) over
    // the same near-dup graph — the third BSP-iterative graph operator
    // next to PageRank and connected components. Where CC answers
    // "which docs are transitively linked at all", LPA's
    // frequency-weighted rule splits a weakly-bridged blob into its
    // dense cores — the structure SemDeDup-style curation actually
    // wants. Deterministic (min-label ties), so the oracle replays the
    // 4 rounds as unrolled CTEs. ----
    "q122_label_prop" -> { (s, d) =>
      val pairs = DedupPack.ngramPairs(s, d).select("doc_i", "doc_j")
      labelProp(symmetricEdges(pairs).toDF("v", "u"), rounds = 4)
        .select(col("node").as("doc_id"), col("lbl").as("community"))
        .orderBy("doc_id")
    },

    // ---- k-core peel (the fourth graph primitive next to CC/PageRank/
    // LPA): iteratively delete nodes of degree < k from the near-dup
    // graph — the dense-core extractor that strips pendant chains the
    // way LPA cannot. FIXED 4 peeling rounds (q122's pattern: the
    // oracle unrolls the same rounds; KCoreSpec asserts a 5th round is
    // a no-op on the gate corpus, so 4 IS the fixpoint there). Each
    // round is one map-side-combining degree count + two semi-joins on
    // int64 node ids — no windows, no all-pairs; per-round
    // localCheckpoint keeps lineage flat. Output: surviving nodes with
    // their in-core degree. ----
    "q141_kcore" -> { (s, d) =>
      val k = 2
      val rounds = 4
      val pairs = DedupPack.ngramPairs(s, d).select("doc_i", "doc_j")
      var edges = symmetricEdges(pairs).toDF("v", "u")
      for (_ <- 1 to rounds) {
        val keep = edges.groupBy("v").agg(count(lit(1)).as("deg"))
          .filter(col("deg") >= k).select("v")
        edges = checkpointed(edges
          .join(keep, "v")
          .join(keep.withColumnRenamed("v", "u"), "u"))
      }
      edges.groupBy("v").agg(count(lit(1)).cast("bigint").as("deg_in_core"))
        .select(col("v").cast("bigint").as("doc_id"), col("deg_in_core"))
        .orderBy("doc_id")
    },

    // ---- multi-source BFS hop distance (the fifth graph primitive):
    // distance-to-nearest-seed through the near-dup graph, 3
    // synchronous BSP rounds. The curation question it answers is
    // contamination BLAST RADIUS — "how many near-dup hops is each doc
    // from a known-bad seed set?" (seeds here: doc_id % 7 == 0, a
    // deterministic stand-in for a contaminated list). Each round is
    // one equi-join (edges x frontier dists) + one min-aggregate keyed
    // on int64 node ids — message-passing BFS, no frontier collect, no
    // all-pairs; per-round localCheckpoint keeps lineage flat. hops is
    // NULL for nodes unreached within 3 rounds. The oracle unrolls the
    // identical 3 rounds as CTEs. ----
    "q155_bfs_hops" -> { (s, d) =>
      val pairs = DedupPack.ngramPairs(s, d).select("doc_i", "doc_j")
      val edges = symmetricEdges(pairs).toDF("v", "u")
      var dist = edges.select(col("v")).distinct()
        .withColumn("hops", when(col("v") % 7 === 0, 0L))
      for (_ <- 1 to 3) {
        val msgs = edges
          .join(dist.select(col("v").as("u"), col("hops").as("nh")), "u")
          .filter(col("nh").isNotNull)
          .groupBy("v").agg(min(col("nh") + 1).as("cand"))
        dist = checkpointed(dist.join(msgs, Seq("v"), "left")
          .select(col("v"),
            when(col("hops").isNull, col("cand"))
              .when(col("cand").isNull, col("hops"))
              .otherwise(least(col("hops"), col("cand"))).as("hops")))
      }
      dist.select(col("v").cast("bigint").as("doc_id"),
                  col("hops").cast("bigint").as("hops"),
                  (col("v") % 7 === 0).as("is_seed"))
        .orderBy("doc_id")
    },

    // ---- HITS HUBS & AUTHORITIES (Kleinberg 1999, JACM 46(5)): the
    // mutually-reinforcing importance pair on the DIRECTED customer →
    // part co-purchase bipartite graph (edge = customer ever bought the
    // part) — the sixth BSP-iterative graph primitive, and the one
    // PageRank cannot replace: a part is authoritative when BROAD
    // buyers (hubs) pick it, a customer is a hub when they pick
    // authoritative parts. 2 synchronous rounds of the power iteration,
    // all int64: raw scores are exact sums of micro-unit scores over
    // in-/out-edges, and the per-half-step L∞ normalization is integer
    // `(1e6·raw) div max(raw)` — a broadcast join against a ONE-ROW max
    // frame (bounded per-round scalar, never a row-scale window), so
    // the fixed-round result is bit-identical across engines and the
    // oracle unrolls the same 2 rounds with scalar subqueries. Each
    // half-step is one equi-join on the edge key + a map-side-combining
    // sum — a hub's edge fan-in collapses before the shuffle. ----
    "q400_hits" -> { (s, d) =>
      val e = warmed(Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey").as("c"))
        .join(Tables.lineitem(s, d)
          .select(col("l_orderkey").as("o_orderkey"), col("l_partkey").as("p")),
          "o_orderkey")
        .select("c", "p").distinct())
      var h = e.select("c").distinct().withColumn("h", lit(1000000L))
      var a: DataFrame = null
      // checkpoint the RAW half-step sums, not the normalized scores:
      // the L∞ max is a scalar probe of the same frame, and with the
      // checkpoint after normalization the broadcast(max) subtree
      // re-executed the full e-join — each half-step paid the edge join
      // TWICE (guide §7.2, duplicated subtrees). Checkpointing `ar`/`hr`
      // makes the max probe and the normalized projection both read the
      // stored blocks: 4 edge joins per query instead of 8, scores
      // unchanged (identical integer math).
      for (_ <- 1 to 2) {
        val ar = checkpointed(e.join(h, "c").groupBy("p").agg(sum("h").as("raw")))
        val amax = ar.agg(max("raw").as("mx"))
        a = ar.crossJoin(broadcast(amax))
          .select(col("p"), expr("(1000000 * raw) div mx").as("a"))
        val hr = checkpointed(e.join(a, "p").groupBy("c").agg(sum("a").as("raw")))
        val hmax = hr.agg(max("raw").as("mx"))
        h = hr.crossJoin(broadcast(hmax))
          .select(col("c"), expr("(1000000 * raw) div mx").as("h"))
      }
      val result = a.select(lit("auth").as("entity"),
          col("p").cast("bigint").as("id"), col("a").cast("bigint").as("score_q"))
        .unionByName(h.select(lit("hub").as("entity"),
          col("c").cast("bigint").as("id"), col("h").cast("bigint").as("score_q")))
      materialized(result, e).orderBy("entity", "id")
    },

    // ---- CURRICULUM INTERLEAVE SCHEDULE (Bengio et al. 2009
    // "Curriculum learning" + the source-balanced batch mixing every
    // large LM run does): a deterministic global training order that
    // is (a) easy-to-hard WITHIN each source (here: n_chars as the
    // difficulty proxy, unique doc_id tiebreak) and (b) round-robin
    // ACROSS sources, so no batch prefix is ever single-source. The
    // per-source rank is the keyed distributed PrefixSum (the q150
    // lesson — a per-source row_number window would funnel each
    // source's corpus through one task), the source index is a window
    // over the SOURCE VOCABULARY (bounded), and the interleaved
    // position is pure rank arithmetic: (rk-1)·K + src_idx. Positions
    // of unequal-size sources leave holes once a source is exhausted —
    // the schedule is a priority, not a dense array index. Plan
    // REQUIRE: every window is __pid-partitioned or source-vocab-only.
    // ----
    "q405_curriculum" -> { (s, d) =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("n_chars"))
      val ranked = graft.functions.PrefixSum.inclusivePerKey(docs,
        Seq("source"), Seq(col("n_chars"), col("doc_id")),
        Seq((lit(1L), "rk")))
      val srcs = docs.select("source").distinct()
      val idx = srcs.withColumn("src_idx",
        row_number().over(Window.orderBy("source")).cast("bigint") - 1)
      val k = idx.agg(count(lit(1)).as("k"))
      val result = ranked.join(broadcast(idx), "source").crossJoin(broadcast(k))
        .withColumn("position", expr("(rk - 1) * k + src_idx"))
        .select(col("doc_id"), col("source"),
          col("rk").cast("bigint").as("rk"),
          col("src_idx").cast("bigint").as("src_idx"),
          col("position").cast("bigint").as("position"))
      locally {
        import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
        val wins = result.queryExecution.optimizedPlan.collect { case w: LWindow => w }
        require(wins.forall { w =>
          val refs = (w.partitionSpec ++ w.orderSpec).flatMap(_.references.toSeq).map(_.name).toSet
          refs.contains("__pid") || refs.subsetOf(Set("source"))
        }, "q405: a row-scale window appeared outside the PrefixSum/vocab frames")
      }
      result.orderBy("position", "doc_id")
    },

    // ---- cluster representatives: the terminal dedup-pipeline output.
    // Every doc gets its connected-component label (singletons label
    // themselves) and each cluster elects ONE representative — longest
    // text, ties by lowest doc_id (q46's retention policy applied
    // cluster-globally rather than pairwise). The per-cluster window is
    // keyed on the cluster label, so at 100 TB it shuffles once on a key
    // whose cardinality ~= corpus size (clusters are tiny). ----
    "q48_cluster_reps" -> { (s, d) =>
      val pairs = DedupPack.ngramPairs(s, d).select("doc_i", "doc_j")
      val cc = connectedComponents(symmetricEdges(pairs).toDF("v", "u"))
        .select(col("node").as("doc_id"), col("label").as("cl"))
      val docs = Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
      val w = Window.partitionBy(col("cluster"))
        .orderBy(col("n_chars").desc, col("doc_id"))
      docs.join(cc, Seq("doc_id"), "left")
        .withColumn("cluster", coalesce(col("cl"), col("doc_id")))
        .withColumn("is_rep", row_number().over(w) === 1)
        .select("doc_id", "cluster", "n_chars", "is_rep")
        .orderBy("doc_id")
    },

    // ---- CORPUS RELEASE REPORT — the one-page release gate a corpus
    // build publishes (q58's manifest gives per-document verdicts;
    // this is the corpus-level scoreboard): volumes raw and effective
    // (q235's rep rule), the cluster-split sizes (q225's assignment),
    // the additive content checksum (q226), and the leakage PROOF —
    // cross-split near-dup pairs under a naive per-DOC hash split vs
    // under the cluster-aware split, where the second row is 0 BY
    // CONSTRUCTION (both members of any pair share a cluster, hence a
    // split). One (metric, value) table, every number assembled from
    // the established bounded constructions. ----
    "q249_release_report" -> { (s, d) =>
      val pairs = DedupPack.ngramPairs(s, d).select("doc_i", "doc_j")
      val cc = connectedComponents(symmetricEdges(pairs).toDF("v", "u"))
        .select(col("node").as("doc_id"), col("label").as("cl"))
      val docs = warmed(Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars"),
          size(graft.functions.TextFunctions.tokens(col("text")))
            .cast("bigint").as("n_toks"),
          graft.functions.TextFunctions.hex64(md5(col("text"))).as("h"))
        .join(cc, Seq("doc_id"), "left")
        .withColumn("cluster", coalesce(col("cl"), col("doc_id")))
        .withColumn("doc_split",
          pmod(graft.functions.TextFunctions.hex64(md5(concat(lit("split:"),
            col("doc_id").cast("string")))), lit(10)))
        .withColumn("cl_split",
          pmod(graft.functions.TextFunctions.hex64(md5(concat(lit("split:"),
            col("cluster").cast("string")))), lit(10))))
      val w = Window.partitionBy(col("cluster"))
        .orderBy(col("n_chars").desc, col("doc_id"))
      val flagged = docs.withColumn("is_rep", row_number().over(w) === 1)
      def leak(splitCol: String) = pairs
        .join(docs.select(col("doc_id").as("doc_i"), col(splitCol).as("sa")), "doc_i")
        .join(docs.select(col("doc_id").as("doc_j"), col(splitCol).as("sb")), "doc_j")
        .filter(col("sa") =!= col("sb"))
        .agg(count(lit(1)).as("v"))
      def m(name: String, df: DataFrame) =
        df.select(lit(name).as("metric"), col("v").cast("bigint").as("value"))
      val out = Seq(
        m("01_n_docs", docs.agg(count(lit(1)).as("v"))),
        m("02_n_tokens", docs.agg(sum("n_toks").as("v"))),
        m("03_n_tokens_effective",
          flagged.filter(col("is_rep")).agg(sum("n_toks").as("v"))),
        m("04_dedup_savings_ppm", flagged
          .agg(sum("n_toks").as("t"),
            sum(when(col("is_rep"), col("n_toks")).otherwise(0L)).as("e"))
          .select(expr("(1000000 * (t - e)) div t").as("v"))),
        m("05_n_docs_train",
          docs.filter(col("cl_split") <= 7).agg(count(lit(1)).as("v"))),
        m("06_n_docs_val",
          docs.filter(col("cl_split") === 8).agg(count(lit(1)).as("v"))),
        m("07_n_docs_test",
          docs.filter(col("cl_split") === 9).agg(count(lit(1)).as("v"))),
        m("08_leakage_pairs_doc_split", leak("doc_split")),
        m("09_leakage_pairs_cluster_split", leak("cl_split")),
        m("10_corpus_checksum", docs
          .agg(sum(expr("cast(h as decimal(38,0))")).as("s"))
          .select(expr("cast(s % 1152921504606846976 as bigint)").as("v")))
      ).reduce(_ unionByName _)
      materialized(out, docs).orderBy("metric")
    },

    // ---- CLUSTER CHAINING AUDIT: connected-components dedup has a
    // known failure mode — transitive CHAINS merge documents that are
    // not pairwise similar (A~B, B~C, but A≁C), so a cluster's
    // representative can silently stand in for docs it barely
    // resembles. Per cluster: direct near-dup edges vs the k·(k−1)/2
    // of a clique, missing fraction in exact ppm — missing_ppm = 0 is
    // a clique (safe to collapse), high values flag chained blobs that
    // LPA (q122) should split instead. Bounded output (one row per
    // multi-doc cluster); one artifact scan + the shared CC pass. ----
    "q242_chain_audit" -> { (s, d) =>
      val pairs = DedupPack.ngramPairs(s, d).select("doc_i", "doc_j")
      val cc = connectedComponents(symmetricEdges(pairs).toDF("v", "u"))
        .select(col("node").as("doc_id"), col("label").as("cluster"))
      val sizes = cc.groupBy("cluster").agg(count(lit(1)).as("k"))
      val direct = pairs
        .join(cc.select(col("doc_id").as("doc_i"), col("cluster")), "doc_i")
        .groupBy("cluster").agg(count(lit(1)).as("n_direct"))
      sizes.join(direct, Seq("cluster"), "left")
        .withColumn("n_direct", coalesce(col("n_direct"), lit(0L)))
        .withColumn("n_possible", expr("k * (k - 1) div 2"))
        .withColumn("missing_ppm",
          expr("(1000000 * (n_possible - n_direct)) div n_possible"))
        .select(col("cluster").cast("bigint").as("cluster"),
          col("k").cast("bigint").as("k"),
          col("n_direct").cast("bigint").as("n_direct"),
          col("n_possible").cast("bigint").as("n_possible"),
          col("missing_ppm").cast("bigint").as("missing_ppm"))
        .orderBy("cluster")
    },

    // ---- EFFECTIVE-TOKEN DEDUP SAVINGS: the headline number of every
    // dedup report — raw vs post-dedup token volume per source, where
    // "post-dedup" keeps exactly each near-dup cluster's representative
    // under q48's election rule (max n_chars, ties to the smaller
    // doc_id; singletons represent themselves). This is the number that
    // justifies the dedup stage's existence to a training-budget owner:
    // how many tokens of the 100 TB corpus are actually NEW content.
    // One CC pass (shared construction with q47/q48) + a per-cluster
    // rank + a sources-sized aggregate. ----
    "q235_effective_tokens" -> { (s, d) =>
      effectiveTokens(s, d, DedupPack.ngramPairs(s, d).select("doc_i", "doc_j"))
    },

    // ---- q235 UNDER THE WEIGHTED PAIR SET: effective-token savings
    // when near-dup clusters come from tf-idf-weighted resemblance
    // (q252's pairs) instead of plain shingle Jaccard — the comparison
    // a curation team runs to decide whether weighting changes the
    // dedup verdict enough to matter on a boilerplate-heavy corpus.
    // Same CC pass, same q48 representative rule, same fold; only the
    // edge set differs. ----
    "q270_weighted_effective_tokens" -> { (s, d) =>
      effectiveTokens(s, d, DedupPack.weightedScoredPairs(s, d).select("doc_i", "doc_j"))
    },

    // ---- benchmark contamination: n-gram overlap between a held-out
    // eval slice (doc_id % 97 == 0 stands in for an external benchmark
    // set) and the training pool. Candidates come from an inverted-index
    // equi-join on int64 shingle ids — never a doc×doc product — and the
    // per-doc shingle sets are pre-distinct'd, so the join output IS the
    // distinct shared-gram count. At 100 TB the (small) benchmark side
    // broadcasts. ----
    "q49_contamination" -> { (s, d) =>
      // the per-doc distinct shingle sets are the same materialized
      // artifact the pair build consumes ([[DedupPack.docShingles]])
      val sh = DedupPack.docShingles(s, d)
      val evalSids = sh.filter(col("doc_id") % 97 === 0).select("sid").distinct()
      sh.filter(col("doc_id") % 97 =!= 0)
        .join(evalSids, "sid")
        .groupBy("doc_id").agg(count(lit(1)).as("n_shared_grams"))
        .orderBy("doc_id")
    },

    // ---- train/test split NEAR-DUP leakage audit (the Lee et al. ACL
    // 2022 finding operationalized: exact-split hygiene is not enough —
    // a test doc whose near-duplicate sits in train is memorizable
    // without a single exact n-gram crossing): assign the portable
    // doc_id%10 split (0–7 train / 8 val / 9 test, the q76/q119 integer-
    // split precedent), then read the SHARED near-dup pair artifact
    // ([[DedupPack.ngramPairs]]) at Jaccard ≥ 0.5 and count, per eval
    // split, the distinct eval docs with a train-side neighbor. Cost
    // beyond the artifact: one scan of the (tiny) surviving-pair table
    // + a 3-row split-size aggregate — the audit is effectively free
    // once the dedup pass has run, which is exactly how a production
    // pipeline should schedule it. ----
    "q207_split_leakage" -> { (s, d) =>
      val split = (c: org.apache.spark.sql.Column) =>
        when(c % 10 <= 7, "train").when(c % 10 === 8, "val").otherwise("test")
      val sizes = Tables.documents(s, d)
        .select(split(col("doc_id")).as("split"))
        .groupBy("split").agg(count(lit(1)).as("n_docs"))
      val p = DedupPack.ngramPairs(s, d)
        .filter(col("jaccard") >= 0.5)
        .select(col("doc_i"), col("doc_j"),
          split(col("doc_i")).as("split_i"), split(col("doc_j")).as("split_j"))
      val leaks = p
        .filter(col("split_i") === "train" && col("split_j") =!= "train")
        .select(col("split_j").as("split"), col("doc_j").as("doc_id"))
        .unionByName(p
          .filter(col("split_j") === "train" && col("split_i") =!= "train")
          .select(col("split_i").as("split"), col("doc_i").as("doc_id")))
      val agg = leaks.groupBy("split")
        .agg(countDistinct("doc_id").as("n_leaked"), count(lit(1)).as("n_pairs"))
      val result = sizes.filter(col("split") =!= "train")
        .join(agg, Seq("split"), "left_outer")
        .select(col("split"), col("n_docs").cast("bigint").as("n_docs"),
          coalesce(col("n_leaked"), lit(0L)).cast("bigint").as("n_leaked"),
          coalesce(col("n_pairs"), lit(0L)).cast("bigint").as("n_cross_pairs"),
          expr("(1000000 * coalesce(n_leaked, 0)) div n_docs")
            .cast("bigint").as("leak_rate_q"))
      result.orderBy("split")
    },

    // ---- KMV SET-RESEMBLANCE MATRIX (Broder 1997's minwise
    // resemblance via the k-minimum-values synopsis, Beyer et al.
    // SIGMOD 2007): pairwise VOCABULARY Jaccard between sources,
    // estimated from 64-value sketches and gated NEXT TO the exact
    // answer — where q127 measures shingle overlap exactly and q228
    // sizes a join, this is the constant-memory set-resemblance path:
    // at 100 TB the per-source sketch is 64 int64s however large the
    // vocabulary, pairs cost sources²·k, and the estimator ĵ =
    // |K_k(A∪B) ∩ A_k ∩ B_k| / k is exact-integer off md5 hashes (hash
    // ties broken by token — both engines order identically). The
    // exact lane (one token equi-join, sources²-bounded) sits in the
    // same row so the gate pins estimator AND truth; err_ppm is the
    // honest sketch-error report. ----
    "q443_kmv_jaccard" -> { (s, d) =>
      import graft.functions.TextFunctions.hex64
      val kk = 64
      val vocab = warmed(Tables.documents(s, d)
        .select(col("source"), explode(tokens(col("text"))).as("w"))
        .distinct()
        .withColumn("h", hex64(md5(col("w")))))
      val wSk = Window.partitionBy("source").orderBy(col("h"), col("w"))
      val sk = vocab.withColumn("rn", row_number().over(wSk))
        .filter(col("rn") <= kk).select(col("source"), col("h"), col("w"))
      val srcs = vocab.select("source").distinct()
      val pairsS = srcs.toDF("src_a").crossJoin(srcs.toDF("src_b"))
        .filter(col("src_a") < col("src_b"))
      val tagged = pairsS
        .join(sk.withColumnRenamed("source", "src_a"), "src_a")
        .select(col("src_a"), col("src_b"), col("h"), col("w"),
          lit(1L).as("ina"), lit(0L).as("inb"))
        .unionByName(pairsS
          .join(sk.withColumnRenamed("source", "src_b"), "src_b")
          .select(col("src_a"), col("src_b"), col("h"), col("w"),
            lit(0L).as("ina"), lit(1L).as("inb")))
      val merged = tagged.groupBy("src_a", "src_b", "h", "w")
        .agg(max("ina").as("ina"), max("inb").as("inb"))
      val wM = Window.partitionBy("src_a", "src_b").orderBy(col("h"), col("w"))
      val est = merged.withColumn("rn", row_number().over(wM))
        .filter(col("rn") <= kk)
        .groupBy("src_a", "src_b")
        .agg(count(lit(1)).as("k_used"), sum(col("ina") * col("inb")).as("n_both"))
      val nv = vocab.groupBy("source").agg(count(lit(1)).as("nv"))
      val inter = vocab.select(col("source").as("src_a"), col("w"))
        .join(vocab.select(col("source").as("src_b"), col("w")), "w")
        .filter(col("src_a") < col("src_b"))
        .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_inter"))
      val result = est
        .join(nv.toDF("src_a", "nva"), "src_a")
        .join(nv.toDF("src_b", "nvb"), "src_b")
        .join(inter, Seq("src_a", "src_b"), "left")
        .withColumn("n_inter", coalesce(col("n_inter"), lit(0L)))
        .withColumn("n_union", col("nva") + col("nvb") - col("n_inter"))
        .select(col("src_a"), col("src_b"),
          col("k_used").cast("bigint").as("k_used"),
          col("n_both").cast("bigint").as("n_both"),
          expr("(1000000 * n_both) div k_used").cast("bigint").as("j_est_ppm"),
          expr("(1000000 * n_inter) div n_union").cast("bigint").as("j_exact_ppm"))
        .withColumn("err_ppm", abs(col("j_est_ppm") - col("j_exact_ppm")))
      materialized(result, vocab).orderBy("src_a", "src_b")
    },

    // ---- inter-source overlap matrix: pairwise shingle Jaccard
    // between SOURCES — the corpus-health view of cross-source
    // duplication (a crawl snapshot re-ingested under two source tags
    // shows up as a hot cell). Reuses the [[DedupPack.docShingles]]
    // artifact; candidates come from the sid equi-join, and a shingle
    // present in k sources contributes k(k-1)/2 pair rows — bounded by
    // sources², never docs². The per-source distinct counts are a
    // 20-row frame, broadcast back. ----
    "q127_source_overlap" -> { (s, d) =>
      val srcSh = DedupPack.docShingles(s, d)
        .join(Tables.documents(s, d).select(col("doc_id"), col("source")), "doc_id")
        .select(col("source"), col("sid")).distinct()
      val perSrc = srcSh.groupBy("source").agg(count(lit(1)).as("n"))
      val shared = srcSh.toDF("source_i", "sid")
        .join(srcSh.toDF("source_j", "sid"), "sid")
        .filter(col("source_i") < col("source_j"))
        .groupBy("source_i", "source_j").agg(count(lit(1)).as("n_shared"))
      shared
        .join(broadcast(perSrc.toDF("source_i", "n_i")), "source_i")
        .join(broadcast(perSrc.toDF("source_j", "n_j")), "source_j")
        .withColumn("jaccard", col("n_shared").cast("double") /
          (col("n_i") + col("n_j") - col("n_shared")).cast("double"))
        .select("source_i", "source_j", "n_shared", "n_i", "n_j", "jaccard")
        .orderBy("source_i", "source_j")
    },

    // ---- training-mix sampling: deterministic per-stratum hash sample.
    // Each doc lands in a stable [0,100) bucket via hex64(md5(id:salt));
    // per-language rates (en 50%, others 20%) pick the training mix.
    // Deterministic and engine-portable, unlike rand()-based sampling;
    // at 100 TB this is a narrow scan-side filter, no shuffle at all. ----
    "q66_sample_stratified" -> { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          (hex64(md5(concat(col("doc_id").cast("string"), lit(":mix1")))) % 100)
            .as("bucket"))
        .filter(col("bucket") < when(col("lang") === "en", 50).otherwise(20))
        .orderBy("doc_id")
    },

    // ---- fixed-size weighted sampling: priority sampling (Duffield,
    // Lund & Thorup, "Priority sampling for estimation of arbitrary
    // subset sums", JACM 2007). Each doc gets priority w/u with weight
    // w = n_chars and u a deterministic uniform from its id hash (u =
    // h/2^60, h in 1..2^60); the per-source sample is the top-20 by
    // priority. Unlike q66's Bernoulli rates this yields an EXACT
    // sample size per stratum with inclusion probability proportional
    // to size. Determinism across engines: priority = w * 2^60 / h is
    // two correctly-rounded IEEE double ops on exact integers —
    // bit-identical in Spark and DuckDB. Scale shape: the rank<=k
    // window triggers Spark's WindowGroupLimit pushdown (partial
    // per-partition top-k before the stratum shuffle), so the exchange
    // carries ~k rows per partition per source, not the corpus. ----
    "q124_priority_sample" -> { (s, d) =>
      val k = 20
      val pow60 = lit(1152921504606846976L) // 2^60
      val byPriority = Window.partitionBy(col("source"))
        .orderBy(col("priority").desc, col("doc_id"))
      val result = Tables.documents(s, d)
        .select(col("source"), col("doc_id"), col("n_chars"),
          (hex64(md5(concat(col("doc_id").cast("string"), lit(":ps1")))) + 1).as("hv"))
        .select(col("source"), col("doc_id"), col("n_chars"),
          (col("n_chars").cast("double") * pow60.cast("double") /
            col("hv").cast("double")).as("priority"))
        .withColumn("rk", row_number().over(byPriority).cast("bigint"))
        .filter(col("rk") <= k)
      // Plan REQUIRE (r7 verdict item 5): the CONSTANT-k rank filter must
      // plan as WindowGroupLimit — the partial per-partition top-k that
      // keeps each task's state at k rows instead of sorting a source's
      // full corpus before the filter. A Spark upgrade or a rewrite that
      // makes k non-constant would silently lose the partial and revert
      // to the row-scale window this query's scale story depends on.
      locally {
        val plan = result.queryExecution.executedPlan.toString
        require(plan.contains("WindowGroupLimit"),
          s"q124: constant-k rank filter must plan a WindowGroupLimit partial top-k; got:\n${plan.take(1200)}")
      }
      result.orderBy("source", "rk")
    },

    // ---- mixture weights: per-language upsampling factors that turn the
    // corpus's ACTUAL language mix into the TARGET training mix (en 40%,
    // others 15% each), plus the token budget each language contributes
    // after reweighting. One tiny aggregate over a corpus scan — the
    // total is a broadcast-joined 1-row frame, not a window. ----
    "q75_mixture_weights" -> { (s, d) =>
      val per = Tables.documents(s, d)
        .select(col("lang"), size(tokens(col("text"))).cast("bigint").as("n_toks"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
      val total = per.agg(sum(col("n_docs")).as("total_docs"))
      val targetShare = when(col("lang") === "en", lit(0.4)).otherwise(lit(0.15))
      per.crossJoin(broadcast(total))
        .withColumn("actual_share",
          col("n_docs").cast("double") / col("total_docs").cast("double"))
        .withColumn("target_share", targetShare)
        .withColumn("weight", col("target_share") / col("actual_share"))
        .withColumn("expected_tokens", col("weight") * col("n_tokens").cast("double"))
        .select("lang", "n_docs", "n_tokens", "actual_share", "target_share",
          "weight", "expected_tokens")
        .orderBy("lang")
    },

    // ---- TEMPERATURE-SAMPLED language mix (the multilingual
    // upsampling rule of XLM-R/mT5: p_l ∝ n_l^α, flattening the
    // language distribution so low-resource languages aren't drowned;
    // α = 1/2 here because sqrt is IEEE-exactly-rounded in BOTH engines
    // — pow(x, 0.3) is not, and a ULP of divergence would hash-fail).
    // sqrt(n) is floor-quantized to int64 micro-units BEFORE the
    // normalizing sum, so the renormalization is exact integer ppm
    // arithmetic: the languages-sized frame broadcasts, nothing
    // depends on float summation order. q75's target-mix sibling. ----
    "q257_temperature_mix" -> { (s, d) =>
      val per = Tables.documents(s, d).groupBy("lang")
        .agg(count(lit(1)).as("n_docs"))
      val sq = per.withColumn("sq_q",
        floor(sqrt(col("n_docs").cast("double")) * lit(1e6)).cast("bigint"))
      val tot = sq.agg(sum("n_docs").as("n_tot"), sum("sq_q").as("sq_tot"))
      sq.crossJoin(broadcast(tot))
        .select(col("lang"), col("n_docs").cast("bigint").as("n_docs"),
          expr("n_docs * 1000000 div n_tot").cast("bigint").as("natural_ppm"),
          expr("sq_q * 1000000 div sq_tot").cast("bigint").as("temp_prob_ppm"))
        .withColumn("upsampled", col("temp_prob_ppm") > col("natural_ppm"))
        .orderBy("lang")
    },

    // ---- CROSS-SOURCE COPY-DIRECTION MATRIX: q127 measures how much
    // content two sources SHARE; this reports which way it flowed —
    // for every cross-source near-dup pair (the shared shingle-pair
    // artifact, Jaccard ≥ 0.5), the lower doc_id is the origin (crawl
    // order is the ingest-time proxy; a real pipeline uses fetch
    // timestamps on the same shape). Per (origin_source, copy_source):
    // pair count and distinct copied docs — the provenance table that
    // tells a curation team which feeds are mirrors/scrapes of which.
    // Bounded output (≤ sources²); one artifact scan + two dim joins. ----
    "q233_copy_direction" -> { (s, d) =>
      val pairs = DedupPack.ngramPairs(s, d).select("doc_i", "doc_j")
      val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
      pairs
        .join(src.select(col("doc_id").as("doc_i"),
          col("source").as("origin_source")), "doc_i")
        .join(src.select(col("doc_id").as("doc_j"),
          col("source").as("copy_source")), "doc_j")
        .filter(col("origin_source") =!= col("copy_source"))
        .groupBy("origin_source", "copy_source")
        .agg(count(lit(1)).cast("bigint").as("n_pairs"),
          countDistinct(col("doc_j")).cast("bigint").as("n_copied_docs"))
        .orderBy("origin_source", "copy_source")
    },

    // ---- EXACT BUDGET APPORTIONMENT (largest-remainder / Hamilton
    // method — the apportionment scheme with no population paradox at
    // fixed budget): allocate a global sample budget of 1000 slots
    // across sources proportionally to doc counts, in pure integers —
    // base quota = (N·c_i) div C, then the leftover slots go +1 each to
    // the largest remainders (ties to the smaller source name). The
    // allocation step between q75's mixture weights (what share) and
    // q124's priority sampling (which docs): Σ alloc = N EXACTLY, no
    // float shares to mis-round. Shape: one corpus aggregate to a
    // sources-sized frame; the remainder rank is a window over that
    // bounded frame. ----
    "q231_budget_apportion" -> { (s, d) =>
      val budget = 1000L
      val per = Tables.documents(s, d)
        .groupBy("source").agg(count(lit(1)).as("n_docs"))
      val total = per.agg(sum("n_docs").as("total_docs"),
        count(lit(1)).as("n_sources"))
      val q = per.crossJoin(broadcast(total))
        .withColumn("base_quota", expr(s"($budget * n_docs) div total_docs"))
        .withColumn("rem", expr(s"($budget * n_docs) % total_docs"))
      val leftW = Window.orderBy(desc("rem"), asc("source"))
      q.withColumn("rem_rank", row_number().over(leftW))
        .withColumn("n_left",
          expr(s"$budget - sum(base_quota) over ()"))
        .withColumn("extra",
          when(col("rem_rank") <= col("n_left"), 1L).otherwise(0L))
        .select(col("source"),
          col("n_docs").cast("bigint").as("n_docs"),
          col("base_quota").cast("bigint").as("base_quota"),
          col("extra").cast("bigint").as("extra"),
          (col("base_quota") + col("extra")).cast("bigint").as("alloc"))
        .orderBy("source")
    },

    // ---- train/val/test split manifest: the deterministic 80/10/10
    // hash split (q66's bucket pattern — never random()) with the
    // per-split volume report a corpus build publishes. One scan, a
    // splits-sized aggregate. ----
    "q144_split_manifest" -> { (s, d) =>
      Tables.documents(s, d)
        .select(splitOf(col("doc_id")).as("split"),
          size(tokens(col("text"))).cast("bigint").as("n"))
        .groupBy("split")
        .agg(count(lit(1)).cast("bigint").as("n_docs"),
             sum("n").cast("bigint").as("n_tokens"))
        .orderBy("split")
    },

    // ---- cross-split leakage audit: NEAR-dup pairs (the shared shingle
    // pair artifact, tightened to Jaccard ≥ 0.5) whose two docs land in
    // DIFFERENT splits — the doc-level test-set contamination q133
    // measures at span level, and the reason dedup must run BEFORE
    // splitting (this corpus has zero EXACT dups, so md5-level leakage
    // would gate vacuously — near-dup leakage is the live failure
    // mode). Cost: one pass over the bounded pair table. ----
    "q145_split_leakage" -> { (s, d) =>
      DedupPack.ngramPairs(s, d)
        .filter(col("jaccard") >= 0.5)
        .select(col("doc_i"), col("doc_j"),
          splitOf(col("doc_i")).as("split_i"),
          splitOf(col("doc_j")).as("split_j"))
        .filter(col("split_i") =!= col("split_j"))
        .orderBy("doc_i", "doc_j")
    },

    // ---- GREEDY TOKEN-BUDGET CURATION: select the highest-quality
    // documents whose CUMULATIVE token count fits a global budget (30%
    // of the corpus here) — the doc-level selection step between
    // q132's per-source epoch allocator and q124's fixed-k sampler,
    // and the shape every "keep the best B tokens" curation run needs.
    // Quality proxy: mean token length in milli (a crude fluency
    // stand-in — the op under test is the BUDGETED GREEDY SELECTION;
    // any per-doc score column composes). The global quality-ordered
    // running token total is the distributed two-phase
    // [[graft.functions.PrefixSum]] (a bare ORDER BY cumsum would
    // funnel the corpus through one task); the budget is a broadcast
    // one-row frame; selection is cum <= B. Reported per source: doc
    // and token counts, selected counts, and the selected token share
    // — the mix-shift a quality-ranked cut induces. Plan REQUIRE: all
    // windows __pid-bound. ----
    "q408_token_budget_select" -> { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("source"),
          size(tokens(col("text"))).cast("bigint").as("n_tok"), col("n_chars"))
        .withColumn("quality_milli",
          expr("(n_chars * 1000) div greatest(n_tok, 1)"))
      val tot = docs.agg(sum("n_tok").as("tt"))
      val ranked = graft.functions.PrefixSum.inclusive(docs,
        Seq(col("quality_milli").desc, col("doc_id")),
        Seq((col("n_tok"), "cum_tok")))
      val sel = ranked.crossJoin(broadcast(tot))
        .withColumn("budget", expr("(tt * 3) div 10"))
        .withColumn("selected", col("cum_tok") <= col("budget"))
      val result = sel.groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("selected"), 1L).otherwise(0L)).as("n_sel"),
          sum("n_tok").as("tok_total"),
          sum(when(col("selected"), col("n_tok")).otherwise(0L)).as("tok_sel"),
          max("budget").as("budget"))
        .select(col("source"), col("n_docs").cast("bigint").as("n_docs"),
          col("n_sel").cast("bigint").as("n_sel"),
          col("tok_total").cast("bigint").as("tok_total"),
          col("tok_sel").cast("bigint").as("tok_sel"),
          // zero-token source guard (r9 ADVICE): an all-empty source
          // gives NULL on Spark but a div-by-zero ERROR on DuckDB —
          // guard to 0 in BOTH engines so they stay hash-identical.
          expr("CASE WHEN tok_total > 0 THEN (tok_sel * 1000000) div tok_total " +
            "ELSE 0 END").cast("bigint")
            .as("sel_share_ppm"),
          col("budget").cast("bigint").as("budget"))
      locally {
        import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
        val wins = result.queryExecution.optimizedPlan.collect { case w: LWindow => w }
        require(wins.forall(w => (w.partitionSpec ++ w.orderSpec)
            .flatMap(_.references.toSeq).exists(_.name == "__pid")),
          "q408: a non-PrefixSum row-scale window appeared")
      }
      result.orderBy("source")
    },

    // ---- token-budget epoch scheduling (Muennighoff et al., "Scaling
    // Data-Constrained Language Models", arXiv:2305.16264): given
    // per-source token volumes, integer mixture weights, and a token
    // budget (3× the corpus here — the data-constrained regime), how
    // many EPOCHS of each source does the training run consume, and how
    // many tokens are repeats? wanted_s = B·w_s div W, epochs_s =
    // ceil-div by the source's volume — the repetition plan a data-
    // constrained run is scheduled from. Pure integer arithmetic over a
    // sources-sized aggregate (one corpus scan), exact in both engines. ----
    "q132_token_budget" -> { (s, d) =>
      val per = Tables.documents(s, d)
        .select(col("source"), size(tokens(col("text"))).cast("bigint").as("n"))
        .groupBy("source").agg(sum("n").as("n_tokens"))
        .withColumn("w", substring(col("source"), 4, 10).cast("bigint") % 10 + 1)
      val tot = per.agg(sum("n_tokens").as("total_tokens"), sum("w").as("total_w"))
      per.crossJoin(broadcast(tot))
        .withColumn("wanted_tokens", expr("total_tokens * 3 * w div total_w").cast("bigint"))
        .withColumn("epochs",
          expr("(wanted_tokens + n_tokens - 1) div n_tokens").cast("bigint"))
        .withColumn("repeated_tokens",
          greatest(col("wanted_tokens") - col("n_tokens"), lit(0L)))
        .select(col("source"), col("n_tokens"), col("w").cast("bigint").as("weight"),
          col("wanted_tokens"), col("epochs"), col("repeated_tokens"))
        .orderBy("source")
    },

    // ---- triangle counting over the word-adjacency graph: the third
    // graph primitive next to PageRank (q55) and connected components
    // (q47) — the local-clustering signal. Edges are ADJACENT
    // co-occurrence (distinct normalized bigram pairs seen in ≥3 docs):
    // linear in corpus tokens, never the quadratic all-pairs
    // within-doc co-occurrence. Counting is the standard ordered
    // edge-iterator: every edge stored once as (a < b), wedges from a
    // shared lower endpoint joined against the closing edge — two
    // equi-joins on the edge table, the compact-forward algorithm that
    // scales by degree, not by vertex count. Output: per-word triangle
    // participation. ----
    "q118_triangle_count" -> { (s, d) =>
      val edges = warmed(cooccurEdges(s, d))
      val result = perWordTriangles(edges)
      materialized(result, edges).orderBy("w")
    },

    // ---- k-TRUSS PEEL (Cohen 2008): the EDGE-grade dense-core
    // extractor next to q141's vertex-grade k-core — keep only edges
    // supported by ≥ k−2 triangles among the SURVIVING edges,
    // iterated. Where k-core keeps a hub with many weak pendants,
    // k-truss demands each tie itself be embedded in closed wedges —
    // the collocation-clique signal over the q118 word-adjacency
    // graph. FIXED 3 peel rounds (the q122 fixed-round discipline:
    // the oracle replays the same rounds, so the gate is exact
    // whatever the fixpoint distance); each round is the q118
    // compact-forward wedge-close join pair (scales by degree, never
    // all-pairs) + one per-edge count + a semi-join, per-round
    // localCheckpoint. Output: surviving edges with their support
    // RECOUNTED against the final survivor set (an edge can keep
    // < k−2 final support if its triangles were peeled in the last
    // round — reported honestly, not re-filtered). ----
    "q440_ktruss" -> { (s, d) =>
      val k = 4
      def support(e: DataFrame): DataFrame = {
        val tri = e.as("e1")
          .join(e.as("e2"), col("e1.a") === col("e2.a") && col("e1.b") < col("e2.b"))
          .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
          .join(e.as("e3"), col("y") === col("e3.a") && col("z") === col("e3.b"))
          .select("x", "y", "z")
        tri.select(explode(array(
            struct(col("x").as("a"), col("y").as("b")),
            struct(col("x").as("a"), col("z").as("b")),
            struct(col("y").as("a"), col("z").as("b")))).as("e"))
          .select(col("e.a").as("a"), col("e.b").as("b"))
          .groupBy("a", "b").agg(count(lit(1)).as("support"))
      }
      val base = warmed(cooccurEdges(s, d))
      var edges = base
      for (_ <- 1 to 3) {
        edges = checkpointed(edges
          .join(support(edges).filter(col("support") >= k - 2),
            Seq("a", "b"), "left_semi"))
      }
      val result = edges.join(support(edges), Seq("a", "b"), "left")
        .select(col("a"), col("b"),
          coalesce(col("support"), lit(0L)).cast("bigint").as("support"))
      materialized(result, base).orderBy("a", "b")
    },

    // ---- LOCAL CLUSTERING COEFFICIENT (Watts & Strogatz 1998): per
    // word of the q118 co-occurrence graph, 2T_v / (deg_v·(deg_v−1)) in
    // exact integer ppm — the "are my neighbors also neighbors of each
    // other" community signal that separates hub words (high degree,
    // low closure) from tight collocation cliques (high closure).
    // Same ordered edge iterator as q118 (wedges scale by degree, not
    // vertex count); degree is one explode+groupBy over the edge list;
    // words whose neighborhoods close no triangle keep cc_ppm = 0 via
    // the left join. deg ≥ 2 rows only (the coefficient is undefined
    // below). int64: 2T·10⁶ ≤ 2·10⁶·deg² — safe through ~10⁶-degree
    // hubs. ----
    // ---- COMMON-NEIGHBORS LINK PREDICTION AUDIT (Liben-Nowell &
    // Kleinberg, CIKM 2003) on the near-dup graph: hold out an md5-
    // residue 20% of the edges, score every non-adjacent 2-hop pair of
    // the TRAIN graph by its common-neighbor count, and measure
    // precision/recall of "CN ≥ t" against the held-out edges — the
    // does-transitivity-predict-missing-duplicates check that says
    // whether cluster-closure (q47's CC) is recovering real edges or
    // inventing them (q242's chaining audit asks the dual question).
    // Shapes: the wedge join is two passes over the train edge list
    // (compact-forward — scales by degree, and near-dup components are
    // cluster-sized, q342); the candidate set is 2-hop-bounded, never
    // all-pairs; thresholds are 4 bounded aggregates over the scored
    // frame. The split hash is the engine-portable 60-bit md5 id. ----
    "q383_link_prediction" -> { (s, d) =>
      import graft.functions.TextFunctions.hex64
      val pairs = DedupPack.ngramPairs(s, d).select("doc_i", "doc_j")
      val tagged = warmed(pairs.withColumn("h",
        hex64(md5(concat(col("doc_i"), lit(":"), col("doc_j")))) % 5))
      val train = tagged.filter(col("h") =!= 0).select("doc_i", "doc_j")
      val probe = tagged.filter(col("h") === 0).select("doc_i", "doc_j")
      val adj = train.select(col("doc_i").as("w"), col("doc_j").as("x"))
        .unionByName(train.select(col("doc_j").as("w"), col("doc_i").as("x")))
      val wedges = adj.as("e1").join(adj.as("e2"),
          col("e1.w") === col("e2.w") && col("e1.x") < col("e2.x"))
        .select(col("e1.x").as("doc_i"), col("e2.x").as("doc_j"))
      val cn = wedges.groupBy("doc_i", "doc_j").agg(count(lit(1)).as("cn"))
        .join(train, Seq("doc_i", "doc_j"), "left_anti")
      val scoredC = warmed(cn.join(
        probe.withColumn("hit", lit(1L)), Seq("doc_i", "doc_j"), "left"))
      val nProbe = probe.agg(count(lit(1)).as("n_probe"))
      val result = Seq(1, 2, 3, 4).map { t =>
        scoredC.filter(col("cn") >= t)
          .agg(count(lit(1)).as("n_pred"),
            // sum over an EMPTY slice is NULL — coalesce so a threshold
            // with no candidates reports 0, matching the oracle
            coalesce(sum(coalesce(col("hit"), lit(0L))), lit(0L)).as("n_hits"))
          .select(lit(t).as("t"), col("n_pred"), col("n_hits"))
      }.reduce(_ unionByName _)
        .crossJoin(broadcast(nProbe))
        .select(col("t").cast("int").as("t"),
          col("n_pred").cast("bigint").as("n_pred"),
          col("n_hits").cast("bigint").as("n_hits"),
          when(col("n_pred") > 0, expr("(n_hits * 1000000) div n_pred"))
            .otherwise(lit(0L)).cast("bigint").as("precision_ppm"),
          when(col("n_probe") > 0, expr("(n_hits * 1000000) div n_probe"))
            .otherwise(lit(0L)).cast("bigint").as("recall_ppm"))
      materialized(result, tagged, scoredC).orderBy("t")
    },

    "q328_clustering_coeff" -> { (s, d) =>
      val edges = warmed(cooccurEdges(s, d))
      val deg = edges
        .select(explode(array(col("a"), col("b"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("degree"))
      val tri = perWordTriangles(edges)
      val result = deg.filter(col("degree") >= 2)
        .join(tri, Seq("w"), "left")
        .select(col("w"),
          col("degree").cast("bigint").as("degree"),
          coalesce(col("n_triangles"), lit(0L)).cast("bigint").as("n_triangles"),
          expr("(2 * coalesce(n_triangles, 0L) * 1000000) div (degree * (degree - 1))")
            .cast("bigint").as("cc_ppm"))
      materialized(result, edges).orderBy("w")
    },

    // ---- training-sequence packing: the concat-and-chunk step that
    // turns the cleaned corpus into fixed-length training sequences
    // (every GPT-style pipeline ends here — docs concatenated in order
    // and sliced every seqLen tokens, documents spanning chunk
    // boundaries). Packing runs PER SOURCE (the shard unit), and the
    // per-source running token total is the distributed two-phase
    // [[graft.functions.PrefixSum.inclusivePerKey]] — a plain
    // `sum OVER (PARTITION BY source ORDER BY doc_id)` would funnel
    // each source's ENTIRE corpus through one window task (~20 M docs
    // per source at 100 TB; the r7 verdict's q116 scale-killer), while
    // the keyed scan keeps every stage bounded by partition size. A doc
    // touching k chunks emits k rows via sequence() (linear in corpus
    // tokens / seqLen); per-chunk stats aggregate by (source, chunk).
    // All integer arithmetic — exact in both engines, and the two-phase
    // regrouping is exact because int addition is associative. ----
    "q116_seq_pack" -> { (s, d) =>
      val seqLen = 512L
      val n = Tables.documents(s, d)
        .select(col("source"), col("doc_id"),
          size(tokens(col("text"))).cast("bigint").as("n"))
        .where(col("n") > 0)
      val cum = graft.functions.PrefixSum.inclusivePerKey(n,
          Seq("source"), Seq(col("doc_id")), Seq((col("n"), "end_tok")))
        .withColumn("start_tok", col("end_tok") - col("n"))
      val spans = cum.select(col("source"), col("doc_id"),
          col("start_tok"), col("end_tok"),
          explode(sequence(expr(s"start_tok div $seqLen"),
            expr(s"(end_tok - 1) div $seqLen"))).as("chunk_id"))
        .withColumn("toks_in_chunk",
          least(col("end_tok"), (col("chunk_id") + 1) * seqLen) -
            greatest(col("start_tok"), col("chunk_id") * seqLen))
      val result = spans.groupBy("source", "chunk_id")
        .agg(count(lit(1)).cast("bigint").as("n_docs"),
          sum("toks_in_chunk").cast("bigint").as("n_tokens"),
          min("doc_id").cast("bigint").as("first_doc"),
          max("doc_id").cast("bigint").as("last_doc"))
      // Plan REQUIRE (r7 verdict item 1): no per-source row-scale window
      // may creep back — every Window node must be PrefixSum machinery,
      // identified by referencing the __pid column in its partition or
      // order spec (the partition-local scan, or the numPartitions-row
      // offset scan ordered by __pid).
      locally {
        import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
        val wins = result.queryExecution.optimizedPlan.collect { case w: LWindow => w }
        require(wins.nonEmpty && wins.forall(w =>
            (w.partitionSpec ++ w.orderSpec)
              .flatMap(_.references.toSeq).exists(_.name == "__pid")),
          "q116: a non-PrefixSum window appeared (per-source row-scale cumsum regression)")
      }
      result.orderBy("source", "chunk_id")
    },

    // ---- small-file compaction planner — the OPTIMIZE/maintenance
    // step every parquet-lake pipeline runs: given the file manifest
    // (simulated here as per-source 50-doc file groups with their byte
    // volumes), assign files IN TABLE ORDER to merge bins of ~target
    // bytes. Bin identity is floor(file_start_offset / target) — the
    // deterministic first-fit-in-order rule, pure arithmetic over a
    // running byte total. Scale shape: planning is a METADATA job (the
    // manifest has one row per file, millions of rows at 100 TB, never
    // the data itself), and the global running total is the two-phase
    // [[graft.functions.PrefixSum]] — no partition-less window, no
    // driver-side loop; the plan ships to executors as bin assignments.
    // All-integer, so both engines agree exactly. ----
    "q130_compaction_plan" -> { (s, d) =>
      val target = 16384L
      val files = Tables.documents(s, d)
        .groupBy(col("source"), expr("doc_id div 50").cast("bigint").as("file_id"))
        .agg(sum("n_chars").cast("bigint").as("bytes"),
             count(lit(1)).cast("bigint").as("n_docs"))
      val run = graft.functions.PrefixSum.inclusive(files,
        Seq(col("source"), col("file_id")),
        Seq((col("bytes"), "running")))
      run.withColumn("bin", expr(s"(running - bytes) div $target").cast("bigint"))
        .groupBy("bin")
        .agg(count(lit(1)).cast("bigint").as("n_files"),
             sum("n_docs").cast("bigint").as("n_docs"),
             sum("bytes").cast("bigint").as("bin_bytes"))
        .orderBy("bin")
    },

    // ---- the capstone: one corpus-build manifest — every document's
    // final admission verdict with the reason it was dropped. Chains the
    // real pipeline end-to-end: quality gate (q65's predicate) →
    // near-dup cluster representative election (q48's policy over the
    // pair artifact) → deterministic stratified mix sampling (q66's
    // hash bucket). Precedence mirrors a production build: quality
    // rejects first, then dedup, then sampling — and the cluster
    // representative is elected among quality-PASSING members first
    // (pass_quality desc leads the election sort), so a cluster whose
    // best text fails the gate still contributes its best admissible
    // member. Each stage is the SAME scale shape as its standalone
    // query; composing them adds no new shuffle beyond the cluster
    // window. ----
    "q58_corpus_manifest" -> { (s, d) =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          tokens(col("text")).as("toks"), tokenSet(col("text")).as("tset"))
        .select(col("doc_id"), col("lang"), col("n_chars"),
          (size(col("toks")) >= 20 && col("n_chars") <= 1000 &&
            (size(col("toks")) > 0 &&
              size(col("tset")).cast("double") / size(col("toks")).cast("double") >= 0.3))
            .as("pass_quality"),
          (hex64(md5(concat(col("doc_id").cast("string"), lit(":mix1")))) % 100)
            .as("bucket"))
      val pairs = DedupPack.ngramPairs(s, d).select("doc_i", "doc_j")
      val cc = connectedComponents(symmetricEdges(pairs).toDF("v", "u"))
        .select(col("node").as("doc_id"), col("label").as("cl"))
      val w = Window.partitionBy(col("cluster"))
        .orderBy(col("pass_quality").desc, col("n_chars").desc, col("doc_id"))
      docs.join(cc, Seq("doc_id"), "left")
        .withColumn("cluster", coalesce(col("cl"), col("doc_id")))
        .withColumn("is_rep", row_number().over(w) === 1)
        .withColumn("pass_sample",
          col("bucket") < when(col("lang") === "en", 50).otherwise(20))
        .withColumn("verdict",
          when(!col("pass_quality"), lit("drop_quality"))
            .when(!col("is_rep"), lit("drop_dup"))
            .when(!col("pass_sample"), lit("drop_sample"))
            .otherwise(lit("keep")))
        .select("doc_id", "lang", "cluster", "is_rep", "pass_quality",
          "pass_sample", "verdict")
        .orderBy("doc_id")
    },

    // ---- per-source data card: the summary a corpus build PUBLISHES
    // per ingestion source (the datasheet/data-card practice of
    // Gebru et al. 2021, arXiv:1803.09010): doc and token volumes,
    // vocabulary size, language spread, and the exact-duplicate
    // fraction within the source. Doc-level stats fold map-side
    // (one groupBy(source) over per-doc projections); the vocabulary
    // count is the one exploded aggregate; exact-dup detection reuses
    // the 60-bit content-hash idiom (q40) but grouped per source. At
    // 100 TB every aggregate here is a partial-agg-friendly groupBy on
    // a low-cardinality key — AQE handles the source-size skew that
    // ingestion mixes always have. ----
    "q107_source_datacard" -> { (s, d) =>
      // tokenize ONCE per document (the regex kernel is the query's
      // expensive per-doc work); every branch derives from the warmed
      // token arrays
      val docs = warmed(Tables.documents(s, d)
        .select(col("source"), col("lang"),
          hex64(md5(col("text"))).as("h"),
          tokens(col("text")).as("toks")))
      val base = docs.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(size(col("toks")).cast("bigint")).as("total_tokens"),
        countDistinct("lang").as("n_langs"))
      // docs participating in an exact-dup set (content hash seen >= 2x
      // within the source)
      val dups = docs.groupBy("source", "h").agg(count(lit(1)).as("c"))
        .filter(col("c") >= 2)
        .groupBy("source").agg(sum("c").as("dup_docs"))
      val vocab = docs
        .select(col("source"), explode(col("toks")).as("w"))
        .groupBy("source").agg(countDistinct("w").as("distinct_tokens"))
      val result = base
        .join(vocab, Seq("source"), "left")
        .join(dups, Seq("source"), "left")
        .withColumn("distinct_tokens", coalesce(col("distinct_tokens"), lit(0L)))
        .withColumn("dup_docs", coalesce(col("dup_docs"), lit(0L)))
        .withColumn("dup_frac",
          col("dup_docs").cast("double") / col("n_docs").cast("double"))
        .select("source", "n_docs", "total_tokens", "distinct_tokens",
          "n_langs", "dup_docs", "dup_frac")
      materialized(result, docs).orderBy("source")
    },

    // ---- SOURCE MODULARITY of the near-dup graph (Newman & Girvan
    // 2004): does duplication stay WITHIN sources or cross them? Each
    // source is a community; its modularity contribution, scaled by
    // (2m)² to stay in exact integers, is contrib_q = 4m·L_s − D_s²
    // (L_s intra-source edges, D_s degree mass, m total edges) — sum
    // over sources and divide by 4m² at report time for Newman's Q.
    // A strongly negative cell = a source whose dup mass leaks across
    // the corpus (the q127 hot-cell view, graph-theoretically scored).
    // All frames are edge-bounded or sources-sized; int64-exact while
    // 4m·L_s ≤ 9·10¹⁸ (m through ~1.5·10⁹ near-dup edges). ----
    "q304_source_modularity" -> { (s, d) =>
      val pairs = DedupPack.ngramPairs(s, d).select("doc_i", "doc_j")
      val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
      val e = pairs
        .join(src.toDF("doc_i", "src_i"), "doc_i")
        .join(src.toDF("doc_j", "src_j"), "doc_j")
      val m = e.agg(count(lit(1)).as("m"))
      val deg = symmetricEdges(pairs).toDF("v", "u")
        .groupBy("v").agg(count(lit(1)).as("deg"))
      val dmass = deg.join(src.toDF("v", "source"), "v")
        .groupBy("source").agg(sum("deg").as("d_s"), count(lit(1)).as("n_nodes"))
      val intra = e.filter(col("src_i") === col("src_j"))
        .groupBy(col("src_i").as("source")).agg(count(lit(1)).as("l_s"))
      dmass.join(intra, Seq("source"), "left").na.fill(0L, Seq("l_s"))
        .crossJoin(broadcast(m))
        .select(col("source"), col("n_nodes").cast("bigint").as("n_nodes"),
          col("l_s").cast("bigint").as("intra_edges"),
          col("d_s").cast("bigint").as("degree_sum"),
          col("m").cast("bigint").as("n_edges"),
          (lit(4L) * col("m") * col("l_s") - col("d_s") * col("d_s"))
            .cast("bigint").as("contrib_q"))
        .orderBy("source")
    },

    // ---- DEGREE ASSORTATIVITY (Newman 2002) of the near-dup graph:
    // Pearson correlation of endpoint degrees over directed edge
    // instances — positive r means big dup families attach to other
    // big families (hub corpora dedup differently than chains). Exact
    // int64 moment sums over the edge list, one sqrt+divide double
    // (the q288 discipline). One row. ----
    "q305_degree_assortativity" -> { (s, d) =>
      val pairs = DedupPack.ngramPairs(s, d).select("doc_i", "doc_j")
      val sym = symmetricEdges(pairs).toDF("v", "u")
      val deg = sym.groupBy("v").agg(count(lit(1)).as("deg"))
      val ed = sym
        .join(deg.toDF("v", "dx"), "v")
        .join(deg.toDF("u", "dy"), "u")
      ed.agg(count(lit(1)).as("n"), sum("dx").as("sx"), sum("dy").as("sy"),
          sum(col("dx") * col("dx")).as("sxx"),
          sum(col("dy") * col("dy")).as("syy"),
          sum(col("dx") * col("dy")).as("sxy"))
        .select(col("n").cast("bigint").as("n_edge_ends"),
          when(col("n") * col("sxx") - col("sx") * col("sx") === 0 ||
               col("n") * col("syy") - col("sy") * col("sy") === 0, lit(0.0))
            .otherwise((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
              sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double") *
                   (col("n") * col("syy") - col("sy") * col("sy")).cast("double")))
            .as("assortativity"))
        .orderBy("n_edge_ends")
    },

    // ---- RENDEZVOUS (HRW) SHARD ASSIGNMENT + RESIZE DELTA: docs map
    // to the shard whose hash h(doc:shard) is highest (Thaler-Ravishankar
    // HRW — the consistent-placement scheme behind shard-local dedup
    // stores and embedding indexes), evaluated at 16 and at 20 shards.
    // The transition matrix PROVES the minimal-movement property the
    // scheme is chosen for: a doc moves only when one of the 4 ADDED
    // shards wins its rendezvous (expected moved ≈ 4/20), and every
    // off-diagonal destination is a new shard — visible in the output,
    // gate-checked. Argmax is the two-phase max+equi-join (never a
    // per-doc rank window); the exploded frame is docs×20, a narrow
    // map stage. ----
    "q300_rendezvous_shards" -> { (s, d) =>
      import graft.functions.TextFunctions.hex64
      val ex = warmed(Tables.documents(s, d).select(col("doc_id"))
        .select(col("doc_id"), explode(sequence(lit(0), lit(19))).as("sh"))
        .withColumn("h", hex64(md5(concat(col("doc_id").cast("string"),
          lit(":shard:"), col("sh").cast("string"))))))
      def argmax(src: DataFrame, name: String): DataFrame = {
        val m = src.groupBy("doc_id").agg(max("h").as("m"))
        src.join(m, "doc_id").filter(col("h") === col("m"))
          .groupBy("doc_id").agg(min("sh").as(name))
      }
      val s16 = argmax(ex.filter(col("sh") < 16), "s16")
      val s20 = argmax(ex, "s20")
      val result = s16.join(s20, "doc_id")
        .groupBy(col("s16"), col("s20"))
        .agg(count(lit(1)).cast("bigint").as("n_docs"))
        .select(col("s16").cast("int").as("s16"), col("s20").cast("int").as("s20"),
          (col("s16") =!= col("s20")).as("moved"), col("n_docs"))
      materialized(result, ex).orderBy("s16", "s20")
    },

    // ---- CURATION FILTER FUNNEL (the RefinedWeb/Dolma-style attrition
    // report): docs and tokens surviving each CUMULATIVE stage of the
    // q65 gate chain followed by exact dedup on the survivors —
    // raw → min-length → max-length → TTR → keep-first content-hash.
    // Per doc ONE pass computes the deepest stage reached (the dedup
    // keeper set is a group-min over survivors only — sequential
    // semantics, dedup sees what the filters admitted); the funnel is
    // then a ≤5-row suffix sum (stage k = levels ≥ k) over the bounded
    // stage axis — the deliberately-global window runs over 5 rows,
    // never data. ----
    "q287_filter_funnel" -> { (s, d) =>
      val flagged = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars"), md5(col("text")).as("h"),
          tokens(col("text")).as("toks"), tokenSet(col("text")).as("tset"))
        .select(col("doc_id"), col("h"),
          size(col("toks")).cast("bigint").as("n_tokens"),
          (size(col("toks")) >= 20).as("p1"),
          (col("n_chars") <= 1000).as("p2"),
          (size(col("toks")) > 0 &&
            size(col("tset")).cast("double") / size(col("toks")).cast("double") >= 0.3)
            .as("p3"))
      val keepers = flagged.filter(col("p1") && col("p2") && col("p3"))
        .groupBy("h").agg(min("doc_id").as("keep_id"))
      val lvl = flagged.join(keepers, Seq("h"), "left")
        .withColumn("level",
          when(!col("p1"), 0).when(!col("p2"), 1).when(!col("p3"), 2)
            .when(col("doc_id") === col("keep_id"), 4).otherwise(3))
      val per = lvl.groupBy("level")
        .agg(count(lit(1)).as("c"), sum("n_tokens").as("t"))
      val grid = s.range(0, 5).toDF("stage")
        .select(col("stage").cast("int").as("stage"))
      val g = grid.join(per, grid("stage") === per("level"), "left")
        .select(col("stage"), coalesce(col("c"), lit(0L)).as("c"),
          coalesce(col("t"), lit(0L)).as("t"))
      val w = Window.orderBy(col("stage").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = g.agg(sum("c").as("total"))
      val result = g
        .withColumn("n_docs", sum("c").over(w).cast("bigint"))
        .withColumn("n_tokens", sum("t").over(w).cast("bigint"))
        .crossJoin(broadcast(tot))
        .select(col("stage"),
          when(col("stage") === 0, "raw").when(col("stage") === 1, "min_len")
            .when(col("stage") === 2, "max_len").when(col("stage") === 3, "ttr")
            .otherwise("exact_dedup").as("stage_name"),
          col("n_docs"), col("n_tokens"),
          expr("n_docs * 1000000 div total").cast("bigint").as("docs_ppm"))
      result.orderBy("stage")
    },

    // ---- quality gate: boolean admission filter chain ----
    "q65_quality_gate" -> { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars"),
          tokens(col("text")).as("toks"), tokenSet(col("text")).as("tset"))
        .select(col("doc_id"),
          size(col("toks")).cast("bigint").as("n_tokens"),
          (size(col("toks")) >= 20).as("pass_min_len"),
          (col("n_chars") <= 1000).as("pass_max_len"),
          // guard n_tokens=0: NaN compares differ between engines
          (size(col("toks")) > 0 &&
            size(col("tset")).cast("double") / size(col("toks")).cast("double") >= 0.3)
            .as("pass_ttr"))
        .withColumn("pass_all",
          col("pass_min_len") && col("pass_max_len") && col("pass_ttr"))
        .orderBy("doc_id")
    },

    // ---- greedy submodular coverage selection (the MAXCOVER greedy,
    // Nemhauser/Wolsey/Fisher 1978's (1−1/e) guarantee; in data
    // curation: pick the docs that together cover the most distinct
    // content): 5 rounds, each selecting the doc with the most
    // NOT-YET-COVERED 3-gram shingles (ties → lowest doc_id). The
    // iterative-driver-loop pattern of q55/q108: per round ONE
    // anti-join of the (doc, shingle) table against the covered set —
    // which is ≤ k docs' shingles, so it BROADCASTS by construction —
    // plus a partial top-1 argmax; one scalar collect per round, k
    // bounded, never a per-row driver loop. `covered_total` equals the
    // running gain sum — the submodularity bookkeeping made visible.
    // ----
    "q191_greedy_coverage" -> { (s, d) =>
      import s.implicits._
      // the shared once-per-corpus (doc_id, sid) artifact — same 3-gram
      // shingles, same 60-bit ids, per-doc distinct (≡ the global
      // distinct this query needs); its build materializes the token
      // array before the shingle HOF (inlining tokens() into the lambda
      // re-tokenizes per position — the 8.6 s → 1.3 s DedupPack lesson,
      // which this query originally re-paid by building its own copy)
      val docSh = warmed(DedupPack.docShingles(s, d))
      // Totals-minus-correction form of the greedy marginal gain:
      //   gain_r(doc) = |sh(doc)| − |sh(doc) ∩ covered_r|.
      // The per-doc totals aggregate ONCE; each round then only probes
      // the shingle table with the round's NEWLY covered sids (a
      // broadcast of one pick's shingles) and bumps a cumulative
      // per-doc correction — replacing the original shape's full
      // anti-join + re-aggregation of the whole (doc, sid) table every
      // round (measured 17–21 s; this form ~6 s at sf0.1, identical
      // output). The picked doc's own sid list collects to the driver:
      // bounded by one document's shingle count, the same scale class
      // as the oracle's literal replay. corr is checkpointed per
      // round so lineage stays flat (the q175 power-iteration rule).
      val totals = warmed(docSh.groupBy("doc_id").agg(count(lit(1)).as("total")))
      var corr = s.emptyDataset[(Long, Long)].toDF("doc_id", "corr")
      val coveredSids = scala.collection.mutable.HashSet[Long]()
      val picks = scala.collection.mutable.ListBuffer[(Int, Long, Long, Long)]()
      var cum = 0L
      var r = 1
      var exhausted = false
      while (r <= 5 && !exhausted) {
        val bestDf = totals.join(corr, Seq("doc_id"), "left_outer")
          .withColumn("gain", col("total") - coalesce(col("corr"), lit(0L)))
          .filter(col("gain") > 0)
          .orderBy(col("gain").desc, col("doc_id")).limit(1)
        // ONE action per round instead of two: the argmax runs as the
        // broadcast side of its own shingle fetch, so the round's pick
        // AND its sid list arrive in a single job. A pickable doc always
        // has >= 1 shingle row (gain > 0 ⇒ total > 0, and totals counts
        // docSh rows), so empty-join ⟺ empty-argmax — the exhaustion
        // test is unchanged.
        val bestRows = docSh
          .join(broadcast(bestDf.select(col("doc_id"), col("gain"))), "doc_id")
          .select(col("doc_id"), col("gain"), col("sid")).collect()
        if (bestRows.isEmpty) exhausted = true
        else {
          val bd = bestRows(0).getLong(0)
          val bg = bestRows(0).getLong(1)
          cum += bg
          picks += ((r, bd, bg, cum))
          val newSids = bestRows.map(_.getLong(2))
            .filterNot(coveredSids.contains)
          coveredSids ++= newSids
          if (r < 5 && newSids.nonEmpty) {
            val inc = docSh
              .join(broadcast(newSids.toSeq.toDF("sid")), "sid")
              .groupBy("doc_id").agg(count(lit(1)).as("inc"))
            corr = checkpointed(corr.join(inc, Seq("doc_id"), "full_outer")
              .select(col("doc_id"),
                (coalesce(col("corr"), lit(0L)) + coalesce(col("inc"), lit(0L)))
                  .as("corr")))
          }
          r += 1
        }
      }
      totals.unpersist()
      val result = picks.toSeq
        .toDF("round", "doc_id", "gain", "covered_total")
        .select(col("round").cast("int").as("round"),
          col("doc_id").cast("bigint").as("doc_id"),
          col("gain").cast("bigint").as("gain"),
          col("covered_total").cast("bigint").as("covered_total"))
      materialized(result, docSh).orderBy("round")
    }
  )

  /** q191's oracle: the 5 greedy rounds UNROLLED as chained CTEs (the
    * q55/q108 unrolled-iteration precedent) — each round recomputes
    * gains against the previous round's covered set and takes the same
    * (gain DESC, doc_id) argmax. */
  private val greedyCoverageOracle: String = {
    val sb = new StringBuilder
    sb ++= s"WITH tok AS (SELECT doc_id, ${tokensSql("text")} AS ts FROM documents),\n"
    sb ++= "sh AS (SELECT DISTINCT doc_id, " +
      s"${hex64Sql("md5(ts[g.i] || ' ' || ts[g.i + 1] || ' ' || ts[g.i + 2])")} AS sid\n" +
      "       FROM tok, UNNEST(generate_series(1, greatest(len(ts) - 2, 0))) AS g(i)),\n"
    for (r <- 1 to 5) {
      val prev = r - 1
      val notCovered =
        if (r == 1) ""
        else s" WHERE NOT EXISTS (SELECT 1 FROM c$prev WHERE c$prev.sid = s.sid)"
      sb ++= s"g$r AS (SELECT s.doc_id, CAST(count(*) AS BIGINT) AS gain FROM sh s$notCovered GROUP BY s.doc_id),\n"
      sb ++= s"r$r AS (SELECT doc_id, gain FROM g$r ORDER BY gain DESC, doc_id LIMIT 1),\n"
      val prevCov = if (r == 1) "" else s"SELECT sid FROM c$prev UNION "
      sb ++= s"c$r AS (${prevCov}SELECT DISTINCT sid FROM sh WHERE doc_id = (SELECT doc_id FROM r$r))"
      sb ++= (if (r < 5) ",\n" else "\n")
    }
    sb ++= (1 to 5).map(r =>
      s"SELECT CAST($r AS INT) AS round, doc_id, gain, " +
        s"(SELECT CAST(count(*) AS BIGINT) FROM c$r) AS covered_total FROM r$r")
      .mkString("", "\nUNION ALL\n", "\nORDER BY round")
    sb.toString
  }

  /** Algorithm-independent converged CC truth, shared by q47 (BSP
    * min-propagation) and q222 (pointer jumping): recursive transitive
    * closure, then min over each reachable set. */
  private lazy val ccClosureOracle: String =
    s"""WITH RECURSIVE ${DedupPack.ngramPairsCtes},
       |${ccLabelCtes("pairs")}
       |SELECT node AS doc_id, label AS cluster,
       |       CAST(count(*) OVER (PARTITION BY label) AS BIGINT) AS cluster_size
       |FROM lab
       |ORDER BY doc_id""".stripMargin

  override def oracle: Map[String, String] = Map(

    // same quality proxy, same global quality-ordered running token
    // total (plain window replays the distributed scan), same budget
    "q408_token_budget_select" ->
      s"""WITH docs AS (
        |  SELECT doc_id, source,
        |         CAST(len(${tokensSql("text")}) AS BIGINT) AS n_tok,
        |         n_chars
        |  FROM documents),
        |q AS (SELECT *, (n_chars * 1000) // greatest(n_tok, 1) AS quality_milli FROM docs),
        |tot AS (SELECT CAST(SUM(n_tok) AS BIGINT) AS tt FROM q),
        |r AS (SELECT *, CAST(SUM(n_tok) OVER (ORDER BY quality_milli DESC, doc_id
        |                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tok
        |      FROM q),
        |sel AS (SELECT r.*, (tot.tt * 3) // 10 AS budget,
        |               r.cum_tok <= (tot.tt * 3) // 10 AS selected
        |        FROM r CROSS JOIN tot)
        |SELECT source,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(CASE WHEN selected THEN 1 ELSE 0 END) AS BIGINT) AS n_sel,
        |       CAST(SUM(n_tok) AS BIGINT) AS tok_total,
        |       CAST(SUM(CASE WHEN selected THEN n_tok ELSE 0 END) AS BIGINT) AS tok_sel,
        |       CAST(CASE WHEN SUM(n_tok) > 0 THEN (SUM(CASE WHEN selected THEN n_tok ELSE 0 END) * 1000000) // SUM(n_tok) ELSE 0 END AS BIGINT) AS sel_share_ppm,
        |       CAST(MAX(budget) AS BIGINT) AS budget
        |FROM sel
        |GROUP BY source
        |ORDER BY source""".stripMargin,

    // same per-source rank, same alphabetic source index, same
    // rank-arithmetic interleave
    "q405_curriculum" ->
      """WITH ranked AS (
        |  SELECT doc_id, source,
        |         CAST(row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS BIGINT) AS rk
        |  FROM documents),
        |idx AS (
        |  SELECT source, CAST(row_number() OVER (ORDER BY source) - 1 AS BIGINT) AS src_idx
        |  FROM (SELECT DISTINCT source FROM documents)),
        |k AS (SELECT CAST(count(*) AS BIGINT) AS k FROM idx)
        |SELECT r.doc_id, r.source, r.rk, i.src_idx,
        |       (r.rk - 1) * k.k + i.src_idx AS position
        |FROM ranked r JOIN idx i USING (source) CROSS JOIN k
        |ORDER BY position, doc_id""".stripMargin,

    // same 2 unrolled HITS rounds: exact micro-unit sums, scalar-max
    // L-infinity normalization via integer division
    "q400_hits" ->
      """WITH e AS (
        |  SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
        |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
        |h0 AS (SELECT DISTINCT c, CAST(1000000 AS BIGINT) AS h FROM e),
        |a1r AS (SELECT e.p, CAST(SUM(h0.h) AS BIGINT) AS raw
        |        FROM e JOIN h0 USING (c) GROUP BY e.p),
        |a1 AS (SELECT p, (1000000 * raw) // (SELECT MAX(raw) FROM a1r) AS a FROM a1r),
        |h1r AS (SELECT e.c, CAST(SUM(a1.a) AS BIGINT) AS raw
        |        FROM e JOIN a1 USING (p) GROUP BY e.c),
        |h1 AS (SELECT c, (1000000 * raw) // (SELECT MAX(raw) FROM h1r) AS h FROM h1r),
        |a2r AS (SELECT e.p, CAST(SUM(h1.h) AS BIGINT) AS raw
        |        FROM e JOIN h1 USING (c) GROUP BY e.p),
        |a2 AS (SELECT p, (1000000 * raw) // (SELECT MAX(raw) FROM a2r) AS a FROM a2r),
        |h2r AS (SELECT e.c, CAST(SUM(a2.a) AS BIGINT) AS raw
        |        FROM e JOIN a2 USING (p) GROUP BY e.c),
        |h2 AS (SELECT c, (1000000 * raw) // (SELECT MAX(raw) FROM h2r) AS h FROM h2r)
        |SELECT 'auth' AS entity, CAST(p AS BIGINT) AS id, CAST(a AS BIGINT) AS score_q FROM a2
        |UNION ALL
        |SELECT 'hub', CAST(c AS BIGINT), CAST(h AS BIGINT) FROM h2
        |ORDER BY entity, id""".stripMargin,

    // the shared pair table joined to sources, least/greatest fold
    "q348_cross_source_dups" ->
      s"""WITH ${DedupPack.ngramPairsCtes},
         |m AS (
         |  SELECT least(di.source, dj.source) AS source_a,
         |         greatest(di.source, dj.source) AS source_b
         |  FROM pairs p
         |  JOIN documents di ON di.doc_id = p.doc_i
         |  JOIN documents dj ON dj.doc_id = p.doc_j)
         |SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_pairs,
         |       source_a = source_b AS intra
         |FROM m
         |GROUP BY source_a, source_b
         |ORDER BY source_a, source_b""".stripMargin,

    // the q47 closure joined to lengths; (n_chars desc, doc) argmax
    "q343_rep_survivorship" ->
      s"""WITH RECURSIVE ${DedupPack.ngramPairsCtes},
         |${ccLabelCtes("pairs")},
         |ld AS (SELECT l.label, l.node, d.n_chars,
         |              row_number() OVER (PARTITION BY l.label
         |                                 ORDER BY d.n_chars DESC, l.node) AS rk
         |       FROM lab l JOIN documents d ON d.doc_id = l.node)
         |SELECT CAST(label AS BIGINT) AS cluster,
         |       CAST(count(*) AS BIGINT) AS cluster_size,
         |       CAST(min(node) AS BIGINT) AS rep_by_id,
         |       CAST(min(CASE WHEN rk = 1 THEN node END) AS BIGINT) AS rep_by_len,
         |       min(node) = min(CASE WHEN rk = 1 THEN node END) AS agree
         |FROM ld
         |GROUP BY label
         |ORDER BY cluster""".stripMargin,

    // the q47 recursive closure folded to sizes
    "q342_cluster_size_histogram" ->
      s"""WITH RECURSIVE ${DedupPack.ngramPairsCtes},
         |${ccLabelCtes("pairs")},
         |cs AS (SELECT label, CAST(count(*) AS BIGINT) AS sz FROM lab GROUP BY label)
         |SELECT sz AS cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
         |       CAST(sz * count(*) AS BIGINT) AS n_docs
         |FROM cs
         |GROUP BY sz
         |ORDER BY cluster_size""".stripMargin,

    "q191_greedy_coverage" -> greedyCoverageOracle,
    "q107_source_datacard" ->
      s"""WITH docs AS (
         |  SELECT source, lang,
         |         ${hex64Sql("md5(text)")} AS h,
         |         CAST(length(${tokensSql("text")}) AS BIGINT) AS n_toks
         |  FROM documents),
         |base AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |                CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
         |                CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
         |         FROM docs GROUP BY source),
         |dups AS (SELECT source, CAST(SUM(c) AS BIGINT) AS dup_docs FROM (
         |           SELECT source, h, count(*) AS c FROM docs GROUP BY source, h)
         |         WHERE c >= 2 GROUP BY source),
         |tok AS (SELECT source, unnest(${tokensSql("text")}) AS w
         |        FROM documents),
         |vocab AS (SELECT source, CAST(count(DISTINCT w) AS BIGINT) AS distinct_tokens
         |          FROM tok GROUP BY source)
         |SELECT b.source, b.n_docs, b.total_tokens,
         |       COALESCE(v.distinct_tokens, 0) AS distinct_tokens,
         |       b.n_langs,
         |       COALESCE(d.dup_docs, 0) AS dup_docs,
         |       CAST(COALESCE(d.dup_docs, 0) AS DOUBLE) / CAST(b.n_docs AS DOUBLE) AS dup_frac
         |FROM base b
         |LEFT JOIN vocab v ON v.source = b.source
         |LEFT JOIN dups d ON d.source = b.source
         |ORDER BY b.source""".stripMargin,

    "q46_dedup_retention" ->
      s"""WITH ${DedupPack.ngramPairsCtes},
         |edges AS (SELECT doc_i AS a, doc_j AS b FROM pairs
         |          UNION ALL SELECT doc_j, doc_i FROM pairs),
         |dropped AS (SELECT DISTINCT e.a AS doc_id
         |            FROM edges e
         |            JOIN documents da ON da.doc_id = e.a
         |            JOIN documents db ON db.doc_id = e.b
         |            WHERE db.n_chars > da.n_chars
         |               OR (db.n_chars = da.n_chars AND db.doc_id < da.doc_id))
         |SELECT d.doc_id, d.n_chars, dr.doc_id IS NULL AS kept
         |FROM documents d LEFT JOIN dropped dr ON dr.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    // converged connected components: recursive transitive closure
    // (reach = who can I reach), then min over the reachable set — the
    // same fixpoint the Spark loop iterates to, so both engines agree on
    // clusters of ANY chain length
    "q47_dedup_clusters" -> ccClosureOracle,

    // q222 runs a different ALGORITHM (pointer jumping) to the same
    // fixpoint — same algorithm-independent converged-truth oracle
    "q222_cc_pointer_jump" -> ccClosureOracle,

    // q224's incremental star∪delta recompute must equal CC over the
    // FULL graph — the shared converged-truth oracle IS that proof
    "q224_cc_incremental" -> ccClosureOracle,

    // same closure/rep/split/checksum constructions, one UNION ALL
    // branch per metric; pairs and the labeled doc table MATERIALIZED
    // (each feeds several branches — DuckDB inlines plain CTEs per
    // reference)
    "q249_release_report" ->
      s"""WITH RECURSIVE ${DedupPack.ngramPairsCtes},
         |pp AS MATERIALIZED (SELECT doc_i, doc_j FROM pairs),
         |e AS (SELECT doc_i AS v, doc_j AS u FROM pp
         |      UNION ALL SELECT doc_j, doc_i FROM pp),
         |n AS (SELECT DISTINCT v FROM e),
         |reach(v, u) AS (
         |  SELECT v, v AS u FROM n
         |  UNION
         |  SELECT r0.v, e2.u FROM reach r0 JOIN e e2 ON e2.v = r0.u),
         |lab AS (SELECT v AS node, min(u) AS label FROM reach GROUP BY v),
         |d AS (SELECT doc_id, n_chars,
         |             CAST(len(${tokensSql("text")}) AS BIGINT) AS n_toks,
         |             ${hex64Sql("md5(text)")} AS h
         |      FROM documents),
         |sp AS MATERIALIZED (
         |  SELECT d.*, COALESCE(l.label, d.doc_id) AS cluster,
         |         ${hex64Sql("md5('split:' || CAST(d.doc_id AS VARCHAR))")} % 10 AS doc_split,
         |         ${hex64Sql("md5('split:' || CAST(COALESCE(l.label, d.doc_id) AS VARCHAR))")} % 10 AS cl_split
         |  FROM d LEFT JOIN lab l ON l.node = d.doc_id),
         |r AS MATERIALIZED (
         |  SELECT *, row_number() OVER (PARTITION BY cluster
         |                               ORDER BY n_chars DESC, doc_id) AS rn
         |  FROM sp)
         |SELECT '01_n_docs' AS metric, CAST(count(*) AS BIGINT) AS value FROM sp
         |UNION ALL SELECT '02_n_tokens', CAST(sum(n_toks) AS BIGINT) FROM sp
         |UNION ALL SELECT '03_n_tokens_effective',
         |  CAST(sum(CASE WHEN rn = 1 THEN n_toks ELSE 0 END) AS BIGINT) FROM r
         |UNION ALL SELECT '04_dedup_savings_ppm',
         |  CAST((1000000 * (sum(n_toks) - sum(CASE WHEN rn = 1 THEN n_toks ELSE 0 END))) // sum(n_toks) AS BIGINT) FROM r
         |UNION ALL SELECT '05_n_docs_train',
         |  CAST(sum(CASE WHEN cl_split <= 7 THEN 1 ELSE 0 END) AS BIGINT) FROM sp
         |UNION ALL SELECT '06_n_docs_val',
         |  CAST(sum(CASE WHEN cl_split = 8 THEN 1 ELSE 0 END) AS BIGINT) FROM sp
         |UNION ALL SELECT '07_n_docs_test',
         |  CAST(sum(CASE WHEN cl_split = 9 THEN 1 ELSE 0 END) AS BIGINT) FROM sp
         |UNION ALL SELECT '08_leakage_pairs_doc_split',
         |  CAST(count(*) AS BIGINT)
         |  FROM pp p JOIN sp a ON a.doc_id = p.doc_i
         |            JOIN sp b ON b.doc_id = p.doc_j
         |  WHERE a.doc_split <> b.doc_split
         |UNION ALL SELECT '09_leakage_pairs_cluster_split',
         |  CAST(count(*) AS BIGINT)
         |  FROM pp p JOIN sp a ON a.doc_id = p.doc_i
         |            JOIN sp b ON b.doc_id = p.doc_j
         |  WHERE a.cl_split <> b.cl_split
         |UNION ALL SELECT '10_corpus_checksum',
         |  CAST(CAST(sum(CAST(h AS DECIMAL(38,0))) AS DECIMAL(38,0)) % 1152921504606846976 AS BIGINT) FROM sp
         |ORDER BY metric""".stripMargin,

    // same closure, same per-cluster edge count vs clique arithmetic
    "q242_chain_audit" ->
      s"""WITH RECURSIVE ${DedupPack.ngramPairsCtes},
         |${ccLabelCtes("pairs")},
         |sz AS (SELECT label AS cluster, CAST(count(*) AS BIGINT) AS k
         |       FROM lab GROUP BY label),
         |ed AS (SELECT l.label AS cluster, CAST(count(*) AS BIGINT) AS n_direct
         |       FROM pairs p JOIN lab l ON l.node = p.doc_i GROUP BY l.label)
         |SELECT s.cluster, s.k,
         |       CAST(COALESCE(ed.n_direct, 0) AS BIGINT) AS n_direct,
         |       CAST(s.k * (s.k - 1) // 2 AS BIGINT) AS n_possible,
         |       CAST((1000000 * (s.k * (s.k - 1) // 2 - COALESCE(ed.n_direct, 0)))
         |              // (s.k * (s.k - 1) // 2) AS BIGINT) AS missing_ppm
         |FROM sz s LEFT JOIN ed ON ed.cluster = s.cluster
         |ORDER BY s.cluster""".stripMargin,

    // same closure, same rep election, same savings arithmetic
    "q235_effective_tokens" ->
      s"""WITH RECURSIVE ${DedupPack.ngramPairsCtes},
         |${ccLabelCtes("pairs")},
         |d AS (SELECT doc_id, source, n_chars,
         |             CAST(len(${tokensSql("text")}) AS BIGINT) AS n_toks
         |      FROM documents),
         |cl AS (SELECT d.*, COALESCE(l.label, d.doc_id) AS cluster
         |       FROM d LEFT JOIN lab l ON l.node = d.doc_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY cluster
         |                                   ORDER BY n_chars DESC, doc_id) AS rn
         |      FROM cl)
         |SELECT source, CAST(count(*) AS BIGINT) AS raw_docs,
         |       CAST(sum(n_toks) AS BIGINT) AS raw_tokens,
         |       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS eff_docs,
         |       CAST(sum(CASE WHEN rn = 1 THEN n_toks ELSE 0 END) AS BIGINT) AS eff_tokens,
         |       CAST((1000000 * (sum(n_toks) - sum(CASE WHEN rn = 1 THEN n_toks ELSE 0 END))) // sum(n_toks) AS BIGINT) AS savings_ppm
         |FROM r GROUP BY source
         |ORDER BY source""".stripMargin,

    // q235's recursive-closure oracle over the weighted pair CTE chain
    "q270_weighted_effective_tokens" ->
      s"""WITH RECURSIVE ${DedupPack.wminhashCtes},
         |wpairs AS (SELECT doc_i, doc_j FROM wscored
         |           WHERE est_matches >= 12 AND w_common * 1000000 // w_union >= 800000),
         |${ccLabelCtes("wpairs")},
         |d AS (SELECT doc_id, source, n_chars,
         |             CAST(len(${tokensSql("text")}) AS BIGINT) AS n_toks
         |      FROM documents),
         |cl AS (SELECT d.*, COALESCE(l.label, d.doc_id) AS cluster
         |       FROM d LEFT JOIN lab l ON l.node = d.doc_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY cluster
         |                                   ORDER BY n_chars DESC, doc_id) AS rn
         |      FROM cl)
         |SELECT source, CAST(count(*) AS BIGINT) AS raw_docs,
         |       CAST(sum(n_toks) AS BIGINT) AS raw_tokens,
         |       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS eff_docs,
         |       CAST(sum(CASE WHEN rn = 1 THEN n_toks ELSE 0 END) AS BIGINT) AS eff_tokens,
         |       CAST((1000000 * (sum(n_toks) - sum(CASE WHEN rn = 1 THEN n_toks ELSE 0 END))) // sum(n_toks) AS BIGINT) AS savings_ppm
         |FROM r GROUP BY source
         |ORDER BY source""".stripMargin,

    // same pair artifact construction, same lower-id origin rule
    "q233_copy_direction" ->
      s"""WITH ${DedupPack.ngramPairsCtes},
         |src AS (SELECT doc_id, source FROM documents)
         |SELECT a.source AS origin_source, b.source AS copy_source,
         |       CAST(count(*) AS BIGINT) AS n_pairs,
         |       CAST(count(DISTINCT p.doc_j) AS BIGINT) AS n_copied_docs
         |FROM pairs p
         |JOIN src a ON a.doc_id = p.doc_i
         |JOIN src b ON b.doc_id = p.doc_j
         |WHERE a.source <> b.source
         |GROUP BY a.source, b.source
         |ORDER BY origin_source, copy_source""".stripMargin,

    // identical integer quota/remainder arithmetic and the same
    // (rem desc, source) tie-break for the leftover slots
    "q231_budget_apportion" ->
      """WITH per AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
        |             FROM documents GROUP BY source),
        |tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total_docs FROM per),
        |q AS (SELECT source, n_docs,
        |             (1000 * n_docs) // total_docs AS base_quota,
        |             (1000 * n_docs) % total_docs AS rem
        |      FROM per CROSS JOIN tot),
        |r AS (SELECT *,
        |             CAST(row_number() OVER (ORDER BY rem DESC, source) AS BIGINT) AS rem_rank,
        |             1000 - CAST(sum(base_quota) OVER () AS BIGINT) AS n_left
        |      FROM q)
        |SELECT source, n_docs, CAST(base_quota AS BIGINT) AS base_quota,
        |       CAST(CASE WHEN rem_rank <= n_left THEN 1 ELSE 0 END AS BIGINT) AS extra,
        |       CAST(base_quota + CASE WHEN rem_rank <= n_left THEN 1 ELSE 0 END AS BIGINT) AS alloc
        |FROM r
        |ORDER BY source""".stripMargin,

    // same closure for clusters, then the identical md5-bucket digits
    "q225_cluster_split" ->
      s"""WITH RECURSIVE ${DedupPack.ngramPairsCtes},
         |${ccLabelCtes("pairs")},
         |cl AS (SELECT d.doc_id, COALESCE(l.label, d.doc_id) AS cluster
         |       FROM documents d LEFT JOIN lab l ON l.node = d.doc_id),
         |h AS (SELECT doc_id, cluster,
         |             ${hex64Sql("md5('split:' || CAST(cluster AS VARCHAR))")} % 10 AS hb
         |      FROM cl)
         |SELECT doc_id, cluster,
         |       CASE WHEN hb <= 7 THEN 'train'
         |            WHEN hb = 8 THEN 'val' ELSE 'test' END AS split
         |FROM h
         |ORDER BY doc_id""".stripMargin,

    // 5 unrolled integer-arithmetic rounds — the exact mirror of the
    // Spark loop (DuckDB `//` == Spark `div` on int64)
    "q55_pagerank" -> {
      val rounds = (1 to 5).map { i =>
        s"""r$i AS (SELECT e.u AS node,
           |            150000 + (85 * sum(r${i - 1}.s // d.deg)) // 100 AS s
           |     FROM e JOIN r${i - 1} ON r${i - 1}.node = e.v
           |            JOIN deg d ON d.v = e.v
           |     GROUP BY e.u)""".stripMargin
      }.mkString(",\n")
      s"""WITH ${DedupPack.ngramPairsCtes},
         |e AS (SELECT doc_i AS v, doc_j AS u FROM pairs
         |      UNION ALL SELECT doc_j, doc_i FROM pairs),
         |deg AS (SELECT v, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY v),
         |r0 AS (SELECT v AS node, CAST(1000000 AS BIGINT) AS s FROM deg),
         |$rounds
         |SELECT node AS doc_id, CAST(s AS BIGINT) AS score_q
         |FROM r5
         |ORDER BY doc_id""".stripMargin
    },

    // q55's unrolled-round shape with seed-only teleport: r0 mass on
    // the % 7 seeds, each round re-adds the 150000 restart to seeds only
    "q442_ppr" -> {
      val rounds = (1 to 4).map { i =>
        s"""r$i AS (SELECT e.u AS node,
           |            (85 * sum(r${i - 1}.s // d.deg)) // 100
           |              + CASE WHEN e.u % 7 = 0 THEN 150000 ELSE 0 END AS s
           |     FROM e JOIN r${i - 1} ON r${i - 1}.node = e.v
           |            JOIN deg d ON d.v = e.v
           |     GROUP BY e.u)""".stripMargin
      }.mkString(",\n")
      s"""WITH ${DedupPack.ngramPairsCtes},
         |e AS (SELECT doc_i AS v, doc_j AS u FROM pairs
         |      UNION ALL SELECT doc_j, doc_i FROM pairs),
         |deg AS (SELECT v, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY v),
         |r0 AS (SELECT v AS node,
         |              CASE WHEN v % 7 = 0 THEN CAST(1000000 AS BIGINT)
         |                   ELSE CAST(0 AS BIGINT) END AS s
         |       FROM deg),
         |$rounds
         |SELECT node AS doc_id, CAST(s AS BIGINT) AS score_q, node % 7 = 0 AS is_seed
         |FROM r4
         |ORDER BY doc_id""".stripMargin
    },

    // identical md5-hash sketches (ties broken by token), identical
    // k-min-of-union membership estimator, identical exact lane
    "q443_kmv_jaccard" ->
      s"""WITH tok AS (
        |  SELECT DISTINCT source,
        |         unnest(${tokensSql("text")}) AS w
        |  FROM documents),
        |v AS MATERIALIZED (
        |  SELECT source, w, ${hex64Sql("md5(w)")} AS h
        |  FROM tok),
        |sk AS MATERIALIZED (
        |  SELECT source, h, w FROM (
        |    SELECT source, h, w,
        |           row_number() OVER (PARTITION BY source ORDER BY h, w) AS rn
        |    FROM v) WHERE rn <= 64),
        |ps AS (SELECT a.source AS src_a, b.source AS src_b
        |       FROM (SELECT DISTINCT source FROM v) a,
        |            (SELECT DISTINCT source FROM v) b
        |       WHERE a.source < b.source),
        |tg AS (
        |  SELECT p.src_a, p.src_b, s.h, s.w, 1 AS ina, 0 AS inb
        |  FROM ps p JOIN sk s ON s.source = p.src_a
        |  UNION ALL
        |  SELECT p.src_a, p.src_b, s.h, s.w, 0, 1
        |  FROM ps p JOIN sk s ON s.source = p.src_b),
        |mg AS (SELECT src_a, src_b, h, w, MAX(ina) AS ina, MAX(inb) AS inb
        |       FROM tg GROUP BY 1, 2, 3, 4),
        |est AS (
        |  SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS k_used,
        |         CAST(SUM(ina * inb) AS BIGINT) AS n_both
        |  FROM (SELECT *, row_number() OVER (PARTITION BY src_a, src_b ORDER BY h, w) AS rn
        |        FROM mg) WHERE rn <= 64
        |  GROUP BY 1, 2),
        |nv AS (SELECT source, CAST(count(*) AS BIGINT) AS nv FROM v GROUP BY source),
        |itr AS (SELECT a.source AS src_a, b.source AS src_b,
        |               CAST(count(*) AS BIGINT) AS n_inter
        |        FROM v a JOIN v b ON b.w = a.w AND a.source < b.source
        |        GROUP BY 1, 2)
        |SELECT e.src_a AS src_a, e.src_b AS src_b, e.k_used, e.n_both,
        |       CAST((1000000 * e.n_both) // e.k_used AS BIGINT) AS j_est_ppm,
        |       CAST((1000000 * COALESCE(i.n_inter, 0))
        |            // (na.nv + nb.nv - COALESCE(i.n_inter, 0)) AS BIGINT) AS j_exact_ppm,
        |       CAST(ABS((1000000 * e.n_both) // e.k_used
        |            - (1000000 * COALESCE(i.n_inter, 0))
        |              // (na.nv + nb.nv - COALESCE(i.n_inter, 0))) AS BIGINT) AS err_ppm
        |FROM est e
        |JOIN nv na ON na.source = e.src_a
        |JOIN nv nb ON nb.source = e.src_b
        |LEFT JOIN itr i ON i.src_a = e.src_a AND i.src_b = e.src_b
        |ORDER BY src_a, src_b""".stripMargin,

    // same 4 unrolled peel rounds: degree >= k filter on both endpoints
    "q141_kcore" -> {
      val rounds = (1 to 4).map { i =>
        s"""k$i AS (SELECT v FROM e${i - 1} GROUP BY v HAVING count(*) >= 2),
           |e$i AS (SELECT e.v, e.u FROM e${i - 1} e
           |        JOIN k$i a ON a.v = e.v JOIN k$i b ON b.v = e.u)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH ${DedupPack.ngramPairsCtes},
         |e0 AS (SELECT doc_i AS v, doc_j AS u FROM pairs
         |       UNION ALL SELECT doc_j, doc_i FROM pairs),
         |$rounds
         |SELECT v AS doc_id, CAST(count(*) AS BIGINT) AS deg_in_core
         |FROM e4
         |GROUP BY v
         |ORDER BY doc_id""".stripMargin
    },

    // same 3 unrolled BFS rounds: min-message join + explicit
    // null-aware min (DuckDB least() NULL semantics differ from
    // Spark's, so both sides spell out the CASE)
    "q155_bfs_hops" -> {
      val rounds = (1 to 3).map { i =>
        s"""m$i AS (SELECT e.v, MIN(d.hops + 1) AS cand
           |     FROM e JOIN d${i - 1} d ON d.v = e.u
           |     WHERE d.hops IS NOT NULL GROUP BY e.v),
           |d$i AS (SELECT n.v,
           |     CASE WHEN n.hops IS NULL THEN m.cand
           |          WHEN m.cand IS NULL THEN n.hops
           |          WHEN m.cand < n.hops THEN m.cand ELSE n.hops END AS hops
           |     FROM d${i - 1} n LEFT JOIN m$i m ON m.v = n.v)""".stripMargin
      }.mkString(",\n")
      s"""WITH ${DedupPack.ngramPairsCtes},
         |e AS (SELECT doc_i AS v, doc_j AS u FROM pairs
         |      UNION ALL SELECT doc_j, doc_i FROM pairs),
         |d0 AS (SELECT DISTINCT v,
         |              CASE WHEN v % 7 = 0 THEN CAST(0 AS BIGINT) END AS hops
         |       FROM e),
         |$rounds
         |SELECT v AS doc_id, CAST(hops AS BIGINT) AS hops, v % 7 = 0 AS is_seed
         |FROM d3
         |ORDER BY doc_id""".stripMargin
    },

    // same 4 unrolled rounds: neighbor-label count, argmax with the
    // (count desc, label asc) tie order
    "q122_label_prop" -> {
      val rounds = (1 to 4).map { i =>
        s"""c$i AS (SELECT e.u, l.lbl, count(*) AS c
           |     FROM e JOIN l${i - 1} l ON l.node = e.v
           |     GROUP BY e.u, l.lbl),
           |l$i AS (SELECT u AS node, lbl FROM (
           |     SELECT u, lbl, row_number() OVER (PARTITION BY u ORDER BY c DESC, lbl) AS rn
           |     FROM c$i) WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH ${DedupPack.ngramPairsCtes},
         |e AS (SELECT doc_i AS v, doc_j AS u FROM pairs
         |      UNION ALL SELECT doc_j, doc_i FROM pairs),
         |l0 AS (SELECT DISTINCT v AS node, v AS lbl FROM e),
         |$rounds
         |SELECT node AS doc_id, CAST(lbl AS BIGINT) AS community
         |FROM l4
         |ORDER BY doc_id""".stripMargin
    },

    // q47's converged-component CTE chain, then a cluster-global
    // best-doc window (policy identical to q46's pairwise retention)
    "q48_cluster_reps" ->
      s"""WITH RECURSIVE ${DedupPack.ngramPairsCtes},
         |${ccLabelCtes("pairs")},
         |clustered AS (
         |  SELECT d.doc_id, coalesce(l.label, d.doc_id) AS cluster, d.n_chars
         |  FROM documents d LEFT JOIN lab l ON l.node = d.doc_id)
         |SELECT doc_id, cluster, n_chars,
         |       row_number() OVER (PARTITION BY cluster
         |                          ORDER BY n_chars DESC, doc_id) = 1 AS is_rep
         |FROM clustered
         |ORDER BY doc_id""".stripMargin,

    // the `sh` CTE of the pair chain is the per-doc DISTINCT shingle-id
    // set, so the join count is the distinct shared-gram count
    "q49_contamination" ->
      s"""WITH ${DedupPack.ngramPairsCtes},
         |ev AS (SELECT DISTINCT sid FROM sh WHERE doc_id % 97 = 0)
         |SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_shared_grams
         |FROM sh s JOIN ev ON ev.sid = s.sid
         |WHERE s.doc_id % 97 <> 0
         |GROUP BY s.doc_id
         |ORDER BY s.doc_id""".stripMargin,

    // same pair CTEs at the same 0.5 floor, same doc_id%10 split
    "q207_split_leakage" ->
      s"""WITH ${DedupPack.ngramPairsCtes},
         |sp AS (SELECT doc_i, doc_j FROM pairs WHERE jaccard >= 0.5),
         |dsp AS (SELECT doc_id,
         |               CASE WHEN doc_id % 10 <= 7 THEN 'train'
         |                    WHEN doc_id % 10 = 8 THEN 'val'
         |                    ELSE 'test' END AS split
         |        FROM documents),
         |px AS (SELECT d1.split AS split_i, d2.split AS split_j, sp.doc_i, sp.doc_j
         |       FROM sp JOIN dsp d1 ON d1.doc_id = sp.doc_i
         |               JOIN dsp d2 ON d2.doc_id = sp.doc_j),
         |leaks AS (
         |  SELECT split_j AS split, doc_j AS doc_id FROM px
         |  WHERE split_i = 'train' AND split_j <> 'train'
         |  UNION ALL
         |  SELECT split_i, doc_i FROM px
         |  WHERE split_j = 'train' AND split_i <> 'train'),
         |agg AS (SELECT split, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_leaked,
         |               CAST(count(*) AS BIGINT) AS n_pairs
         |        FROM leaks GROUP BY 1),
         |sizes AS (SELECT split, CAST(count(*) AS BIGINT) AS n_docs FROM dsp GROUP BY 1)
         |SELECT s.split, s.n_docs,
         |       CAST(COALESCE(a.n_leaked, 0) AS BIGINT) AS n_leaked,
         |       CAST(COALESCE(a.n_pairs, 0) AS BIGINT) AS n_cross_pairs,
         |       CAST((1000000 * COALESCE(a.n_leaked, 0)) // s.n_docs AS BIGINT) AS leak_rate_q
         |FROM sizes s LEFT JOIN agg a USING (split)
         |WHERE s.split <> 'train'
         |ORDER BY split""".stripMargin,

    // distinct (source, shingle) sets from the same sh CTE; the unused
    // tail CTEs of the chain are never referenced, so never evaluated
    "q127_source_overlap" ->
      s"""WITH ${DedupPack.ngramPairsCtes},
         |ss AS (SELECT DISTINCT d.source, s.sid
         |       FROM sh s JOIN documents d ON d.doc_id = s.doc_id),
         |ps AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM ss GROUP BY source),
         |ov AS (SELECT a.source AS source_i, b.source AS source_j,
         |              CAST(count(*) AS BIGINT) AS n_shared
         |       FROM ss a JOIN ss b ON a.sid = b.sid AND a.source < b.source
         |       GROUP BY a.source, b.source)
         |SELECT ov.source_i, ov.source_j, ov.n_shared, pi.n AS n_i, pj.n AS n_j,
         |       CAST(ov.n_shared AS DOUBLE) / CAST(pi.n + pj.n - ov.n_shared AS DOUBLE) AS jaccard
         |FROM ov JOIN ps pi ON pi.source = ov.source_i
         |         JOIN ps pj ON pj.source = ov.source_j
         |ORDER BY ov.source_i, ov.source_j""".stripMargin,

    // the standalone stages' CTEs chained: q65's quality predicate,
    // q47/q48's recursive components, q66's hash bucket; rep election
    // sorts quality-passers first
    "q58_corpus_manifest" ->
      s"""WITH RECURSIVE ${DedupPack.ngramPairsCtes},
         |${ccLabelCtes("pairs")},
         |q AS (
         |  SELECT doc_id, lang, n_chars,
         |         len(${tokensSql("text")}) AS n_tokens,
         |         len(list_distinct(${tokensSql("text")})) AS n_distinct,
         |         ${hex64Sql("md5(CAST(doc_id AS VARCHAR) || ':mix1')")} % 100 AS bucket
         |  FROM documents),
         |base AS (
         |  SELECT q.doc_id, q.lang, q.n_chars,
         |         (q.n_tokens >= 20 AND q.n_chars <= 1000 AND
         |          CASE WHEN q.n_tokens = 0 THEN false
         |               ELSE CAST(q.n_distinct AS DOUBLE) / q.n_tokens >= 0.3 END) AS pass_quality,
         |         q.bucket,
         |         coalesce(l.label, q.doc_id) AS cluster
         |  FROM q LEFT JOIN lab l ON l.node = q.doc_id),
         |ranked AS (
         |  SELECT *,
         |         row_number() OVER (PARTITION BY cluster
         |                            ORDER BY pass_quality DESC, n_chars DESC, doc_id) = 1 AS is_rep,
         |         bucket < CASE WHEN lang = 'en' THEN 50 ELSE 20 END AS pass_sample
         |  FROM base)
         |SELECT doc_id, lang, cluster, is_rep, pass_quality, pass_sample,
         |       CASE WHEN NOT pass_quality THEN 'drop_quality'
         |            WHEN NOT is_rep THEN 'drop_dup'
         |            WHEN NOT pass_sample THEN 'drop_sample'
         |            ELSE 'keep' END AS verdict
         |FROM ranked
         |ORDER BY doc_id""".stripMargin,

    // same md5-residue split buckets
    "q144_split_manifest" ->
      s"""SELECT split, CAST(count(*) AS BIGINT) AS n_docs, CAST(SUM(n) AS BIGINT) AS n_tokens
         |FROM (SELECT ${splitSql()} AS split,
         |             len(${tokensSql("text")}) AS n
         |      FROM documents)
         |GROUP BY split
         |ORDER BY split""".stripMargin,

    // same pair set (shared shingle CTEs), same split buckets per side
    "q145_split_leakage" ->
      s"""WITH ${DedupPack.ngramPairsCtes},
         |sp AS (SELECT doc_i, doc_j,
         |              ${splitSql("doc_i")} AS split_i,
         |              ${splitSql("doc_j")} AS split_j
         |       FROM pairs WHERE jaccard >= 0.5)
         |SELECT doc_i, doc_j, split_i, split_j
         |FROM sp
         |WHERE split_i <> split_j
         |ORDER BY doc_i, doc_j""".stripMargin,

    // same integer weight rule (1 + srcnum mod 10), budget 3× corpus,
    // floor/ceil division (// is DuckDB integer division)
    "q132_token_budget" ->
      s"""WITH per AS (
        |  SELECT source,
        |         CAST(sum(len(${tokensSql("text")})) AS BIGINT) AS n_tokens,
        |         CAST(substring(source, 4) AS BIGINT) % 10 + 1 AS w
        |  FROM documents GROUP BY source),
        |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |               CAST(sum(w) AS BIGINT) AS total_w FROM per),
        |plan AS (
        |  SELECT source, n_tokens, w,
        |         (total_tokens * 3 * w) // total_w AS wanted_tokens
        |  FROM per CROSS JOIN tot)
        |SELECT source, n_tokens, CAST(w AS BIGINT) AS weight,
        |       CAST(wanted_tokens AS BIGINT) AS wanted_tokens,
        |       CAST((wanted_tokens + n_tokens - 1) // n_tokens AS BIGINT) AS epochs,
        |       CAST(greatest(wanted_tokens - n_tokens, 0) AS BIGINT) AS repeated_tokens
        |FROM plan
        |ORDER BY source""".stripMargin,

    // identical sqrt floor-quantization (sqrt is exactly rounded in both
    // engines), identical integer ppm renormalization
    "q257_temperature_mix" ->
      """WITH per AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
        |             FROM documents GROUP BY 1),
        |sq AS (SELECT lang, n_docs,
        |              CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1e6) AS BIGINT) AS sq_q
        |       FROM per),
        |tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n_tot,
        |               CAST(SUM(sq_q) AS BIGINT) AS sq_tot FROM sq)
        |SELECT s.lang, s.n_docs,
        |       CAST(s.n_docs * 1000000 // t.n_tot AS BIGINT) AS natural_ppm,
        |       CAST(s.sq_q * 1000000 // t.sq_tot AS BIGINT) AS temp_prob_ppm,
        |       s.sq_q * 1000000 // t.sq_tot > s.n_docs * 1000000 // t.n_tot AS upsampled
        |FROM sq s CROSS JOIN tot t
        |ORDER BY lang""".stripMargin,

    "q75_mixture_weights" ->
      s"""WITH per AS (
        |  SELECT lang,
        |         CAST(count(*) AS BIGINT) AS n_docs,
        |         CAST(sum(len(${tokensSql("text")})) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY lang),
        |tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total_docs FROM per)
        |SELECT lang, n_docs, n_tokens,
        |       CAST(n_docs AS DOUBLE) / CAST(total_docs AS DOUBLE) AS actual_share,
        |       CAST(CASE WHEN lang = 'en' THEN 0.4 ELSE 0.15 END AS DOUBLE) AS target_share,
        |       CAST(CASE WHEN lang = 'en' THEN 0.4 ELSE 0.15 END AS DOUBLE) /
        |         (CAST(n_docs AS DOUBLE) / CAST(total_docs AS DOUBLE)) AS weight,
        |       (CAST(CASE WHEN lang = 'en' THEN 0.4 ELSE 0.15 END AS DOUBLE) /
        |         (CAST(n_docs AS DOUBLE) / CAST(total_docs AS DOUBLE))) * CAST(n_tokens AS DOUBLE)
        |         AS expected_tokens
        |FROM per, tot
        |ORDER BY lang""".stripMargin,

    // same ordered edge construction and wedge-close joins
    "q118_triangle_count" ->
      s"""WITH toks AS (
        |  SELECT doc_id, ${tokensSql("text")} AS ts
        |  FROM documents),
        |bgp AS (
        |  SELECT DISTINCT doc_id, least(ts[g.i], ts[g.i + 1]) AS a, greatest(ts[g.i], ts[g.i + 1]) AS b
        |  FROM toks, UNNEST(generate_series(1, greatest(len(ts) - 1, 0))) AS g(i)
        |  WHERE ts[g.i] <> ts[g.i + 1]),
        |e AS (SELECT a, b FROM bgp GROUP BY a, b HAVING count(*) >= 3),
        |tri AS (
        |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM e e1 JOIN e e2 ON e1.a = e2.a AND e1.b < e2.b
        |            JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b)
        |SELECT w, CAST(count(*) AS BIGINT) AS n_triangles
        |FROM (SELECT x AS w FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri)
        |GROUP BY w
        |ORDER BY w""".stripMargin,

    // same edge construction; the 3 peel rounds + final recount
    // replayed as unrolled CTEs
    "q440_ktruss" -> {
      // MATERIALIZED hints: every eN feeds three self-join arms of its
      // triangle CTE and the next round — without them DuckDB re-inlines
      // the whole upstream chain per reference (measured minutes vs
      // seconds at sf0.01)
      def supCte(tag: String, e: String): String =
        s"""tri$tag AS MATERIALIZED (
           |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
           |  FROM $e e1 JOIN $e e2 ON e1.a = e2.a AND e1.b < e2.b
           |              JOIN $e e3 ON e3.a = e1.b AND e3.b = e2.b),
           |s$tag AS MATERIALIZED (
           |  SELECT a, b, CAST(count(*) AS BIGINT) AS support FROM (
           |    SELECT t.x AS a, t.y AS b FROM tri$tag t
           |    UNION ALL SELECT t.x, t.z FROM tri$tag t
           |    UNION ALL SELECT t.y, t.z FROM tri$tag t)
           |  GROUP BY a, b)""".stripMargin
      val rounds = (1 to 3).map { r =>
        s"""${supCte(r.toString, s"e${r - 1}")},
           |e$r AS MATERIALIZED (SELECT e.a, e.b FROM e${r - 1} e
           |        JOIN s$r s ON s.a = e.a AND s.b = e.b
           |        WHERE s.support >= 2)""".stripMargin
      }.mkString(",\n")
      s"""WITH toks AS (
         |  SELECT doc_id, ${tokensSql("text")} AS ts
         |  FROM documents),
         |bgp AS (
         |  SELECT DISTINCT doc_id, least(ts[g.i], ts[g.i + 1]) AS a, greatest(ts[g.i], ts[g.i + 1]) AS b
         |  FROM toks, UNNEST(generate_series(1, greatest(len(ts) - 1, 0))) AS g(i)
         |  WHERE ts[g.i] <> ts[g.i + 1]),
         |e0 AS MATERIALIZED (SELECT a, b FROM bgp GROUP BY a, b HAVING count(*) >= 3),
         |$rounds,
         |${supCte("f", "e3")}
         |SELECT e.a AS a, e.b AS b, COALESCE(s.support, 0) AS support
         |FROM e3 e LEFT JOIN sf s ON s.a = e.a AND s.b = e.b
         |ORDER BY e.a, e.b""".stripMargin
    },

    // same edge list, degree from both endpoints, identical ×10⁶
    // floor-divided closure ratio
    // same pair table, same 60-bit md5 split, same wedge join and
    // threshold aggregates
    "q383_link_prediction" ->
      s"""WITH ${DedupPack.ngramPairsCtes},
         |tg AS (SELECT doc_i, doc_j,
         |              ${hex64Sql("md5(CAST(doc_i AS VARCHAR) || ':' || CAST(doc_j AS VARCHAR))")} % 5 AS h
         |       FROM pairs),
         |train AS (SELECT doc_i, doc_j FROM tg WHERE h <> 0),
         |probe AS (SELECT doc_i, doc_j FROM tg WHERE h = 0),
         |adj AS (SELECT doc_i AS w, doc_j AS x FROM train
         |        UNION ALL SELECT doc_j AS w, doc_i AS x FROM train),
         |wed AS (SELECT e1.x AS doc_i, e2.x AS doc_j
         |        FROM adj e1 JOIN adj e2 ON e1.w = e2.w AND e1.x < e2.x),
         |cn0 AS (SELECT doc_i, doc_j, CAST(count(*) AS BIGINT) AS cn FROM wed GROUP BY 1, 2),
         |cn AS (SELECT c.* FROM cn0 c
         |       WHERE NOT EXISTS (SELECT 1 FROM train t
         |                         WHERE t.doc_i = c.doc_i AND t.doc_j = c.doc_j)),
         |sc AS (SELECT c.cn, CASE WHEN p.doc_i IS NOT NULL THEN 1 ELSE 0 END AS hit
         |       FROM cn c LEFT JOIN probe p ON p.doc_i = c.doc_i AND p.doc_j = c.doc_j),
         |np AS (SELECT CAST(count(*) AS BIGINT) AS n_probe FROM probe),
         |th AS (SELECT UNNEST([1, 2, 3, 4]) AS t),
         |agg AS (SELECT th.t,
         |               CAST(SUM(CASE WHEN sc.cn >= th.t THEN 1 ELSE 0 END) AS BIGINT) AS n_pred,
         |               CAST(SUM(CASE WHEN sc.cn >= th.t THEN sc.hit ELSE 0 END) AS BIGINT) AS n_hits
         |        FROM th LEFT JOIN sc ON true GROUP BY th.t)
         |SELECT CAST(a.t AS INT) AS t, a.n_pred, a.n_hits,
         |       CAST(CASE WHEN a.n_pred > 0 THEN (a.n_hits * 1000000) // a.n_pred ELSE 0 END AS BIGINT) AS precision_ppm,
         |       CAST(CASE WHEN np.n_probe > 0 THEN (a.n_hits * 1000000) // np.n_probe ELSE 0 END AS BIGINT) AS recall_ppm
         |FROM agg a CROSS JOIN np
         |ORDER BY t""".stripMargin,

    "q328_clustering_coeff" ->
      s"""WITH toks AS (
        |  SELECT doc_id, ${tokensSql("text")} AS ts
        |  FROM documents),
        |bgp AS (
        |  SELECT DISTINCT doc_id, least(ts[g.i], ts[g.i + 1]) AS a, greatest(ts[g.i], ts[g.i + 1]) AS b
        |  FROM toks, UNNEST(generate_series(1, greatest(len(ts) - 1, 0))) AS g(i)
        |  WHERE ts[g.i] <> ts[g.i + 1]),
        |e AS (SELECT a, b FROM bgp GROUP BY a, b HAVING count(*) >= 3),
        |deg AS (SELECT w, CAST(count(*) AS BIGINT) AS degree
        |        FROM (SELECT a AS w FROM e UNION ALL SELECT b FROM e)
        |        GROUP BY w),
        |tri AS (
        |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM e e1 JOIN e e2 ON e1.a = e2.a AND e1.b < e2.b
        |            JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b),
        |pw AS (SELECT w, CAST(count(*) AS BIGINT) AS n_triangles
        |       FROM (SELECT x AS w FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri)
        |       GROUP BY w)
        |SELECT d.w, d.degree,
        |       CAST(COALESCE(p.n_triangles, 0) AS BIGINT) AS n_triangles,
        |       CAST((2 * COALESCE(p.n_triangles, 0) * 1000000) // (d.degree * (d.degree - 1)) AS BIGINT) AS cc_ppm
        |FROM deg d LEFT JOIN pw p USING (w)
        |WHERE d.degree >= 2
        |ORDER BY w""".stripMargin,

    // same file grouping, global running total, and floor-division bin
    // rule (// is DuckDB integer division, div on the Spark side)
    "q130_compaction_plan" ->
      """WITH files AS (
        |  SELECT source, doc_id // 50 AS file_id,
        |         CAST(SUM(n_chars) AS BIGINT) AS bytes,
        |         CAST(count(*) AS BIGINT) AS n_docs
        |  FROM documents GROUP BY 1, 2),
        |run AS (
        |  SELECT *, SUM(bytes) OVER (ORDER BY source, file_id
        |                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
        |  FROM files),
        |binned AS (SELECT *, (running - bytes) // 16384 AS bin FROM run)
        |SELECT CAST(bin AS BIGINT) AS bin, CAST(count(*) AS BIGINT) AS n_files,
        |       CAST(SUM(n_docs) AS BIGINT) AS n_docs, CAST(SUM(bytes) AS BIGINT) AS bin_bytes
        |FROM binned
        |GROUP BY bin
        |ORDER BY bin""".stripMargin,

    // same per-source prefix sum, chunk-range unnest, and clipped
    // overlap arithmetic — all integral
    "q116_seq_pack" ->
      s"""WITH n AS (
        |  SELECT source, doc_id,
        |         CAST(len(${tokensSql("text")}) AS BIGINT) AS n
        |  FROM documents),
        |cum AS (
        |  SELECT source, doc_id, n,
        |         CAST(SUM(n) OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT) AS end_tok,
        |         CAST(SUM(n) OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT) - n AS start_tok
        |  FROM n WHERE n > 0),
        |spans AS (
        |  SELECT source, doc_id, start_tok, end_tok, g.cid AS chunk_id,
        |         least(end_tok, (g.cid + 1) * 512) - greatest(start_tok, g.cid * 512) AS toks_in_chunk
        |  FROM cum, UNNEST(generate_series(start_tok // 512, (end_tok - 1) // 512)) AS g(cid))
        |SELECT source, chunk_id,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(toks_in_chunk) AS BIGINT) AS n_tokens,
        |       CAST(min(doc_id) AS BIGINT) AS first_doc,
        |       CAST(max(doc_id) AS BIGINT) AS last_doc
        |FROM spans
        |GROUP BY 1, 2
        |ORDER BY source, chunk_id""".stripMargin,

    // same hash-derived uniform, same double arithmetic order
    "q124_priority_sample" ->
      s"""WITH h AS (
        |  SELECT source, doc_id, n_chars,
        |         ${hex64Sql("md5(CAST(doc_id AS VARCHAR) || ':ps1')")} + 1 AS hv
        |  FROM documents),
        |p AS (
        |  SELECT source, doc_id, n_chars,
        |         CAST(n_chars AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE) / CAST(hv AS DOUBLE) AS priority
        |  FROM h),
        |r AS (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY source ORDER BY priority DESC, doc_id) AS BIGINT) AS rk
        |  FROM p)
        |SELECT source, doc_id, n_chars, priority, rk
        |FROM r WHERE rk <= 20
        |ORDER BY source, rk""".stripMargin,

    "q66_sample_stratified" ->
      s"""WITH t AS (
        |  SELECT doc_id, lang,
        |         ${hex64Sql("md5(CAST(doc_id AS VARCHAR) || ':mix1')")} % 100 AS bucket
        |  FROM documents)
        |SELECT doc_id, lang, bucket
        |FROM t
        |WHERE bucket < CASE WHEN lang = 'en' THEN 50 ELSE 20 END
        |ORDER BY doc_id""".stripMargin,

    // same (2m)²-scaled contributions off the shared pair CTEs
    "q304_source_modularity" ->
      s"""WITH ${DedupPack.ngramPairsCtes},
         |e AS (SELECT p.doc_i, p.doc_j, da.source AS src_i, db.source AS src_j
         |      FROM pairs p JOIN documents da ON da.doc_id = p.doc_i
         |                   JOIN documents db ON db.doc_id = p.doc_j),
         |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e),
         |sym AS (SELECT doc_i AS v FROM pairs UNION ALL SELECT doc_j FROM pairs),
         |deg AS (SELECT v, CAST(count(*) AS BIGINT) AS deg FROM sym GROUP BY v),
         |dm AS (SELECT d2.source, CAST(sum(deg) AS BIGINT) AS d_s, CAST(count(*) AS BIGINT) AS n_nodes
         |       FROM deg JOIN documents d2 ON d2.doc_id = deg.v GROUP BY 1),
         |ie AS (SELECT src_i AS source, CAST(count(*) AS BIGINT) AS l_s
         |       FROM e WHERE src_i = src_j GROUP BY 1)
         |SELECT dm.source, dm.n_nodes,
         |       CAST(coalesce(ie.l_s, 0) AS BIGINT) AS intra_edges,
         |       dm.d_s AS degree_sum, mm.m AS n_edges,
         |       CAST(4 * mm.m * coalesce(ie.l_s, 0) - dm.d_s * dm.d_s AS BIGINT) AS contrib_q
         |FROM dm LEFT JOIN ie USING (source) CROSS JOIN mm
         |ORDER BY source""".stripMargin,

    // same directed edge-end moments, same one-divide double
    "q305_degree_assortativity" ->
      s"""WITH ${DedupPack.ngramPairsCtes},
         |sym AS (SELECT doc_i AS v, doc_j AS u FROM pairs
         |        UNION ALL SELECT doc_j, doc_i FROM pairs),
         |deg AS (SELECT v, CAST(count(*) AS BIGINT) AS deg FROM sym GROUP BY v),
         |ed AS (SELECT dx.deg AS dx, dy.deg AS dy
         |       FROM sym JOIN deg dx ON dx.v = sym.v JOIN deg dy ON dy.v = sym.u),
         |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |             CAST(sum(dx) AS BIGINT) AS sx, CAST(sum(dy) AS BIGINT) AS sy,
         |             CAST(sum(dx * dx) AS BIGINT) AS sxx, CAST(sum(dy * dy) AS BIGINT) AS syy,
         |             CAST(sum(dx * dy) AS BIGINT) AS sxy
         |      FROM ed)
         |SELECT n AS n_edge_ends,
         |       CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0 THEN 0.0
         |            ELSE CAST(n * sxy - sx * sy AS DOUBLE)
         |                 / sqrt(CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE))
         |       END AS assortativity
         |FROM m
         |ORDER BY n_edge_ends""".stripMargin,

    // same hash text, same max-then-min-shard argmax
    "q300_rendezvous_shards" ->
      s"""WITH ex AS (
        |  SELECT doc_id, g.sh AS sh,
        |         ${hex64Sql("md5(CAST(doc_id AS VARCHAR) || ':shard:' || CAST(g.sh AS VARCHAR))")} AS h
        |  FROM documents, UNNEST(generate_series(0, 19)) AS g(sh)),
        |m16 AS (SELECT doc_id, max(h) AS m FROM ex WHERE sh < 16 GROUP BY doc_id),
        |a16 AS (SELECT e.doc_id, min(e.sh) AS s16
        |        FROM ex e JOIN m16 t ON t.doc_id = e.doc_id AND e.h = t.m
        |        WHERE e.sh < 16 GROUP BY e.doc_id),
        |m20 AS (SELECT doc_id, max(h) AS m FROM ex GROUP BY doc_id),
        |a20 AS (SELECT e.doc_id, min(e.sh) AS s20
        |        FROM ex e JOIN m20 t ON t.doc_id = e.doc_id AND e.h = t.m
        |        GROUP BY e.doc_id)
        |SELECT CAST(s16 AS INT) AS s16, CAST(s20 AS INT) AS s20,
        |       s16 <> s20 AS moved,
        |       CAST(count(*) AS BIGINT) AS n_docs
        |FROM a16 JOIN a20 USING (doc_id)
        |GROUP BY 1, 2, 3
        |ORDER BY s16, s20""".stripMargin,

    // same gate predicates (q65), same survivor-only keeper set, same
    // 5-row suffix-sum funnel
    "q287_filter_funnel" ->
      s"""WITH t AS (
        |  SELECT doc_id, n_chars, md5(text) AS h,
        |         len(${tokensSql("text")}) AS n_tokens,
        |         len(list_distinct(${tokensSql("text")})) AS n_distinct
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, h, n_tokens,
        |         n_tokens >= 20 AS p1, n_chars <= 1000 AS p2,
        |         CASE WHEN n_tokens = 0 THEN false
        |              ELSE CAST(n_distinct AS DOUBLE) / n_tokens >= 0.3 END AS p3
        |  FROM t),
        |keep AS (SELECT h, min(doc_id) AS keep_id FROM f WHERE p1 AND p2 AND p3 GROUP BY h),
        |lvl AS (
        |  SELECT f.doc_id, f.n_tokens,
        |         CASE WHEN NOT p1 THEN 0 WHEN NOT p2 THEN 1 WHEN NOT p3 THEN 2
        |              WHEN f.doc_id = k.keep_id THEN 4 ELSE 3 END AS level
        |  FROM f LEFT JOIN keep k USING (h)),
        |per AS (SELECT level, CAST(count(*) AS BIGINT) AS c, CAST(sum(n_tokens) AS BIGINT) AS t
        |        FROM lvl GROUP BY level),
        |grid AS (SELECT unnest(generate_series(0, 4)) AS stage),
        |g AS (SELECT grid.stage, coalesce(per.c, 0) AS c, coalesce(per.t, 0) AS t
        |      FROM grid LEFT JOIN per ON per.level = grid.stage),
        |suf AS (
        |  SELECT stage,
        |         sum(c) OVER (ORDER BY stage DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_docs,
        |         sum(t) OVER (ORDER BY stage DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_tokens
        |  FROM g),
        |tot AS (SELECT sum(c) AS total FROM g)
        |SELECT CAST(stage AS INT) AS stage,
        |       CASE stage WHEN 0 THEN 'raw' WHEN 1 THEN 'min_len' WHEN 2 THEN 'max_len'
        |                  WHEN 3 THEN 'ttr' ELSE 'exact_dedup' END AS stage_name,
        |       CAST(n_docs AS BIGINT) AS n_docs,
        |       CAST(n_tokens AS BIGINT) AS n_tokens,
        |       CAST(n_docs * 1000000 // total AS BIGINT) AS docs_ppm
        |FROM suf CROSS JOIN tot
        |ORDER BY stage""".stripMargin,

    "q65_quality_gate" ->
      s"""WITH t AS (
        |  SELECT doc_id, n_chars,
        |         len(${tokensSql("text")}) AS n_tokens,
        |         len(list_distinct(${tokensSql("text")})) AS n_distinct
        |  FROM documents)
        |SELECT doc_id,
        |       CAST(n_tokens AS BIGINT) AS n_tokens,
        |       n_tokens >= 20 AS pass_min_len,
        |       n_chars <= 1000 AS pass_max_len,
        |       -- CASE (not AND) so the div-by-zero arm is never evaluated:
        |       -- SQL AND does not short-circuit and NULL/NaN compares differ
        |       CASE WHEN n_tokens = 0 THEN false
        |            ELSE CAST(n_distinct AS DOUBLE) / n_tokens >= 0.3 END AS pass_ttr,
        |       (n_tokens >= 20 AND n_chars <= 1000 AND
        |        CASE WHEN n_tokens = 0 THEN false
        |             ELSE CAST(n_distinct AS DOUBLE) / n_tokens >= 0.3 END) AS pass_all
        |FROM t
        |ORDER BY doc_id""".stripMargin
  )
}
