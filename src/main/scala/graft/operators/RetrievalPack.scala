package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{QueryPack, Tables}
import graft.core.Pin.{materialized, warmed}
import graft.functions.TextFunctions._

/** Retrieval-side text operators: BM25 ranked retrieval and winnowing
  * document fingerprints — the lookup/attribution half of a training-data
  * pipeline (the dedup packs are the cleaning half).
  *
  * Reference scope note: the reference engine (Freebirdgo/MapReduce_Rust,
  * `src/app/wc.rs`) ships exactly one text application — word count; these
  * operators extend the same token stream (SURVEY.md §2 O3/O4 tokenization,
  * reproduced by [[graft.functions.TextFunctions.tokens]]) to the retrieval
  * operations a corpus platform needs. All public-literature techniques:
  * Okapi BM25 (Robertson & Zaragoza 2009, the Lucene-variant idf) and
  * robust winnowing (Schleimer, Wilkerson, Aiken — SIGMOD 2003, the MOSS
  * fingerprinting algorithm).
  */
object RetrievalPack extends QueryPack {

  /** BM25 free parameters (the standard defaults). Written as the exact
    * literals `1.2` / `0.75` / `0.25` (= 1 - b) in BOTH engines so the
    * IEEE arithmetic is identical term-for-term. */
  private val k1 = 1.2
  private val b = 0.75

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- Okapi BM25 ranked retrieval: score every document against a
    // deterministic 5-term query set (document-frequency ranks 10-14 —
    // mid-frequency terms, the regime BM25 is built for) and emit the
    // top-10 docs per query term.
    //
    // Scale shape: ONE corpus shuffle builds the (doc, term) tf table;
    // doc lengths are a doc-cardinality aggregate of tf; document
    // frequencies are vocab-sized but feed only a TakeOrderedAndProject
    // partial top-k (never a global window over the vocabulary); the
    // 5-row query table broadcasts into tf, so only docs containing a
    // query term survive to the doc-length join; the final per-query
    // top-10 is rank<=10 over 5 partitions — Spark plans WindowGroupLimit,
    // so each map task forwards at most 10 rows per query term.
    //
    // Portability: idf is ln-quantized floor(x*1e6) per TERM (the
    // q05/q76/q117 discipline); the tf-normalization is pure IEEE
    // +,*,/ over exact integer inputs written identically in both
    // engines; the final score re-floors the product, and ranking uses
    // only the quantized score with a doc_id tie-break. ----
    "q163_bm25" -> { (s, d) =>
      bm25TopDocs(s, d)
        .select(col("q_rank").cast("int").as("q_rank"), col("w").as("term"),
          col("doc_rank").cast("int").as("doc_rank"), col("doc_id"),
          col("cnt"), col("dl"), col("df"), col("score_q"))
        .orderBy("q_rank", "doc_rank")
    },

    // ---- INCREMENTAL BM25 INDEX MAINTENANCE: the retrieval index's
    // member of the build-once-maintain-forever family (dedup q101,
    // IVF q423). The stored artifact holds the BASE corpus's per-term
    // (df, cf) postings stats and the (n_docs, sum_dl) meta; a delta
    // batch (doc_id % 10 == 7, the q101 split) is tokenized ALONE —
    // O(|delta|) scan, the base corpus is never re-read — and merged
    // by one vocabulary equi-join into the updated stats for every
    // TOUCHED term, with the idf each term's postings must be
    // re-scored under (old vs new, q163's exact Lucene-variant
    // expression). This is the search-index refresh a corpus platform
    // runs per ingest; at 100 TB the term store is bucketed by w so
    // the merge co-locates. The oracle recomputes both sides DIRECTLY
    // from the documents table (per-doc is_delta flag), so the gate
    // proves incremental ≡ batch (the q101 discipline). ----
    "q424_bm25_delta" -> { (s, d) =>
      val delta = Tables.documents(s, d)
        .filter(pmod(col("doc_id"), lit(DedupPack.deltaMod)) === lit(DedupPack.deltaRem))
      val dTerms = delta
        .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("cnt"))
        .groupBy("w").agg(count(lit(1)).as("df_delta"), sum("cnt").as("cf_delta"))
      val dMeta = delta
        .select(size(tokens(col("text"))).cast("bigint").as("dl"))
        .agg(count(lit(1)).as("n_delta"),
          coalesce(sum("dl"), lit(0L)).as("sum_dl_delta"))
      bm25Merge(s, d, dTerms, dMeta).orderBy("term")
    },

    // ---- BLOCK-MAX WAND top-k retrieval (Ding & Suel, SIGIR 2011 —
    // the at-scale BM25 query path; MaxScore/WAND family): candidate
    // PRUNING before scoring, driven by per-block score upper bounds
    // stored NEXT TO the postings as a tiny once-per-corpus artifact.
    // Postings for the panel terms are blocked by doc_id range
    // (doc_id div 16, ≙ a posting list's skip blocks); the block-max
    // index holds each (term, block)'s max BM25 score.
    //
    // Pruning is EXACT in this regime, by witness counting: every
    // block's max is an ACTUAL document score in that block, so the
    // 10th-largest block-max θ for a term certifies ≥ 10 docs (one per
    // distinct block) scoring ≥ θ — hence the true 10th-best score is
    // ≥ θ, and a block with blk_max < θ (strictly) can contain neither
    // a top-10 doc nor a doc_id tie-break competitor (all its docs
    // score < θ). Terms whose postings span < 10 blocks keep every
    // block (no certificate → no prune), degrading to the full scan.
    // The gate is therefore HASH-IDENTITY with q163: bm25OracleSql
    // VERBATIM — WAND must return the exact full-scan top-10.
    //
    // Scale shape: at 100 TB the postings artifact is the stored index
    // (sorted by block inside each term so parquet row-group stats
    // skip non-surviving blocks); the block-max side is |panel|×|blocks|
    // rows — kilobytes — and broadcasts into the postings join, so a
    // query reads the tiny upper-bound table plus ONLY the surviving
    // blocks' postings, never the corpus. ----
    "q451_bm25_wand" -> { (s, d) =>
      val (postings, blockMax) = bmwIndex(s, d)
      val wTheta = Window.partitionBy("q_rank").orderBy(col("blk_max").desc, col("blk"))
      val theta = blockMax
        .withColumn("brk", row_number().over(wTheta))
        .filter(col("brk") <= 10)
        .groupBy("q_rank")
        .agg(min("blk_max").as("theta"), count(lit(1)).as("n_cert"))
      val surviving = blockMax.join(broadcast(theta), "q_rank")
        .filter(col("n_cert") < 10 || col("blk_max") >= col("theta"))
        .select("q_rank", "blk")
      val top = postings.join(broadcast(surviving), Seq("q_rank", "blk"))
        .withColumn("doc_rank", row_number().over(
          Window.partitionBy(col("q_rank")).orderBy(col("score_q").desc, col("doc_id"))))
        .filter(col("doc_rank") <= 10)
        .select(col("q_rank").cast("int").as("q_rank"), col("w").as("term"),
          col("doc_rank").cast("int").as("doc_rank"), col("doc_id"),
          col("cnt"), col("dl"), col("df"), col("score_q"))
      materialized(top).orderBy("q_rank", "doc_rank")
    },

    // ---- DIRICHLET-SMOOTHED QUERY LIKELIHOOD retrieval (Zhai &
    // Lafferty, SIGIR 2001; μ = 2000, the standard setting): the other
    // classical probabilistic ranking next to q163's BM25, over the
    // SAME deterministic query panel so the two models are directly
    // comparable (q392 quantifies their rank agreement). The smoothed
    // log-probability ln((c + μ·cf/N)/(dl + μ)) is factored to
    // qln(c·N + μ·cf) − qln(N·(dl + μ)) so ln() touches only
    // INTEGER-valued doubles (the NB qln contract) and the score is
    // exact int64. Same shapes as BM25: broadcast panel join, topK
    // windows over panel-bounded groups. ----
    "q391_dirichlet_ql" -> { (s, d) =>
      qlTopDocs(s, d)
        .select(col("q_rank").cast("int").as("q_rank"), col("w").as("term"),
          col("doc_rank").cast("int").as("doc_rank"), col("doc_id"),
          col("cnt"), col("dl"), col("cf"), col("score_q"))
        .orderBy("q_rank", "doc_rank")
    },

    // ---- RANK-BIASED OVERLAP (Webber, Moffat & Zobel, TOIS 2010)
    // between the BM25 and Dirichlet-QL top-10 lists per query — the
    // top-weighted agreement measure for indefinite rankings (Kendall
    // needs conjoint lists; RBO handles the disjoint tails two
    // retrieval models produce). Truncated at depth 10 with p = 0.9;
    // the geometric weights enter as PRECOMPUTED integer literals
    // (floor(10⁸·(1−p)p^{d−1})) and each depth's term is the exact
    // integer (overlap_d · w_d) div d, so the sum is order-independent
    // int64 — no engine evaluates a power. Both rankings are
    // 10-rows-per-query frames; everything here is panel-bounded. ----
    "q392_rbo_rankings" -> { (s, d) =>
      val wts = Seq(10000000L, 9000000L, 8100000L, 7290000L, 6561000L,
        5904900L, 5314410L, 4782969L, 4304672L, 3874204L)
      val a = bm25TopDocs(s, d).select(col("q_rank"), col("doc_id"),
        col("doc_rank").as("ra"))
      val bq = qlTopDocs(s, d).select(col("q_rank"), col("doc_id"),
        col("doc_rank").as("rb"))
      val pairs = a.join(bq, Seq("q_rank", "doc_id"), "full_outer")
      val ov = pairs
        .select(col("q_rank"), col("ra"), col("rb"),
          explode(expr("sequence(1, 10)")).as("d"))
        .filter(col("ra") <= col("d") && col("rb") <= col("d"))
        .groupBy("q_rank", "d").agg(count(lit(1)).as("ov"))
      val grid = a.select("q_rank").distinct()
        .select(col("q_rank"), explode(expr("sequence(1, 10)")).as("d"))
      val wArr = array(wts.map(lit): _*)
      val terms = grid.join(ov, Seq("q_rank", "d"), "left")
        .na.fill(0L, Seq("ov"))
        .withColumn("wd", element_at(wArr, col("d")))
        .withColumn("term", expr("(ov * wd) div d"))
      val result = terms.groupBy("q_rank")
        .agg(max(when(col("d") === 1, col("ov"))).as("overlap_1"),
          max(when(col("d") === 5, col("ov"))).as("overlap_5"),
          max(when(col("d") === 10, col("ov"))).as("overlap_10"),
          sum("term").as("rbo_e8"))
        .select(col("q_rank").cast("int").as("q_rank"),
          col("overlap_1").cast("bigint").as("overlap_1"),
          col("overlap_5").cast("bigint").as("overlap_5"),
          col("overlap_10").cast("bigint").as("overlap_10"),
          col("rbo_e8").cast("bigint").as("rbo_e8"))
      result.orderBy("q_rank")
    },

    // ---- Robust winnowing (MOSS): guaranteed-density fingerprint
    // selection over token 4-gram hashes — in every window of w=4
    // consecutive k-gram hashes select the RIGHTMOST minimal hash; the
    // distinct selected hashes are the document's fingerprint set. The
    // guarantee (SIGMOD 2003 §4): any shared run of w+k-1 = 7 tokens
    // between two documents yields at least one shared fingerprint,
    // while only ~2/(w+1) of the grams are kept.
    //
    // Scale shape: a PURE MAP STAGE — per-document higher-order
    // functions over the gram-hash array (window extraction is O(w)=O(1)
    // per position, so per-doc work is linear), no explode, no shuffle
    // but the final sort. The oracle implements the SAME algorithm
    // RELATIONALLY (window-min over a position stream + a rightmost-
    // argmin join) — two independent formulations agreeing hash-exactly,
    // the q03/ASOF gate philosophy.
    //
    // Output is the per-doc selection summary: gram/window/selection
    // cardinalities plus an order-insensitive fingerprint-set checksum
    // (min, max, and sum of 60-bit ids mod 1e9 — exact-set evidence
    // without a row per fingerprint). Docs with < k tokens have no
    // grams and are excluded by construction on both sides. ----
    "q164_winnow_fingerprint" -> { (s, d) =>
      val w = 4 // winnowing window (in grams); gram size k = 4 tokens
      // Both the token array AND the gram-hash array MUST be cached
      // columns: projection collapse inlines single-consumer upstream
      // projections, so a non-cached `toks` is re-tokenized inside EVERY
      // shingle element_at (≈4·grams full-regex passes per doc — the
      // HOF-CSE trap, BASELINE.md round 2), and a non-cached `h` would
      // recompute the md5 array per window-fold probe. Measured at
      // sf0.1: 20-25 s with either inlined vs ~2 s with both cached, on
      // identical output.
      val tokf = warmed(Tables.documents(s, d)
        .select(col("doc_id"), tokens(col("text")).as("toks")))
      val base = warmed(tokf
        .select(col("doc_id"), wordShinglesOf(col("toks"), 4).as("gr"))
        .filter(size(col("gr")) > 0)
        .select(col("doc_id"), transform(col("gr"), g => hex64(md5(g))).as("h")))
      // Rightmost-argmin per window as ONE aggregate() fold over the w-1
      // trailing offsets (`<=` makes later offsets win ties) — O(w) array
      // probes per position with no window materialization.
      val sel = base
        .withColumn("n", size(col("h")))
        .withColumn("n_windows", greatest(col("n") - (w - 1), lit(1)))
        .withColumn("selpos", array_distinct(expr(
          s"""transform(sequence(1, n_windows), p ->
             |  aggregate(filter(sequence(1, ${w - 1}), o -> p + o <= n),
             |    named_struct('v', element_at(h, p), 'j', p),
             |    (st, o) -> if(element_at(h, p + o) <= st.v,
             |                  named_struct('v', element_at(h, p + o), 'j', p + o),
             |                  st)).j)""".stripMargin)))
        .withColumn("fp", array_distinct(
          transform(col("selpos"), j => element_at(col("h"), j))))
      val result = sel.select(col("doc_id"),
        col("n").cast("bigint").as("n_grams"),
        col("n_windows").cast("bigint").as("n_windows"),
        size(col("selpos")).cast("bigint").as("n_sel"),
        size(col("fp")).cast("bigint").as("n_fp"),
        array_min(col("fp")).as("fp_min"),
        array_max(col("fp")).as("fp_max"),
        aggregate(col("fp"), lit(0L), (a, x) => a + x % lit(1000000000L))
          .as("fp_summod"))
      materialized(result, base, tokf).orderBy("doc_id")
    },

    // ---- positional phrase search: the operation BM25's bag-of-words
    // scoring cannot express — "these two tokens, ADJACENT, in order".
    // The query set is self-derived (top-3 corpus bigrams, deterministic
    // tie-break), then answered the way a 100 TB positional index would:
    // postings are filtered to the query terms by a broadcast semi-join
    // BEFORE any pairing (at scale: a partition-pruned read of two
    // term-keyed posting lists), and adjacency is an equi-join on
    // (query, doc, pos+1) — co-partitioned, never a corpus-wide bigram
    // materialization on the retrieval path. The corpus bigram counts
    // themselves come from a map-only per-doc transform (no self-join),
    // collapsing to ≤|vocab|² rows under partial aggregation. The
    // `corpus_occ` column (from the counting path) equaling `n_hits`
    // (from the retrieval path) is a visible cross-check of the two
    // independent formulations. ----
    "q185_phrase_search" -> { (s, d) =>
      val toksF = warmed(Tables.documents(s, d)
        .select(col("doc_id"), tokens(col("text")).as("t")))
      val bigs = toksF.select(explode(expr(
          "transform(sequence(1, size(t) - 1), i -> " +
            "named_struct('w1', element_at(t, i), 'w2', element_at(t, i + 1)))"))
          .as("b"))
        .groupBy(col("b.w1").as("w1"), col("b.w2").as("w2"))
        .agg(count(lit(1)).as("cnt"))
      val q3 = bigs.orderBy(col("cnt").desc, col("w1"), col("w2")).limit(3)
        .withColumn("q_rank", row_number().over(
          Window.orderBy(col("cnt").desc, col("w1"), col("w2"))))
      val post = toksF.select(col("doc_id"), posexplode(col("t")).as(Seq("pos", "w")))
      val p1 = post.join(broadcast(q3.select(col("w1").as("w"), col("q_rank"))), "w")
        .select(col("q_rank"), col("doc_id"), col("pos"))
      val p2 = post.join(broadcast(q3.select(col("w2").as("w"), col("q_rank"))), "w")
        .select(col("q_rank"), col("doc_id"), (col("pos") - 1).as("pos"))
      val hits = p1.join(p2, Seq("q_rank", "doc_id", "pos"))
      val result = hits.groupBy("q_rank")
        .agg(count(lit(1)).cast("bigint").as("n_hits"),
          countDistinct(col("doc_id")).cast("bigint").as("n_docs"),
          min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
        .join(broadcast(q3), "q_rank")
        .select(col("q_rank").cast("int").as("q_rank"), col("w1"), col("w2"),
          col("cnt").cast("bigint").as("corpus_occ"),
          col("n_hits"), col("n_docs"), col("first_doc"), col("last_doc"))
      materialized(result, toksF).orderBy("q_rank")
    },

    // ---- exact all-pairs set-similarity join with PREFIX FILTERING
    // (Chaudhuri et al. SSJoin / Bayardo et al. WWW 2007; the MapReduce
    // formulation is Vernica et al. SIGMOD 2010): unlike MinHash (q41)
    // or SimHash (q42), this candidate generation has NO false negatives
    // — two shingle sets with Jaccard >= t MUST share an element of
    // their length-(n - ceil(t*n) + 1) prefixes under any global token
    // order. Ordering rarest-df-first makes those prefixes the least
    // common shingles, so prefix postings (and thus candidates) stay
    // small. The equi-join on prefix ids replaces the quadratic all-
    // pairs comparison; survivors are verified EXACTLY with the sorted-
    // intersect codegen kernel over the full id arrays.
    //
    // The gate is the strongest kind: the output must equal the
    // independently-built inverted-index pair table (q43's oracle CTEs)
    // at the same threshold — an exact algorithm checked against a
    // different exact algorithm. t = 0.5; prefix len = n - ceil(n/2) + 1
    // in pure integer arithmetic. ----
    "q168_ppjoin_exact" -> { (s, d) =>
      graft.functions.GraftExpressions.ensure(s)
      val ds = DedupPack.docShingles(s, d)
      val dfreq = ds.groupBy("sid").agg(count(lit(1)).as("df"))
      // per-doc state: ids ordered rarest-first for the prefix, plus the
      // sorted full id array for the exact verify (one co-partitioned
      // join — ds is already keyed by sid from the artifact build)
      val docsArr = warmed(ds.join(dfreq, "sid")
        .groupBy("doc_id")
        .agg(sort_array(collect_list(struct(col("df"), col("sid")))).as("ord"),
          sort_array(collect_list(col("sid"))).as("ids"),
          count(lit(1)).as("n")))
      // r15 note: the PPJoin length filter (Bayardo 2007 §3.1 — J >= 1/2
      // forces max(n_i,n_j) <= 2·min, provably output-neutral) was tried
      // INSIDE this join and REVERTED: it regressed 1.65 -> 2.9 s at
      // sf0.1 and 4.9 vs 5.2 s at ×10 (OPTIMIZATION_r15.md VERDICT #5) —
      // this corpus's doc lengths are too uniform for the filter to
      // prune anything, so it only paid the wider prefix exchange (n on
      // both sides) and the extra join predicate.
      val prefixes = docsArr
        .withColumn("l", expr("n - (n + 1) div 2 + 1"))
        .select(col("doc_id"),
          explode(expr("transform(slice(ord, 1, cast(l AS int)), x -> x.sid)")).as("pid"))
      val cand = prefixes.as("a").join(prefixes.as("b"),
          col("a.pid") === col("b.pid") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_i"), col("b.doc_id").as("doc_j"))
        .distinct()
      val left = docsArr.select(col("doc_id").as("doc_i"),
        col("ids").as("ids_i"), col("n").as("n_i"))
      val right = docsArr.select(col("doc_id").as("doc_j"),
        col("ids").as("ids_j"), col("n").as("n_j"))
      val verified = cand.join(left, "doc_i").join(right, "doc_j")
        .withColumn("n_common",
          graft.functions.GraftExpressions
            .sortedLongIntersectCount(col("ids_i"), col("ids_j")).cast("bigint"))
        .withColumn("jaccard", col("n_common").cast("double") /
          (col("n_i") + col("n_j") - col("n_common")).cast("double"))
        .filter(col("jaccard") >= 0.5)
        .select(col("doc_i"), col("doc_j"), col("n_common"), col("jaccard"))
      materialized(verified, docsArr).orderBy("doc_i", "doc_j")
    }
  )

  /** DuckDB token-list CTE body (the shared oracle tokenization — same
    * regex pipeline as [[graft.functions.TextFunctions.tokens]]; see the
    * ASCII-corpus caveat in [[graft.core.QueryPack]]). */
  /** Shared retrieval substrate: per-doc term frequencies, doc lengths,
    * corpus stats, and the deterministic query panel (df ranks 10..14 —
    * a bounded TakeOrdered slice, 14 rows at any corpus size, then a
    * 14-row window for the rank). Used by q163/q391/q392. */
  private def retrievalBase(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val tf = Tables.documents(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("cnt"))
    val dl = tf.groupBy("doc_id").agg(sum(col("cnt")).as("dl"))
    val dfreq = tf.groupBy("w").agg(count(lit(1)).as("df"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val qterms = dfreq.orderBy(col("df").desc, col("w")).limit(14)
      .withColumn("q_rank", row_number().over(
        Window.orderBy(col("df").desc, col("w"))))
      .filter(col("q_rank").between(10, 14))
    (tf, dl, stats, qterms)
  }

  /** q451's stored index pair: (postings, block-max). Postings = the
    * panel terms' scored posting lists blocked by `doc_id div 16` and
    * SORTED by (q_rank, blk) inside the write so parquet row-group
    * stats can skip pruned blocks; block-max = each (term, block)'s
    * score upper bound — the tiny skip-index artifact (Ding & Suel's
    * block-max structure). Scores are q163's exact expression, so the
    * index IS the full-scan ranking's data, just laid out for skipping.
    */
  private[graft] def bmwIndex(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val key = graft.core.Artifacts.corpusKey(d, "documents.parquet")
    val postingsPath = graft.core.Artifacts.materialize(s"bmw_postings_v1_$key") { tmp =>
      bm25Scored(s, d)
        .withColumn("blk", (col("doc_id") / lit(16L)).cast("bigint"))
        .select("q_rank", "w", "blk", "doc_id", "cnt", "dl", "df", "score_q")
        .repartition(1)
        .sortWithinPartitions("q_rank", "blk", "doc_id")
        .write.mode("overwrite").parquet(tmp)
    }
    val blockMaxPath = graft.core.Artifacts.materialize(s"bmw_blockmax_v1_$key") { tmp =>
      s.read.parquet(postingsPath)
        .groupBy("q_rank", "blk")
        .agg(max("score_q").as("blk_max"))
        .coalesce(1)
        .write.mode("overwrite").parquet(tmp)
    }
    (s.read.parquet(postingsPath), s.read.parquet(blockMaxPath))
  }

  /** The panel terms' postings with q163's exact BM25 score `score_q`
    * (idf and tf-normalization quantized to int64). Called by q163's
    * [[bm25TopDocs]] and the q451 postings artifact ([[bmwIndex]]). */
  private def bm25Scored(s: SparkSession, d: String): DataFrame = {
    val (tf, dl, stats, qterms) = retrievalBase(s, d)
    tf.join(broadcast(qterms), "w")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("idf_q",
        floor(log(
          (col("n_docs").cast("double") - col("df").cast("double") + lit(0.5)) /
            (col("df").cast("double") + lit(0.5)) + lit(1.0)) * lit(1e6))
          .cast("bigint"))
      .withColumn("tfnorm",
        (col("cnt").cast("double") * lit(k1 + 1.0)) /
          (col("cnt").cast("double") + lit(k1) * (lit(1.0 - b) +
            lit(b) * (col("dl").cast("double") * col("n_docs").cast("double") /
              col("sum_dl").cast("double")))))
      .withColumn("score_q",
        floor(col("idf_q").cast("double") * col("tfnorm")).cast("bigint"))
  }

  /** q163's ranked frame (panel term × top-10 docs, BM25 scores). */
  private def bm25TopDocs(s: SparkSession, d: String): DataFrame =
    bm25Scored(s, d)
      .withColumn("doc_rank", row_number().over(
        Window.partitionBy(col("q_rank")).orderBy(col("score_q").desc, col("doc_id"))))
      .filter(col("doc_rank") <= 10)

  /** q424's stored base-corpus index stats, as once-per-corpus ARTIFACTS
    * (the build-once-maintain-forever treatment q101 gives the dedup
    * store and q423 the IVF model): per-term `(w, df, cf)` postings
    * stats over the base split, plus the one-row `(n_docs, sum_dl)`
    * corpus meta. A delta ingest reads these, never re-tokenizes the
    * base corpus. */
  /** q424's merge stage, shared VERBATIM with the streaming twin (q431):
    * delta term stats + delta meta, merged by one vocabulary equi-join
    * into the stored base artifact's per-term (df, cf) and corpus meta,
    * with the old/new idf each touched term must be re-scored under.
    * Keeping this one code path is what makes stream ≡ batch a code
    * identity, not a coincidence. */
  private[graft] def bm25Merge(s: SparkSession, d: String,
                               dTerms: DataFrame, dMeta: DataFrame): DataFrame = {
    val (baseTerms, baseMeta) = bm25BaseStats(s, d)
    def idfMicro(n: Column, df: Column): Column =
      floor(log((n.cast("double") - df.cast("double") + lit(0.5)) /
        (df.cast("double") + lit(0.5)) + lit(1.0)) * lit(1e6)).cast("bigint")
    dTerms
      .join(baseTerms.select(col("w"), col("df").as("df_base"),
        col("cf").as("cf_base")), Seq("w"), "left")
      .na.fill(0L, Seq("df_base", "cf_base"))
      .crossJoin(broadcast(baseMeta.select(col("n_docs").as("n_base"),
        col("sum_dl").as("sum_dl_base"))))
      .crossJoin(broadcast(dMeta))
      .withColumn("df_new", col("df_base") + col("df_delta"))
      .withColumn("n_new", col("n_base") + col("n_delta"))
      .select(col("w").as("term"),
        col("df_base").cast("bigint").as("df_base"),
        col("df_delta").cast("bigint").as("df_delta"),
        col("df_new").cast("bigint").as("df_new"),
        (col("cf_base") + col("cf_delta")).cast("bigint").as("cf_new"),
        col("n_new").cast("bigint").as("n_docs_new"),
        (col("sum_dl_base") + col("sum_dl_delta")).cast("bigint").as("sum_dl_new"),
        idfMicro(col("n_base"), col("df_base")).as("idf_old_micro"),
        idfMicro(col("n_new"), col("df_new")).as("idf_new_micro"))
  }

  private def bm25BaseStats(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val key = graft.core.Artifacts.corpusKey(d, "documents.parquet")
    def baseDocs = Tables.documents(s, d)
      .filter(pmod(col("doc_id"), lit(DedupPack.deltaMod)) =!= lit(DedupPack.deltaRem))
    val termsPath = graft.core.Artifacts.materialize(s"bm25_base_terms_v1_$key") { tmp =>
      baseDocs
        .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("cnt"))
        .groupBy("w").agg(count(lit(1)).as("df"), sum("cnt").as("cf"))
        .write.mode("overwrite").parquet(tmp)
    }
    val metaPath = graft.core.Artifacts.materialize(s"bm25_base_meta_v1_$key") { tmp =>
      baseDocs
        .select(size(tokens(col("text"))).cast("bigint").as("dl"))
        .agg(count(lit(1)).as("n_docs"),
          coalesce(sum("dl"), lit(0L)).as("sum_dl"))
        .write.mode("overwrite").parquet(tmp)
    }
    (s.read.parquet(termsPath), s.read.parquet(metaPath))
  }

  /** q391's ranked frame: Dirichlet-smoothed query likelihood (μ=2000)
    * over the same panel, scores exact int64 via integer-argument qln. */
  private def qlTopDocs(s: SparkSession, d: String): DataFrame = {
    val (tf, dl, stats, qterms) = retrievalBase(s, d)
    val cf = tf.groupBy("w").agg(sum("cnt").as("cf"))
    val scored = tf
      .join(broadcast(qterms), "w")
      .join(broadcast(cf), "w")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("score_q", expr(
        "cast(floor(ln(cast(cnt * sum_dl + 2000 * cf as double)) * 1e6) as bigint)" +
          " - cast(floor(ln(cast(sum_dl * (dl + 2000) as double)) * 1e6) as bigint)"))
    scored
      .withColumn("doc_rank", row_number().over(
        Window.partitionBy(col("q_rank")).orderBy(col("score_q").desc, col("doc_id"))))
      .filter(col("doc_rank") <= 10)
  }

  /** Shared oracle CTE prefix mirroring [[retrievalBase]]. */
  private def retrievalBaseCtes: String =
    s"""tok AS (${DedupPack.duckToks}),
       |tf0 AS (SELECT doc_id, unnest(ts) AS w FROM tok),
       |tf AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS cnt FROM tf0 GROUP BY doc_id, w),
       |dl AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
       |dfreq AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY w),
       |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl),
       |qsel AS (SELECT w, df FROM dfreq ORDER BY df DESC, w LIMIT 14),
       |qterms AS (SELECT w, df, row_number() OVER (ORDER BY df DESC, w) AS q_rank FROM qsel),
       |q AS (SELECT * FROM qterms WHERE q_rank BETWEEN 10 AND 14)""".stripMargin

  private def bm25OracleSql: String =
    s"""WITH $retrievalBaseCtes,
       |scored AS (
       |  SELECT q.q_rank, q.w, t.doc_id, t.cnt, dl.dl, q.df,
       |         CAST(floor(ln((CAST(n_docs AS DOUBLE) - CAST(q.df AS DOUBLE) + 0.5) /
       |                       (CAST(q.df AS DOUBLE) + 0.5) + 1.0) * 1e6) AS BIGINT) AS idf_q,
       |         (CAST(t.cnt AS DOUBLE) * ${k1 + 1.0}) /
       |           (CAST(t.cnt AS DOUBLE) + $k1 * (${1.0 - b} +
       |             $b * (CAST(dl.dl AS DOUBLE) * CAST(n_docs AS DOUBLE) /
       |               CAST(sum_dl AS DOUBLE)))) AS tfnorm
       |  FROM tf t JOIN q ON q.w = t.w JOIN dl ON dl.doc_id = t.doc_id, stats),
       |final AS (
       |  SELECT q_rank, w, doc_id, cnt, dl, df,
       |         CAST(floor(CAST(idf_q AS DOUBLE) * tfnorm) AS BIGINT) AS score_q
       |  FROM scored),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY q_rank ORDER BY score_q DESC, doc_id) AS doc_rank
       |  FROM final)
       |SELECT CAST(q_rank AS INT) AS q_rank, w AS term, CAST(doc_rank AS INT) AS doc_rank,
       |       doc_id, cnt, dl, df, score_q
       |FROM ranked WHERE doc_rank <= 10
       |ORDER BY q_rank, doc_rank""".stripMargin

  private def qlOracleSql: String =
    s"""WITH $retrievalBaseCtes,
       |cf AS (SELECT w, CAST(SUM(cnt) AS BIGINT) AS cf FROM tf GROUP BY w),
       |scored AS (
       |  SELECT q.q_rank, q.w, t.doc_id, t.cnt, dl.dl, cf.cf,
       |         CAST(floor(ln(CAST(t.cnt * sum_dl + 2000 * cf.cf AS DOUBLE)) * 1e6) AS BIGINT)
       |           - CAST(floor(ln(CAST(sum_dl * (dl.dl + 2000) AS DOUBLE)) * 1e6) AS BIGINT) AS score_q
       |  FROM tf t JOIN q ON q.w = t.w JOIN cf ON cf.w = t.w
       |  JOIN dl ON dl.doc_id = t.doc_id, stats),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY q_rank ORDER BY score_q DESC, doc_id) AS doc_rank
       |  FROM scored)
       |SELECT CAST(q_rank AS INT) AS q_rank, w AS term, CAST(doc_rank AS INT) AS doc_rank,
       |       doc_id, cnt, dl, cf, score_q
       |FROM ranked WHERE doc_rank <= 10
       |ORDER BY q_rank, doc_rank""".stripMargin

  override def oracle: Map[String, String] = Map(

    // independent formulation: bigrams by positional SELF-JOIN (vs the
    // Spark side's map-only array transform) — agreement is evidence the
    // adjacency semantics match, not just the arithmetic
    "q185_phrase_search" ->
      s"""WITH toks AS (
        |  SELECT doc_id,
        |         ${tokensSql("text")} AS t
        |  FROM documents),
        |pos AS (
        |  SELECT doc_id, unnest(t) AS w, unnest(generate_series(1, len(t))) AS p
        |  FROM toks),
        |big AS (
        |  SELECT a.w AS w1, b.w AS w2, a.doc_id
        |  FROM pos a JOIN pos b ON b.doc_id = a.doc_id AND b.p = a.p + 1),
        |cnts AS (SELECT w1, w2, count(*) AS cnt FROM big GROUP BY w1, w2),
        |q3 AS (
        |  SELECT w1, w2, cnt,
        |         row_number() OVER (ORDER BY cnt DESC, w1, w2) AS q_rank
        |  FROM cnts QUALIFY q_rank <= 3),
        |hits AS (
        |  SELECT q3.q_rank, big.doc_id FROM big JOIN q3 USING (w1, w2)),
        |agg AS (
        |  SELECT q_rank, count(*) AS n_hits, count(DISTINCT doc_id) AS n_docs,
        |         min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |  FROM hits GROUP BY q_rank)
        |SELECT CAST(q3.q_rank AS INT) AS q_rank, q3.w1, q3.w2,
        |       CAST(q3.cnt AS BIGINT) AS corpus_occ,
        |       CAST(n_hits AS BIGINT) AS n_hits, CAST(n_docs AS BIGINT) AS n_docs,
        |       first_doc, last_doc
        |FROM agg JOIN q3 ON q3.q_rank = agg.q_rank
        |ORDER BY q_rank""".stripMargin,

    "q163_bm25" -> bm25OracleSql,

    // q163's oracle VERBATIM: block-max WAND prunes blocks, never
    // answers — the pruned path must return the exact full-scan top-10
    // (rows, ties, and all)
    "q451_bm25_wand" -> bm25OracleSql,

    // direct full recompute with a per-doc is_delta flag — the
    // incremental Spark path (stored base artifact + delta-only scan +
    // merge) must land on the batch answer exactly
    "q424_bm25_delta" -> {
      val dm = DedupPack.deltaMod
      val dr = DedupPack.deltaRem
      def idf(n: String, df: String) =
        s"CAST(floor(ln((CAST($n AS DOUBLE) - CAST($df AS DOUBLE) + 0.5) / " +
          s"(CAST($df AS DOUBLE) + 0.5) + 1.0) * 1e6) AS BIGINT)"
      s"""WITH tok AS (
         |  SELECT doc_id, doc_id % $dm = $dr AS is_delta,
         |         ${tokensSql("text")} AS ts
         |  FROM documents),
         |tf AS (SELECT doc_id, is_delta, w, CAST(count(*) AS BIGINT) AS cnt
         |       FROM (SELECT doc_id, is_delta, unnest(ts) AS w FROM tok)
         |       GROUP BY 1, 2, 3),
         |term AS (SELECT w,
         |    CAST(SUM(CASE WHEN is_delta THEN 0 ELSE 1 END) AS BIGINT) AS df_base,
         |    CAST(SUM(CASE WHEN is_delta THEN 1 ELSE 0 END) AS BIGINT) AS df_delta,
         |    CAST(SUM(CASE WHEN is_delta THEN 0 ELSE cnt END) AS BIGINT) AS cf_base,
         |    CAST(SUM(CASE WHEN is_delta THEN cnt ELSE 0 END) AS BIGINT) AS cf_delta
         |  FROM tf GROUP BY w),
         |meta AS (SELECT
         |    CAST(SUM(CASE WHEN NOT t.is_delta THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
         |    CAST(SUM(CASE WHEN t.is_delta THEN 1 ELSE 0 END) AS BIGINT) AS n_delta,
         |    CAST(SUM(CASE WHEN NOT t.is_delta THEN len(t.ts) ELSE 0 END) AS BIGINT) AS sum_dl_base,
         |    CAST(SUM(CASE WHEN t.is_delta THEN len(t.ts) ELSE 0 END) AS BIGINT) AS sum_dl_delta
         |  FROM tok t)
         |SELECT w AS term, df_base, df_delta,
         |       df_base + df_delta AS df_new,
         |       cf_base + cf_delta AS cf_new,
         |       n_base + n_delta AS n_docs_new,
         |       sum_dl_base + sum_dl_delta AS sum_dl_new,
         |       ${idf("n_base", "df_base")} AS idf_old_micro,
         |       ${idf("n_base + n_delta", "df_base + df_delta")} AS idf_new_micro
         |FROM term, meta
         |WHERE df_delta > 0
         |ORDER BY term""".stripMargin
    },

    // same integer-argument qln factorization, same panel, same top-10
    "q391_dirichlet_ql" -> qlOracleSql,

    // both rankings recomputed (materialized — each referenced per
    // depth), same literal weight ladder and exact per-depth terms
    "q392_rbo_rankings" ->
      s"""WITH a AS MATERIALIZED (SELECT q_rank, doc_id, doc_rank AS ra FROM ($bm25OracleSql) t),
         |b AS MATERIALIZED (SELECT q_rank, doc_id, doc_rank AS rb FROM ($qlOracleSql) t),
         |pairs AS (
         |  SELECT COALESCE(a.q_rank, b.q_rank) AS q_rank,
         |         COALESCE(a.doc_id, b.doc_id) AS doc_id, a.ra, b.rb
         |  FROM a FULL OUTER JOIN b ON b.q_rank = a.q_rank AND b.doc_id = a.doc_id),
         |ov AS (
         |  SELECT q_rank, g.d, CAST(count(*) AS BIGINT) AS ov
         |  FROM pairs, UNNEST(generate_series(1, 10)) AS g(d)
         |  WHERE ra <= g.d AND rb <= g.d
         |  GROUP BY 1, 2),
         |grid AS (
         |  SELECT DISTINCT a.q_rank, g.d
         |  FROM a, UNNEST(generate_series(1, 10)) AS g(d)),
         |wt(d, wd) AS (VALUES (1, 10000000), (2, 9000000), (3, 8100000),
         |  (4, 7290000), (5, 6561000), (6, 5904900), (7, 5314410),
         |  (8, 4782969), (9, 4304672), (10, 3874204)),
         |terms AS (
         |  SELECT g.q_rank, g.d, COALESCE(o.ov, 0) AS ov,
         |         (COALESCE(o.ov, 0) * wt.wd) // g.d AS term
         |  FROM grid g
         |  LEFT JOIN ov o ON o.q_rank = g.q_rank AND o.d = g.d
         |  JOIN wt ON wt.d = g.d)
         |SELECT CAST(q_rank AS INT) AS q_rank,
         |       CAST(MAX(CASE WHEN d = 1 THEN ov END) AS BIGINT) AS overlap_1,
         |       CAST(MAX(CASE WHEN d = 5 THEN ov END) AS BIGINT) AS overlap_5,
         |       CAST(MAX(CASE WHEN d = 10 THEN ov END) AS BIGINT) AS overlap_10,
         |       CAST(SUM(term) AS BIGINT) AS rbo_e8
         |FROM terms
         |GROUP BY q_rank
         |ORDER BY q_rank""".stripMargin,

    "q164_winnow_fingerprint" ->
      s"""WITH tok AS (${DedupPack.duckToks}),
         |g0 AS (SELECT doc_id, CAST(g.i AS INT) AS p,
         |              ts[g.i] || ' ' || ts[g.i + 1] || ' ' || ts[g.i + 2] || ' ' || ts[g.i + 3] AS s
         |       FROM tok, UNNEST(generate_series(1, len(ts) - 3)) AS g(i)
         |       WHERE len(ts) >= 4),
         |grams AS (SELECT doc_id, p, ${hex64Sql("md5(s)")} AS h FROM g0),
         |n AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams FROM grams GROUP BY doc_id),
         |win AS (SELECT doc_id, p, h,
         |               min(h) OVER (PARTITION BY doc_id ORDER BY p
         |                            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m
         |        FROM grams),
         |starts AS (SELECT w.doc_id, w.p, w.m FROM win w JOIN n USING (doc_id)
         |           WHERE w.p <= greatest(n.n_grams - 3, 1)),
         |sel AS (SELECT s.doc_id, s.p AS wstart, max(g.p) AS j
         |        FROM starts s JOIN grams g
         |          ON g.doc_id = s.doc_id AND g.p >= s.p AND g.p <= s.p + 3 AND g.h = s.m
         |        GROUP BY s.doc_id, s.p),
         |selpos AS (SELECT DISTINCT doc_id, j FROM sel),
         |sela AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sel FROM selpos GROUP BY doc_id),
         |fps AS (SELECT DISTINCT sp.doc_id, g.h
         |        FROM selpos sp JOIN grams g ON g.doc_id = sp.doc_id AND g.p = sp.j),
         |fpa AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp,
         |               min(h) AS fp_min, max(h) AS fp_max,
         |               CAST(sum(h % 1000000000) AS BIGINT) AS fp_summod
         |        FROM fps GROUP BY doc_id)
         |SELECT n.doc_id, n.n_grams,
         |       CAST(greatest(n.n_grams - 3, 1) AS BIGINT) AS n_windows,
         |       sela.n_sel, fpa.n_fp, fpa.fp_min, fpa.fp_max, fpa.fp_summod
         |FROM n JOIN sela USING (doc_id) JOIN fpa USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    // the exact pair set by a DIFFERENT exact algorithm: q43's inverted-
    // index CTEs, thresholded — prefix filtering must reproduce it
    "q168_ppjoin_exact" ->
      s"""WITH ${DedupPack.ngramPairsCtes}
         |SELECT doc_i, doc_j, CAST(shared AS BIGINT) AS n_common, jaccard
         |FROM pairs
         |WHERE jaccard >= 0.5
         |ORDER BY doc_i, doc_j""".stripMargin
  )
}
