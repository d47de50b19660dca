package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{QueryPack, Tables}
import graft.core.Pin.{checkpointed, materialized, persisted, warmed}
import graft.functions.PrefixSum
import graft.functions.TextFunctions._

/** Text-analysis operators for a training-data pipeline over `documents`:
  * heuristic language-ID, quality scoring, token statistics, and
  * rolling-hash fingerprinting. Everything is per-document (narrow, no
  * shuffle except the final ORDER BY), so the pipeline maps 1:1 onto a
  * 100 TB corpus scan.
  */
object TextPack extends QueryPack {

  /** Stopword profiles for the n-gram/stopword language-ID heuristic.
    * On real corpora these are per-language function-word lists; the
    * driver's synthetic corpus has a 31-word vocabulary, so the profiles
    * are drawn from it — the operator structure (profile intersection →
    * argmax) is the real thing.
    */
  private val langProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("stream", "window", "group", "merge"),
    "en" -> Seq("the", "a", "fast", "slow"),
    "es" -> Seq("data", "table", "sort", "scan"),
    "fr" -> Seq("query", "row", "line", "value"),
    "zh" -> Seq("join", "filter", "hash", "key"))

  private val stopwords = Seq("the", "a")

  /** BPE merge rounds trained by q108. */
  private[graft] val bpeRounds = 6

  /** The trained BPE model as a once-per-corpus artifact (the IVF-model
    * precedent): a tokenizer is trained once and applied by every
    * downstream job, so the training fold runs once per (corpus, logic
    * version) and q108 (merge trajectory), q109 (vocabulary), and q114
    * (corpus tokenization) read the stored `merges`/`state` tables —
    * training cost is charged to the artifact's first user, never
    * repeated per query. Returns the artifact directory containing
    * `merges` (round, left_sym, right_sym, pair_count) and `state`
    * (w, symstr, cnt — every word's final symbol segmentation).
    */
  private def bpeModelDir(s: SparkSession, d: String): String = {
    val key = graft.core.Artifacts.corpusKey(d, "documents.parquet")
    graft.core.Artifacts.materialize(s"bpe_model_v1_$key") { tmp =>
      val (rounds, fin, s0) = bpeTrain(s, d)
      rounds.reduce(_ union _).coalesce(1).write.parquet(s"$tmp/merges")
      fin.write.parquet(s"$tmp/state")
      s0.unpersist()
      // multi-table artifact: Spark leaves _SUCCESS inside each table
      // dir, but materialize()'s completeness probe is the TOP-LEVEL
      // marker — without it every later JVM re-builds and collides
      java.nio.file.Files.createFile(
        java.nio.file.Paths.get(tmp, "_SUCCESS"))
    }
  }

  /** q441's training fold: vocabulary selection, integer-qln scores,
    * relational Viterbi DP + backtrack, E-step usage counts. Returns the
    * UNSORTED model table; the caller stores it as the once-per-corpus
    * unigram_tok artifact (the bpeModelDir discipline).
    */
  private def unigramTokTrain(s: SparkSession, d: String): DataFrame = {
      val maxLen = 10
      val pieceMax = 4
      val qln = (x: org.apache.spark.sql.Column) =>
        floor(log(x.cast("double")) * lit(1e6)).cast("bigint")
      val words = warmed(Tables.documents(s, d)
        .select(explode(tokens(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("cnt"))
        .filter(length(col("w")) <= maxLen))
      // every (word, end-pos j, piece-len l) substring occurrence
      val occ = words
        .select(col("w"), col("cnt"), explode(sequence(lit(1), length(col("w")))).as("j"))
        .select(col("w"), col("cnt"), col("j"),
          explode(sequence(lit(1), least(lit(pieceMax), col("j")))).as("l"))
        .withColumn("piece", expr("substring(w, j - l + 1, l)"))
      val pieceCnt = occ.groupBy("piece").agg(sum("cnt").as("piece_count"))
      val vocab = pieceCnt.filter(length(col("piece")) === 1)
        .unionByName(pieceCnt.filter(length(col("piece")) > 1)
          .orderBy(desc("piece_count"), asc("piece")).limit(48))
      val tot = vocab.agg(sum("piece_count").as("tot"))
      val scored = warmed(vocab.crossJoin(broadcast(tot))
        .select(col("piece"), col("piece_count"),
          (qln(col("piece_count")) - qln(col("tot"))).as("score_q")))
      val matches = warmed(occ.select("w", "j", "l", "piece")
        .join(scored.select("piece", "score_q"), "piece")
        .select("w", "j", "l", "score_q"))
      // DP: dp(j) = per-word best total score of a segmentation of the
      // first j chars, + the argmax last-piece length bl
      val dpByJ = scala.collection.mutable.ArrayBuffer[DataFrame](
        checkpointed(words.select(col("w"), lit(0L).as("best"), lit(0).as("bl"))))
      for (r <- 1 to maxLen) {
        val arms = (1 to math.min(pieceMax, r)).map { lArm =>
          matches.filter(col("j") === r && col("l") === lArm)
            .join(dpByJ(r - lArm).select(col("w"), col("best").as("pb")), "w")
            .select(col("w"), (col("pb") + col("score_q")).as("cand"), col("l"))
        }.reduce(_ unionByName _)
        dpByJ += checkpointed(arms.groupBy("w")
          .agg(max(struct(col("cand"), (-col("l")).as("nl"))).as("m"))
          .select(col("w"), col("m.cand").as("best"), (-col("m.nl")).as("bl")))
      }
      val dpAllPos = checkpointed(dpByJ.zipWithIndex.drop(1)
        .map { case (df, j) => df.select(col("w"), lit(j).as("pos"), col("bl")) }
        .reduce(_ unionByName _))
      // backtrack the stored choices; every reachable pos has a dp row
      // (singles guarantee reachability), so the inner join never drops
      var frontier = checkpointed(words
        .select(col("w"), col("cnt"), length(col("w")).as("pos")))
      var emitted: DataFrame = null
      for (_ <- 1 to maxLen) {
        val step = checkpointed(frontier.filter(col("pos") > 0)
          .join(dpAllPos, Seq("w", "pos"))
          .select(col("w"), col("cnt"),
            expr("substring(w, pos - bl + 1, bl)").as("piece"),
            (col("pos") - col("bl")).as("pos")))
        val e = step.select("piece", "cnt")
        emitted = if (emitted == null) e else emitted.union(e)
        frontier = step.select("w", "cnt", "pos")
      }
      val usage = emitted.groupBy("piece").agg(sum("cnt").as("viterbi_count"))
      val result = scored.join(usage, Seq("piece"), "left")
        .select(col("piece"),
          col("piece_count").cast("bigint").as("piece_count"),
          col("score_q").cast("bigint").as("score_q"),
          coalesce(col("viterbi_count"), lit(0L)).cast("bigint").as("viterbi_count"))
      val out = materialized(result, words, scored, matches)
      out
  }

  /** The BPE training fold (Sennrich et al. 2016) behind the
    * [[bpeModelDir]] artifact. Returns (one labeled best-pair frame per
    * round, the final per-word `(w, symstr, cnt)` state, the warmed s0
    * for the caller to release).
    *
    * Each round's 1-row argmax winner is checkpointed before use:
    * without that the lazy plan re-embeds every prior round's
    * aggregation (round r's state references best_r AND the full prior
    * state, so the plan doubles per round and round 1's groupBy would
    * re-execute 2^(r-1) times). With the checkpoint plus the warmed s0,
    * each round scans the cached word-frequency table through r narrow
    * replace projections — per-round work stays O(vocab), and the
    * corpus is only ever scanned once (the initial groupBy).
    */
  private def bpeTrain(s: SparkSession, d: String)
      : (Seq[DataFrame], DataFrame, DataFrame) = {
    val words = Tables.documents(s, d)
      .select(explode(tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
    val s0 = warmed(words.select(
      col("w"),
      concat(lit(" "),
        array_join(regexp_extract_all(col("w"), lit("."), lit(0)), " "),
        lit(" ")).as("symstr"),
      col("cnt")))
    val (rounds, fin) = (1 to bpeRounds).foldLeft(
        (Seq.empty[DataFrame], s0: DataFrame)) { case ((acc, prev), r) =>
      val syms = split(trim(col("symstr")), " ")
      val pairs = prev
        .select(explode(wordShinglesOf(syms, 2)).as("pair"), col("cnt"))
        .groupBy("pair").agg(sum("cnt").as("pair_count"))
        .select(expr("split_part(pair, ' ', 1)").as("left_sym"),
                expr("split_part(pair, ' ', 2)").as("right_sym"),
                col("pair_count"))
      val best = materialized(pairs
        .orderBy(desc("pair_count"), asc("left_sym"), asc("right_sym"))
        .limit(1))
      val next = prev.crossJoin(broadcast(best))
        .select(col("w"), expr(
          "replace(symstr, ' ' || left_sym || ' ' || right_sym || ' ', " +
            "' ' || left_sym || right_sym || ' ')").as("symstr"),
          col("cnt"))
      (acc :+ best.select(lit(r).as("round"), col("left_sym"),
        col("right_sym"), col("pair_count")), next)
    }
    (rounds, fin, s0)
  }

  /** Count-Min sketch shape (q104/q106): 4 rows × 2048 counters = 64 KiB
    * of int64 per partial buffer. Excess bound e·N/width ≈ 0.13% of the
    * stream per estimate, each row an independent md5-keyed hash. */
  private[graft] val cmDepth = 4
  private[graft] val cmWidth = 2048

  /** The CMS probe as a column: min over rows of matrix[r][h_r(w)] —
    * shared by the batch (q104) and streaming (q106) sketch queries. */
  private[graft] def cmEstimate(w: org.apache.spark.sql.Column,
                                cm: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (0 until cmDepth).map { r =>
      element_at(element_at(cm, r + 1),
        ((hex64(md5(concat(lit(s"$r:"), w))) % cmWidth) + 1).cast("int"))
    }.reduce(least(_, _))

  /** The full CMS probe result over a warmed exploded-token frame and a
    * 1-row sketch frame: exact counts + min-over-rows estimates, sorted.
    * q104 and q106 share q104's oracle VERBATIM, so their probe halves
    * must be the same code — this is it (releases `tok`). */
  private[graft] def probeSketch(tok: DataFrame, sketch: DataFrame): DataFrame = {
    val result = tok.groupBy("w").agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(sketch))
      .withColumn("est", cmEstimate(col("w"), col("cm")))
      .select(col("w"), col("cnt"), col("est"))
    materialized(result, tok).orderBy("w")
  }

  /** Held-out docs × classes with quantized NB scores and the per-doc
    * rank, filtered to rk <= 2 (rk=1 is the prediction; rk=2 gives the
    * decision margin — all any caller needs, so the checkpoint stays
    * 2 rows/doc, not classes rows/doc) — the shared substrate of
    * q120/q128/q172. Split/smoothing/quantization/tie-break semantics
    * are pinned by NaiveBayesSpec; see q120's comment for the scale
    * shape. */
  private def nbHeldOutRanked(s: SparkSession, d: String): DataFrame = {
    val qln = (x: org.apache.spark.sql.Column) =>
      floor(log(x.cast("double")) * lit(1e6)).cast("bigint")
    val all = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), tokens(col("text")).as("toks"))
    val train = all.where(col("doc_id") % 5 =!= 0)
    val clw = warmed(train
      .select(col("lang"), explode(col("toks")).as("w"))
      .groupBy("lang", "w").agg(count(lit(1)).as("c_lw")))
    val ldoc = train.groupBy("lang").agg(count(lit(1)).as("n_docs"))
    val ltok = clw.groupBy("lang").agg(sum("c_lw").as("c_l"))
    val tot = ldoc.agg(sum("n_docs").as("n_train"),
      count(lit(1)).as("n_langs"))
    val voc = clw.select("w").distinct().agg(count(lit(1)).as("v"))
    // per-class constants: tiny (one row per class) -> broadcast
    val classes = ldoc.join(ltok, "lang")
      .crossJoin(broadcast(tot)).crossJoin(broadcast(voc))
      .select(col("lang"),
        (qln(col("n_docs") + 1) - qln(col("n_train") + col("n_langs")))
          .as("prior_q"),
        qln(col("c_l") + col("v")).as("denom_q"))
    val held = all.where(col("doc_id") % 5 === 0)
    val dwc = held
      .select(col("doc_id"), explode(col("toks")).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
    val matched = dwc.join(clw, "w")
      .groupBy("doc_id", "lang")
      .agg(sum(col("c") * qln(col("c_lw") + 1)).as("m"))
    // n_tok derives from the SAME exploded frame that scores the docs
    // (Σ per-word counts ≡ size(toks)) so the held slice is tokenized
    // ONCE (dwc's explode) instead of twice — the (doc_id, w) exchange
    // is shared with `matched` by exchange reuse; zero-token docs have
    // no dwc rows and survive via the left join + fill(0), exactly the
    // old size(toks) = 0
    val ntok = dwc.groupBy("doc_id").agg(sum("c").cast("bigint").as("n_tok"))
    val scored = held
      .select(col("doc_id"), col("lang").as("true_lang"))
      .join(ntok, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_tok"))
      .crossJoin(broadcast(classes))
      .join(matched, Seq("doc_id", "lang"), "left")
      .withColumn("score_q",
        col("prior_q") + coalesce(col("m"), lit(0L)) -
          col("n_tok") * col("denom_q"))
    val ranked = scored
      .withColumn("rk", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("score_q").desc, col("lang"))))
      .where(col("rk") <= 2)
      .select(col("doc_id"), col("true_lang"), col("lang"),
        col("score_q").cast("bigint").as("score_q"), col("rk"))
    materialized(ranked, clw)
  }

  /** rk=1 slice of [[nbHeldOutRanked]] as `(doc_id, true_lang,
    * pred_lang, score_q, correct)` — q120's per-doc stream and q128's
    * confusion-matrix input. */
  private def nbHeldOutScored(s: SparkSession, d: String): DataFrame =
    nbHeldOutRanked(s, d)
      .where(col("rk") === 1)
      .select(col("doc_id"), col("true_lang"), col("lang").as("pred_lang"),
        col("score_q"),
        when(col("lang") === col("true_lang"), 1L).otherwise(0L)
          .cast("bigint").as("correct"))

  /** DuckDB mirror of [[nbHeldOutScored]] up through the per-doc argmax
    * (`ranked`, filter `rk = 1` downstream) — shared by the q120 and
    * q128 oracles. No trailing comma.
    */
  private val nbOracleCtes: String =
    s"""toks AS (
      |  SELECT doc_id, lang, ${tokensSql("text")} AS ts
      |  FROM documents),
      |train AS (SELECT * FROM toks WHERE doc_id % 5 <> 0),
      |held AS (SELECT * FROM toks WHERE doc_id % 5 = 0),
      |tw AS (SELECT lang, unnest(ts) AS w FROM train),
      |clw AS (SELECT lang, w, CAST(count(*) AS BIGINT) AS c_lw FROM tw GROUP BY 1, 2),
      |ldoc AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs FROM train GROUP BY 1),
      |ltok AS (SELECT lang, CAST(SUM(c_lw) AS BIGINT) AS c_l FROM clw GROUP BY 1),
      |tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n_train, CAST(count(*) AS BIGINT) AS n_langs FROM ldoc),
      |voc AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS v FROM clw),
      |classes AS (
      |  SELECT ldoc.lang,
      |    CAST(floor(ln(CAST(n_docs + 1 AS DOUBLE)) * 1e6) AS BIGINT)
      |      - CAST(floor(ln(CAST(n_train + n_langs AS DOUBLE)) * 1e6) AS BIGINT) AS prior_q,
      |    CAST(floor(ln(CAST(c_l + v AS DOUBLE)) * 1e6) AS BIGINT) AS denom_q
      |  FROM ldoc JOIN ltok USING (lang) CROSS JOIN tot CROSS JOIN voc),
      |dw AS (SELECT doc_id, unnest(ts) AS w FROM held),
      |dwc AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c FROM dw GROUP BY 1, 2),
      |matched AS (
      |  SELECT doc_id, lang,
      |    CAST(SUM(c * CAST(floor(ln(CAST(c_lw + 1 AS DOUBLE)) * 1e6) AS BIGINT)) AS BIGINT) AS m
      |  FROM dwc JOIN clw USING (w) GROUP BY 1, 2),
      |docs0 AS (SELECT doc_id, lang AS true_lang, CAST(len(ts) AS BIGINT) AS n_tok FROM held),
      |scored AS (
      |  SELECT d.doc_id, d.true_lang, c.lang,
      |    c.prior_q + COALESCE(m.m, 0) - d.n_tok * c.denom_q AS score_q
      |  FROM docs0 d CROSS JOIN classes c
      |  LEFT JOIN matched m ON m.doc_id = d.doc_id AND m.lang = c.lang),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score_q DESC, lang) AS rk
      |  FROM scored)""".stripMargin

  /** q210's closed-form log-log regression ratios: ONE string evaluated
    * verbatim by Spark `expr` and the DuckDB oracle (identical token
    * order ⇒ identical IEEE doubles; the q206/q211 discipline). Inputs
    * are the exact int64 power sums (n, sx, sy, sxy, sxx). */
  private[operators] val zipfSlopeExpr: String =
    "cast(floor(1000000.0 * (cast(n as double) * cast(sxy as double) - " +
      "cast(sx as double) * cast(sy as double)) / " +
      "(cast(n as double) * cast(sxx as double) - " +
      "cast(sx as double) * cast(sx as double))) as bigint)"

  private[operators] val zipfInterceptExpr: String =
    "cast(floor(1000000.0 * (cast(sy as double) * cast(sxx as double) - " +
      "cast(sx as double) * cast(sxy as double)) / " +
      "(cast(n as double) * cast(sxx as double) - " +
      "cast(sx as double) * cast(sx as double))) as bigint)"

  /** Exact top-3 tokens per language through the top-k aggregate `topArr`
    * (an array of "token:count" strings, best first), one row per
    * (lang, rk). Called by q64 (typed UDAF), q67 (native aggregate) and
    * q69 (SpaceSaving sketch). */
  private def topTokensPerLang(s: SparkSession, d: String, topArr: Column): DataFrame =
    Tables.documents(s, d)
      .select(col("lang"), explode(tokens(col("text"))).as("w"))
      .groupBy("lang")
      .agg(topArr.as("top_arr"))
      .select(col("lang"), posexplode(col("top_arr")))
      .select(col("lang"), (col("pos") + 1).cast("int").as("rk"),
        expr("split_part(col, ':', 1)").as("token"),
        expr("CAST(split_part(col, ':', 2) AS BIGINT)").as("cnt"))
      .orderBy("lang", "rk")

  /** The bigram-LM scorer of q117 and q254: per doc, `n_bigrams` and the
    * Laplace-smoothed log P(w2|w1) sum `logprob_q`, quantized per term
    * as floor(ln(x)·1e6). Returns (docs, dbg, scores); `docs` (the
    * tokenized corpus) and `dbg` (per-doc bigram counts) are pinned for
    * the caller to release. The corpus is tokenized once: a lazy persist
    * materialized by dbg's warmed() count, so c1's later job reads the
    * cache instead of re-tokenizing (guide §5 cache-when-reused; A/B
    * grid in OPTIMIZATION_r15.md). */
  private def bigramLogprob(s: SparkSession, d: String): (DataFrame, DataFrame, DataFrame) = {
    val qln = (x: Column) => floor(log(x.cast("double")) * lit(1e6)).cast("bigint")
    val docs = persisted(Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("toks")))
    val dbg = warmed(docs
      .select(col("doc_id"), explode(wordShinglesOf(col("toks"), 2)).as("bg"))
      .groupBy("doc_id", "bg").agg(count(lit(1)).as("c")))
    val c12 = dbg.groupBy("bg").agg(sum("c").as("c12"))
    val c1 = docs
      .select(explode(col("toks")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c1"))
    val v = c1.agg(count(lit(1)).as("v"))
    (docs, dbg, dbg
      .join(c12, "bg")
      .join(c1, expr("w = split_part(bg, ' ', 1)"))
      .crossJoin(broadcast(v))
      .groupBy("doc_id")
      .agg(sum("c").cast("bigint").as("n_bigrams"),
        sum(col("c") * (qln(col("c12") + 1) - qln(col("c1") + col("v"))))
          .cast("bigint").as("logprob_q")))
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- PER-SOURCE CHARACTER-CLASS PROFILE: digit / uppercase /
    // whitespace / punctuation shares of each source's character mass,
    // in integer ppm — the symbol-ratio corpus fingerprint (the
    // Gopher-class filters threshold per-doc; data cards report it
    // per-source). One map stage of codegen length arithmetic (each
    // class counted as length(text) − length(class-stripped text)),
    // then a 5-counter sum per source: no shuffle beyond the
    // source-count agg, exact integers end-to-end. ----
    "q277_charset_profile" -> { (s, d) =>
      def stripped(re: String) = regexp_replace(col("text"), re, "")
      Tables.documents(s, d)
        .select(col("source"),
          length(col("text")).cast("bigint").as("nc"),
          (length(col("text")) - length(stripped("[0-9]"))).cast("bigint").as("nd"),
          (length(col("text")) - length(stripped("[A-Z]"))).cast("bigint").as("nu"),
          (length(col("text")) - length(stripped("(?U)\\s"))).cast("bigint").as("nw"),
          (length(col("text")) - length(stripPunct(col("text")))).cast("bigint").as("np"))
        .groupBy("source")
        .agg(count(lit(1)).cast("bigint").as("n_docs"),
          sum("nc").cast("bigint").as("n_chars"),
          expr("sum(nd) * 1000000 div sum(nc)").cast("bigint").as("digit_ppm"),
          expr("sum(nu) * 1000000 div sum(nc)").cast("bigint").as("upper_ppm"),
          expr("sum(nw) * 1000000 div sum(nc)").cast("bigint").as("space_ppm"),
          expr("sum(np) * 1000000 div sum(nc)").cast("bigint").as("punct_ppm"))
        .orderBy("source")
    },

    // ---- TERM BURSTINESS (Church & Gale 1995): variance-to-mean ratio
    // of per-document counts, per term — Poisson-like function words sit
    // at VMR ≈ 1, topical/bursty terms well above; the lexical signal
    // behind stopword induction and keyword weighting. Zeros enter the
    // moments implicitly (VMR = (N·Σc² − C²)/(N·C) needs only the docs
    // that CONTAIN the term), so the frames are vocab-sized off one
    // (doc, term) aggregate. Support floor ≥ 50 total occurrences;
    // top-20 by exact-integer VMR ppm via TakeOrdered. int64-exact
    // while 10⁶·N·Σc² < 9·10¹⁸ (gate corpora by orders of magnitude;
    // per-shard moments + DECIMAL(38) past ~10⁸ doc-occurrences). ----
    "q313_term_burstiness" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val nDocs = docs.agg(count(lit(1)).as("nd"))
      val dc = docs
        .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      dc.groupBy("w")
        .agg(sum("c").as("c_total"), count(lit(1)).as("n_docs_with"),
          sum(col("c") * col("c")).as("scc"))
        .filter(col("c_total") >= 50)
        .crossJoin(broadcast(nDocs))
        .select(col("w"), col("c_total").cast("bigint").as("c_total"),
          col("n_docs_with").cast("bigint").as("n_docs_with"),
          expr("(1000000 * (nd * scc - c_total * c_total)) div (nd * c_total)")
            .cast("bigint").as("vmr_ppm"))
        .orderBy(col("vmr_ppm").desc, col("w")).limit(20)
    },

    // ---- SOURCE-CHARACTERISTIC KEYWORDS: top-3 terms per source by
    // their pointwise KL contribution tf·ln(P_s(w)/P(w)) — the
    // overrepresentation score (log-odds flavor) that stays
    // discriminative even when every term occurs in every source
    // (source-axis idf degenerates to zero there — measured: 0 rows at
    // sf0.1). Factored per-term into qln-quantized int64 summands
    // (q112's exact-KL discipline); the per-source top-3 is a
    // rank-≤-3 window Spark plans as WindowGroupLimit partial top-k —
    // no source's vocabulary is globally sorted. ----
    "q314_source_keywords" -> { (s, d) =>
      val qln = (x: org.apache.spark.sql.Column) =>
        floor(log(x.cast("double")) * lit(1e6)).cast("bigint")
      val sw = Tables.documents(s, d)
        .select(col("source"), explode(tokens(col("text"))).as("w"))
        .groupBy("source", "w").agg(count(lit(1)).as("tf"))
      val warm = warmed(sw)
      val srcTot = warm.groupBy("source").agg(sum("tf").as("n_s"))
      val cw = warm.groupBy("w").agg(sum("tf").as("c_w"))
      val tot = cw.agg(sum("c_w").as("nn"))
      val scored = warm
        .join(broadcast(srcTot), "source")
        .join(cw, "w")
        .crossJoin(broadcast(tot))
        .select(col("source"), col("w"), col("tf"),
          (col("tf") * (qln(col("tf")) + qln(col("nn"))
            - qln(col("n_s")) - qln(col("c_w")))).as("score_q"))
      val wr = Window.partitionBy("source")
        .orderBy(col("score_q").desc, col("w"))
      val result = scored.withColumn("rk", row_number().over(wr))
        .filter(col("rk") <= 3)
        .select(col("source"), col("rk").cast("int").as("rk"), col("w"),
          col("tf").cast("bigint").as("tf"), col("score_q").cast("bigint").as("score_q"))
      materialized(result, warm).orderBy("source", "rk")
    },

    // ---- HAPAX LEGOMENA RATIO per source: the share of each source's
    // vocabulary seen exactly once — the vocabulary-growth health read
    // (natural text sits near 40–60%; templated/spun corpora collapse
    // it). One (source, token) count aggregate with map-side combine,
    // then a vocab-sized roll-up; exact integers end-to-end. ----
    "q311_hapax_ratio" -> { (s, d) =>
      Tables.documents(s, d)
        .select(col("source"), explode(tokens(col("text"))).as("w"))
        .groupBy("source", "w").agg(count(lit(1)).as("c"))
        .groupBy("source")
        .agg(sum("c").cast("bigint").as("n_tokens"),
          count(lit(1)).cast("bigint").as("n_vocab"),
          sum(when(col("c") === 1, 1L).otherwise(0L)).cast("bigint").as("n_hapax"))
        .withColumn("hapax_ppm",
          expr("n_hapax * 1000000 div n_vocab").cast("bigint"))
        .orderBy("source")
    },

    // ---- HEAPS'-LAW FIT (Heaps 1978): vocabulary growth V = K·nᵝ
    // across sources — log-log least squares over the 20 per-source
    // (tokens, vocab) points, the companion to q210's Zipf fit (the two
    // exponents are theoretically linked). Same milli-nat point
    // quantization and the same single-division double slope text, so
    // the fit is bit-identical in both engines; the point frame is
    // sources-sized whatever the corpus. ----
    "q312_heaps_fit" -> { (s, d) =>
      val qln3 = (x: org.apache.spark.sql.Column) =>
        floor(log(x.cast("double")) * lit(1e3)).cast("bigint")
      val pts = Tables.documents(s, d)
        .select(col("source"), explode(tokens(col("text"))).as("w"))
        .groupBy("source", "w").agg(count(lit(1)).as("c"))
        .groupBy("source")
        .agg(sum("c").as("nt"), count(lit(1)).as("nv"))
        .select(qln3(col("nt")).as("x"), qln3(col("nv")).as("y"))
      pts.agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
        .withColumn("beta_q", expr(TextPack.zipfSlopeExpr))
        .withColumn("lnk_q", expr(TextPack.zipfInterceptExpr))
        .select(col("n").cast("bigint").as("n_points"),
          col("beta_q"), col("lnk_q"))
    },

    // ---- BIGRAM CONDITIONAL-ENTROPY RATE per source: H(next | current)
    // over the token stream — the sequence-predictability health metric
    // (templated/boilerplate sources sit near 0, natural prose high;
    // the bigram complement to q111's char entropy and q112's unigram
    // KL). N-scaled exact int64 via the established per-term
    // floor(×1e6) ln quantization: ent_q = Σ_{w1,w2} c12·(qln(c1) −
    // qln(c12)) in micro-nats, nonnegative by qln monotonicity, so the
    // per-bigram rate divides exactly the same in both engines. Shape:
    // one bigram-count aggregate (map-side combined), a context-total
    // roll-up of THAT table (bigram-type-vocabulary-sized, never the
    // corpus), one co-partitioned join on (source, w1). ----
    "q281_bigram_entropy_rate" -> { (s, d) =>
      val qln = (x: org.apache.spark.sql.Column) =>
        floor(log(x.cast("double")) * lit(1e6)).cast("bigint")
      val c12 = Tables.documents(s, d)
        .select(col("source"), tokens(col("text")).as("toks"))
        .select(col("source"), explode(wordShinglesOf(col("toks"), 2)).as("bg"))
        .groupBy("source", "bg").agg(count(lit(1)).as("c12"))
        .withColumn("w1", expr("split_part(bg, ' ', 1)"))
      val c1 = c12.groupBy("source", "w1").agg(sum("c12").as("c1"))
      c12.join(c1, Seq("source", "w1"))
        .groupBy("source")
        .agg(sum("c12").cast("bigint").as("n_bigrams"),
          count(lit(1)).cast("bigint").as("n_bigram_types"),
          sum(col("c12") * (qln(col("c1")) - qln(col("c12"))))
            .cast("bigint").as("ent_q"))
        .withColumn("ent_rate_unat", expr("ent_q div n_bigrams").cast("bigint"))
        .orderBy("source")
    },

    // ---- heuristic language-ID: stopword-profile argmax. Single
    // projection, zero shuffle (but the final sort): each profile is
    // scored inline against the doc's token set and the winner picked
    // with greatest() + a first-match CASE chain. Profiles are iterated
    // in ascending lang order, so the first score == best is the
    // smallest cand_lang — the same tiebreak as the oracle's
    // row_number(ORDER BY score DESC, cand_lang). The old form exploded
    // 5 profile rows per doc and ranked them with a window (a full
    // partition-by-doc shuffle); at 100 TB that's 5× the rows plus a
    // shuffle for what one map stage can decide. ----
    "q60_lang_id" -> { (s, d) =>
      // scores land in their own projection (not inlined into the
      // argmax): each is referenced by greatest() AND the CASE chain,
      // and array_intersect is expensive enough that CollapseProject
      // keeps the barrier rather than duplicating it
      val scored = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), tokenSet(col("text")).as("toks"))
        .select(Seq(col("doc_id"), col("lang")) ++ langProfiles.map { case (l, ws) =>
          (size(array_intersect(col("toks"), array(ws.map(lit): _*))).cast("double") /
            size(array(ws.map(lit): _*)).cast("double")).as(s"score_$l")
        }: _*)
      val best = greatest(langProfiles.map { case (l, _) => col(s"score_$l") }: _*)
      val pred = langProfiles.tail.foldLeft(
        when(col(s"score_${langProfiles.head._1}") === best, lit(langProfiles.head._1))) {
        case (acc, (l, _)) => acc.when(col(s"score_$l") === best, lit(l))
      }
      // NULL text → all scores NULL → every CASE arm NULL; the oracle's
      // NULLS-LAST window would still emit the first profile ('de'), so
      // mirror that here (no-op on the non-NULL driver corpus)
      scored
        .select(col("doc_id"), col("lang"),
          coalesce(pred, lit(langProfiles.head._1)).as("pred_lang"),
          best.as("score"))
        .orderBy("doc_id")
    },

    // ---- language-ID CONFUSION MATRIX: the q60 heuristic classifier
    // evaluated against the labeled lang column — the eval table a
    // curation team reads before trusting a language filter (which
    // languages bleed into which, per-language hit rate). Composes the
    // gated q60 exactly (same scores, same tiebreak); two map-side-
    // combining aggregates over its output, bounded by languages². ----
    "q256_langid_confusion" -> { (s, d) =>
      val pred = queries("q60_lang_id")(s, d).select("doc_id", "lang", "pred_lang")
      val cells = pred.groupBy("lang", "pred_lang")
        .agg(count(lit(1)).cast("bigint").as("n_docs"))
      val totals = pred.groupBy("lang").agg(count(lit(1)).as("n_lang"))
      cells.join(broadcast(totals), "lang")
        .select(col("lang"), col("pred_lang"), col("n_docs"),
          expr("n_docs * 1000000 div n_lang").cast("bigint").as("row_frac_ppm"))
        .orderBy("lang", "pred_lang")
    },

    // ---- bootstrap CI for CLASSIFIER accuracy — q167's deterministic
    // Poisson bootstrap (Chamandy et al. 2012) applied to the q60
    // language classifier: 32 replicates of the accuracy, replicate
    // weights drawn from each doc's own md5 id thresholded against
    // integer Poisson(1) CDF constants (byte-identical in both
    // engines), accuracy in integer ppm so the replicate table is
    // exact. The spread of the 32 replicate accuracies is the
    // uncertainty a curation team attaches to the filter's measured
    // hit rate before trusting it corpus-wide. Same scale shape as
    // q167: the 0/1 correctness stream explodes ×32 and map-side-
    // combines into 32 constant-size groups. ----
    "q261_langid_bootstrap" -> { (s, d) =>
      val t = CleanPack.poissonCdf60
      val pred = warmed(queries("q60_lang_id")(s, d)
        .select(col("doc_id"),
          when(col("pred_lang") === col("lang"), 1L).otherwise(0L).as("correct")))
      val overall = pred.agg(
        expr("sum(correct) * 1000000 div count(1)").cast("bigint").as("overall_acc_ppm"))
      val weighted = pred
        .select(col("doc_id"), col("correct"),
          explode(sequence(lit(0), lit(31))).as("r"))
        .withColumn("h", hex64(md5(concat(
          col("doc_id").cast("string"), lit(":lb"), col("r").cast("string")))))
        .withColumn("w",
          when(col("h") < t(0), 0L).when(col("h") < t(1), 1L)
            .when(col("h") < t(2), 2L).when(col("h") < t(3), 3L)
            .when(col("h") < t(4), 4L).when(col("h") < t(5), 5L)
            .otherwise(6L))
      val result = weighted.groupBy("r")
        .agg(sum(col("w")).cast("bigint").as("n_eff"),
          sum(col("w") * col("correct")).cast("bigint").as("n_correct"))
        .withColumn("acc_ppm", expr("n_correct * 1000000 div n_eff").cast("bigint"))
        .crossJoin(broadcast(overall))
        .select(col("r").cast("int").as("r"), col("n_eff"), col("n_correct"),
          col("acc_ppm"), col("overall_acc_ppm"))
      materialized(result, pred).orderBy("r")
    },

    // ---- READABILITY metrics via the vowel-group syllable proxy (the
    // computable core of Flesch/SMOG-class formulas — real syllable
    // counting needs a dictionary; every large-scale readability filter
    // uses exactly this proxy): per doc, word count, proxy-syllable
    // total (each word ≥ 1), syllables-per-word in integer ppm, and the
    // polysyllabic-word count (≥ 3 vowel groups — SMOG's ingredient).
    // One map stage of codegen HOFs over the token array; regex
    // semantics identical in both engines on the ASCII corpus. ----
    "q272_reading_level" -> { (s, d) =>
      val syl = expr(
        """transform(toks, w ->
          |  greatest(size(regexp_extract_all(w, '[aeiouAEIOU]+', 0)), 1))""".stripMargin)
      Tables.documents(s, d)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .filter(size(col("toks")) > 0)
        .withColumn("sy", syl)
        .select(col("doc_id"),
          size(col("toks")).cast("bigint").as("n_words"),
          expr("aggregate(sy, 0L, (a, x) -> a + x)").cast("bigint").as("n_syllables"),
          expr("aggregate(transform(sy, x -> if(x >= 3, 1L, 0L)), 0L, (a, x) -> a + x)")
            .cast("bigint").as("n_polysyllabic"))
        .withColumn("syll_per_word_ppm",
          expr("n_syllables * 1000000 div n_words").cast("bigint"))
        .orderBy("doc_id")
    },

    // ---- quality scoring: type-token ratio, token length, stopwords ----
    // ---- JENSEN–SHANNON DIVERGENCE MATRIX (Lin 1991): the symmetric,
    // bounded, zero-tolerant divergence between source unigram
    // distributions — the principled middle ground between q112's KL
    // (asymmetric, zero-hostile) and q336's cosine (shape-blind to the
    // tail). Emitted as the two EXACT scaled numerators per pair
    // (the q299 Theil treatment — no cross-engine division):
    //   jsa_q = Σ_{w: a>0} a·(qln(2·a·N_b) − qln(a·N_b + b·N_a))
    // and symmetrically jsb_q; JS nats = (jsa/N_a + jsb/N_b) / 2·10⁶.
    // Per-term qln on int64 products ≤ 10¹² keeps every term exact.
    // Shape: (source, word) counts map-side; the directed frame is
    // vocab × (sources−1)-bounded; pairs sources²-bounded. ----
    "q347_js_divergence" -> { (s, d) =>
      val qln = (x: org.apache.spark.sql.Column) =>
        floor(log(x.cast("double")) * lit(1e6)).cast("bigint")
      val sw = warmed(Tables.documents(s, d)
        .select(col("source"), explode(tokens(col("text"))).as("w"))
        .groupBy("source", "w").agg(count(lit(1)).as("c")))
      val ns = sw.groupBy("source").agg(sum("c").as("n"))
      val dir = sw.join(broadcast(ns), "source")
        .join(broadcast(ns.select(col("source").as("other"), col("n").as("n_o"))),
          col("source") =!= col("other"))
        .join(sw.select(col("source").as("other"), col("w"), col("c").as("c_o")),
          Seq("other", "w"), "left")
        .na.fill(0L, Seq("c_o"))
        .withColumn("term",
          col("c") * (qln(lit(2L) * col("c") * col("n_o")) -
            qln(col("c") * col("n_o") + col("c_o") * col("n"))))
      val parts = dir.groupBy("source", "other").agg(sum("term").as("js_part"))
      val a = parts.filter(col("source") < col("other"))
        .select(col("source").as("source_a"), col("other").as("source_b"),
          col("js_part").as("jsa_q"))
      val b = parts.filter(col("source") > col("other"))
        .select(col("other").as("source_a"), col("source").as("source_b"),
          col("js_part").as("jsb_q"))
      val result = a.join(b, Seq("source_a", "source_b"))
        .join(ns.select(col("source").as("source_a"), col("n").as("n_a")), "source_a")
        .join(ns.select(col("source").as("source_b"), col("n").as("n_b")), "source_b")
        .select(col("source_a"), col("source_b"),
          col("n_a").cast("bigint").as("n_a"), col("n_b").cast("bigint").as("n_b"),
          col("jsa_q").cast("bigint").as("jsa_q"),
          col("jsb_q").cast("bigint").as("jsb_q"))
      materialized(result, sw).orderBy("source_a", "source_b")
    },

    // ---- SOURCE TERM-PROFILE COSINE MATRIX: pairwise cosine of the
    // sources' term-frequency vectors over the top-200 corpus words —
    // the symmetric source-similarity read next to q112's (asymmetric,
    // binned) KL and q314's keywords: which sources are stylistic
    // twins and which contribute genuinely different text. Exact int64
    // dot products and norms (≤ 200·c², double-exact under 2⁵³); the
    // single sqrt·sqrt divide is the q175 rule. Scale shape: the corpus
    // scan collapses to (source, word) counts map-side; the top-200
    // vocabulary is a TakeOrdered; profiles are sources×200-bounded,
    // pairs sources²-bounded. ----
    "q336_source_term_cosine" -> { (s, d) =>
      val sw = Tables.documents(s, d)
        .select(col("source"), explode(tokens(col("text"))).as("w"))
        .groupBy("source", "w").agg(count(lit(1)).as("c"))
      val top = sw.groupBy("w").agg(sum("c").as("cf"))
        .orderBy(col("cf").desc, col("w")).limit(200).select("w")
      val prof = warmed(sw.join(broadcast(top), "w"))
      val norms = prof.groupBy("source").agg(sum(expr("c * c")).as("s2"))
      val pairs = prof.as("a")
        .join(prof.as("b"),
          col("a.w") === col("b.w") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
        .agg(count(lit(1)).as("n_shared_terms"), sum(expr("a.c * b.c")).as("sab"))
      val result = pairs
        .join(norms.select(col("source").as("source_a"), col("s2").as("saa")), "source_a")
        .join(norms.select(col("source").as("source_b"), col("s2").as("sbb")), "source_b")
        .select(col("source_a"), col("source_b"),
          col("n_shared_terms").cast("bigint").as("n_shared_terms"),
          floor(lit(1000000.0) * col("sab").cast("double") /
            (sqrt(col("saa").cast("double")) * sqrt(col("sbb").cast("double"))))
            .cast("bigint").as("cos_ppm"))
      materialized(result, prof).orderBy("source_a", "source_b")
    },

    "q61_quality_score" -> { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), col("text"),
          tokens(col("text")).as("toks"), tokenSet(col("text")).as("tset"))
        .select(col("doc_id"),
          length(col("text")).cast("bigint").as("n_chars"),
          size(col("toks")).cast("bigint").as("n_tokens"),
          size(col("tset")).cast("bigint").as("n_distinct"),
          (size(col("tset")).cast("double") / size(col("toks")).cast("double")).as("ttr"),
          (length(regexp_replace(stripPunct(col("text")), "(?U)\\s", "")).cast("double") /
            size(col("toks")).cast("double")).as("avg_token_len"),
          ((length(col("text")) - length(stripPunct(col("text")))).cast("double") /
            length(col("text")).cast("double")).as("punct_ratio"),
          (size(array_intersect(col("tset"), array(stopwords.map(lit): _*))).cast("double") /
            size(col("tset")).cast("double")).as("stopword_hit_ratio"))
        .withColumn("quality",
          lit(0.4) * col("ttr") +
            lit(0.3) * least(col("avg_token_len") / lit(10.0), lit(1.0)) +
            lit(0.3) * (lit(1.0) - col("punct_ratio")))
        .orderBy("doc_id")
    },

    // ---- RECIPROCAL-RANK FUSION (Cormack et al., SIGIR 2009): combine
    // two independent curation rankings — vocabulary richness (distinct
    // tokens) and raw length — into one robust ordering:
    // score = Σ 1e9 div (60 + rank_i), all-integer. Both global ranks
    // are computed DISTRIBUTED via the two-phase PrefixSum (range
    // partition + local window + offset broadcast), never a
    // single-task ORDER BY window; fusion is one doc_id equi-join and
    // the top-50 is a TakeOrdered. The same shape fuses any N quality
    // signals (classifier score, LM perplexity, dedup penalty) at
    // 100 TB. ----
    "q162_rrf_fusion" -> { (s, d) =>
      val base = warmed(Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars"),
                size(tokenSet(col("text"))).cast("bigint").as("n_distinct")))
      val rVocab = PrefixSum.inclusive(base,
          Seq(col("n_distinct").desc, col("doc_id")), Seq((lit(1L), "r_vocab")))
        .select(col("doc_id"), col("r_vocab"))
      val rLen = PrefixSum.inclusive(base,
          Seq(col("n_chars").desc, col("doc_id")), Seq((lit(1L), "r_len")))
        .select(col("doc_id"), col("r_len"))
      val result = base.join(rVocab, "doc_id").join(rLen, "doc_id")
        .withColumn("rrf_q",
          expr("1000000000 div (60 + r_vocab) + 1000000000 div (60 + r_len)"))
        .orderBy(col("rrf_q").desc, col("doc_id")).limit(50)
        .select(col("doc_id"), col("n_chars"), col("n_distinct"),
                col("r_vocab"), col("r_len"), col("rrf_q"))
      materialized(result, base).orderBy(col("rrf_q").desc, col("doc_id"))
    },

    // ---- token counting: reference tokens, raw whitespace, BPE-ish ----
    // ---- context-window chunking: slice each doc into overlapping
    // 128-token training windows at stride 96 (32-token overlap, the
    // standard LM-pretraining chunking shape; tail fragments under 16
    // tokens are dropped). Pure map stage — starts come from a
    // step-sequence, chunks from array slices, ids from the chunk
    // content hash — so at 100 TB this is a narrow scan-side transform
    // with zero shuffle (the ORDER BY is the gate's determinism
    // requirement, not part of the operator). ----
    "q125_chunk_overlap" -> { (s, d) =>
      val chunkLen = 128; val stride = 96; val minTail = 16
      Tables.documents(s, d)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .select(col("doc_id"), col("toks"),
          // sequence with a negative span would descend; guard empties
          when(size(col("toks")) > 0,
            sequence(lit(0), size(col("toks")) - 1, lit(stride)))
            .otherwise(array().cast("array<int>")).as("starts"))
        .select(col("doc_id"), explode(col("starts")).as("st"), col("toks"))
        .select(col("doc_id"),
          // st is a multiple of stride by construction — exact division
          (col("st") / lit(stride)).cast("bigint").as("chunk_idx"),
          col("st").cast("bigint").as("start_pos"),
          slice(col("toks"), col("st") + 1, lit(chunkLen)).as("chunk"))
        .select(col("doc_id"), col("chunk_idx"), col("start_pos"),
          size(col("chunk")).cast("bigint").as("n_chunk_toks"),
          hex64(md5(concat_ws(" ", col("chunk")))).as("chunk_hash"))
        .filter(col("n_chunk_toks") >= minTail)
        .orderBy("doc_id", "chunk_idx")
    },

    // ---- vocabulary head coverage (the Zipf-head curve): the minimal
    // vocabulary size whose cumulative frequency covers 50/90/99% of
    // all token occurrences — the number tokenizer-vocab sizing reads
    // off a corpus. The global running total over the rank-ordered
    // vocabulary uses [[graft.functions.PrefixSum]] (two-phase
    // parallel scan), NOT a partition-less window — a 100M-row
    // vocabulary never collapses into one task. All-integer
    // arithmetic: the threshold test is cum*100 >= pct*total, exact in
    // both engines. ----
    "q126_vocab_coverage" -> { (s, d) =>
      val counts = Tables.documents(s, d)
        .select(explode(tokens(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
      val ranked = PrefixSum.inclusive(counts,
        Seq(col("c").desc, col("w")),
        Seq((col("c"), "cum"), (lit(1L), "rank")))
      val tot = counts.agg(sum(col("c")).as("total_tokens"))
      ranked.crossJoin(broadcast(tot))
        .select(explode(array(lit(50), lit(90), lit(99))).as("threshold_pct"),
          col("rank"), col("cum"), col("total_tokens"))
        .filter(col("cum") * 100 >= col("threshold_pct").cast("bigint") * col("total_tokens"))
        .groupBy("threshold_pct")
        // cum and rank are monotone together, so the min-rank row's
        // cum IS min(cum) among qualifying rows — no argmin needed
        .agg(min(col("rank")).as("vocab_size"),
             min(col("cum")).as("covered_tokens"),
             max(col("total_tokens")).as("total_tokens"))
        .orderBy("threshold_pct")
    },

    // ---- per-source token-length histogram in log2 buckets — the
    // length-distribution panel of the q107 data card (truncation vs
    // padding economics for sequence packing read straight off it).
    // The bucket is floor(log2 n)+1 computed EXACTLY as the bit-length
    // of n (length of the base-2 digit string — Spark conv / DuckDB
    // bin agree with no floating log2 edge cases at powers of two).
    // One scan, a sources×~10 aggregate. ----
    "q148_length_histogram" -> { (s, d) =>
      Tables.documents(s, d)
        .select(col("source"), size(tokens(col("text"))).cast("bigint").as("n"))
        .filter(col("n") > 0)
        .withColumn("bucket", length(conv(col("n").cast("string"), 10, 2)).cast("bigint"))
        .groupBy("source", "bucket")
        .agg(count(lit(1)).cast("bigint").as("n_docs"),
             min("n").cast("bigint").as("min_tokens"),
             max("n").cast("bigint").as("max_tokens"))
        .orderBy("source", "bucket")
    },

    "q62_token_stats" -> { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          col("n_chars"),
          size(tokens(col("text"))).cast("bigint").as("n_tokens"),
          size(tokenSet(col("text"))).cast("bigint").as("n_distinct"),
          size(whitespaceSplit(col("text"))).cast("bigint").as("n_ws_tokens"),
          // BPE-ish subword proxy: consonant*-vowel+ chunks
          size(regexp_extract_all(col("text"),
            lit("[bcdfghjklmnpqrstvwxyz]*[aeiou]+"), lit(0))).cast("bigint").as("n_subwords"))
        .orderBy("doc_id")
    },

    // ---- custom typed aggregate: exact top-3 tokens per language ----
    "q64_top_tokens" -> { (s, d) =>
      val topk = udaf(new graft.functions.TopKAggregator(3))
      topTokensPerLang(s, d, topk(col("w")))
    },

    // ---- the same top-k as a native TypedImperativeAggregate (q64's
    // semantics, the deepest aggregate API tier: raw InternalRow updates,
    // compact binary partial buffers instead of Kryo) ----
    "q67_top_tokens_native" -> { (s, d) =>
      graft.functions.GraftExpressions.ensure(s)
      topTokensPerLang(s, d, graft.functions.GraftExpressions.topKTokens(col("w"), 3))
    },

    // ---- bounded-memory top-k: the SpaceSaving sketch (q67's semantics
    // with a capped per-buffer counter set — the 100 TB regime where the
    // per-group vocabulary can't be buffered exactly). capacity=64
    // exceeds the test corpus's 31-word vocabulary, so no eviction fires
    // and the sketch provably equals the exact aggregate — which is what
    // the oracle checks; the capped/evicting regime and its error bounds
    // are exercised by graft.SpaceSavingSpec. ----
    "q69_top_tokens_sketch" -> { (s, d) =>
      graft.functions.GraftExpressions.ensure(s)
      topTokensPerLang(s, d, graft.functions.GraftExpressions.spaceSavingTopK(col("w"), 3, 64))
    },

    // ---- Count-Min frequency estimation: the per-key-count twin of
    // q69's SpaceSaving (that one finds WHICH keys are frequent; CMS
    // answers HOW frequent any key is) — a depth×width int64 counter
    // matrix, constant memory regardless of vocabulary, built by the
    // native graft_countmin TypedImperativeAggregate in one scan and
    // broadcast for probing. Both engines build the IDENTICAL matrix
    // (engine-portable md5 row hashes), so the gate compares estimates
    // EXACTLY, not by envelope: est(w) = min over rows of
    // matrix[r][h_r(w)], with true(w) <= est(w) <= true(w) + e·N/width
    // w.h.p. (CountMinSpec model-checks the matrix and the bounds in
    // the colliding regime). At 100 TB the 64 KiB partials combine
    // map-side and the final matrix broadcasts to probe any stream
    // without joining a counts table. ----
    "q104_countmin_freq" -> { (s, d) =>
      graft.functions.GraftExpressions.ensure(s)
      val tok = warmed(Tables.documents(s, d)
        .select(explode(tokens(col("text"))).as("w")))
      val sketch = tok.agg(
        graft.functions.GraftExpressions.countMin(col("w"), cmDepth, cmWidth).as("cm"))
      probeSketch(tok, sketch)
    },

    // ---- BPE merge training (Sennrich et al. 2016, arXiv:1508.07909 —
    // the tokenizer-training step of every LLM data pipeline): start
    // from character symbols, repeatedly count adjacent symbol pairs
    // over the corpus (weighted by word frequency) and merge the most
    // frequent pair, emitting one merge rule per round. The loop runs
    // on the WORD-FREQUENCY table (corpus → one groupBy; training then
    // never rescans the corpus — the 100 TB shape: vocab-sized frames,
    // argmax via TakeOrderedAndProject, the 1-row winner broadcast into
    // the rewrite). Determinism: ties break (count DESC, left ASC,
    // right ASC) on ASCII symbols; the rewrite is plain-string
    // replace() over a space-padded symbol string — identical
    // left-to-right non-overlapping semantics in both engines, so the
    // oracle (unrolled CTE rounds) replays the exact trajectory.
    // Simplification vs production BPE, documented: no end-of-word
    // marker, and adjacent overlapping repeats (e.g. "a a a") merge
    // per replace() semantics — identical on both sides by
    // construction. ----
    "q108_bpe_train" -> { (s, d) =>
      s.read.parquet(s"${bpeModelDir(s, d)}/merges").orderBy("round")
    },

    // ---- UNIGRAM-LM TOKENIZER (the SentencePiece family, Kudo 2018,
    // ACL: arXiv:1804.10959) — the OTHER major subword algorithm next
    // to q108's BPE: score a substring vocabulary by corpus frequency,
    // then VITERBI-segment every word under piece log-probs and report
    // each piece's segmentation usage (the E-step counts of the
    // unigram-LM EM loop; SentencePiece prunes the vocab on exactly
    // these). Everything is vocabulary-shaped after ONE corpus scan:
    // candidate pieces are the ≤4-char substrings of the DISTINCT-word
    // table (all single chars kept for segmentability + top-48
    // multi-char by weighted count, ties → piece asc), scores are the
    // integer-argument qln quantization (score_q = qln(cnt) − qln(tot),
    // the NB contract — ln touches only integer-valued doubles), and
    // the DP is RELATIONAL: 10 end-position rounds (max corpus token is
    // 8 chars; both sides filter length ≤ 10), each ONE union of ≤4
    // (matches ⋈ dp[j−l]) arms + a per-word argmax — max(struct(cand,
    // −l)) pins the tie-break (higher score, then SHORTER last piece).
    // Backtracking replays the stored per-(w, j) argmax choices, 10
    // bounded rounds over a shrinking frontier. The oracle unrolls the
    // identical DP and backtrack as CTE rounds. Scale shape: the corpus
    // is scanned once for word counts; everything after is O(vocab ×
    // maxlen) — exactly how a 100 TB tokenizer-train job stays cheap.
    // Like q108's BPE model the trained table is a once-per-corpus
    // ARTIFACT (a tokenizer trains once; the ~20 bounded DP/backtrack
    // rounds are charged to the artifact's first user, never per
    // query — warm cost is one vocab-sized read). ----
    "q441_unigram_tok" -> { (s, d) =>
      val path = graft.core.Artifacts.materialize(
        s"unigram_tok_v1_${graft.core.Artifacts.corpusKey(d, "documents.parquet")}") { tmp =>
        unigramTokTrain(s, d).coalesce(1).write.parquet(tmp)
      }
      s.read.parquet(path).orderBy("piece")
    },

    // ---- the vocabulary the trained BPE induces: apply the final
    // merged state (shared fold with q108) and count each subword
    // symbol weighted by word frequency — the vocab-file step that
    // follows merge training in a tokenizer build. Same 100 TB shape
    // as training: one pass over the vocab-sized symbol table. ----
    "q109_bpe_vocab" -> { (s, d) =>
      s.read.parquet(s"${bpeModelDir(s, d)}/state")
        .select(explode(split(trim(col("symstr")), " ")).as("sym"), col("cnt"))
        .groupBy("sym").agg(sum("cnt").as("freq"))
        .orderBy(desc("freq"), asc("sym"))
    },

    // ---- tokenize the corpus under the trained merges: per-doc BPE
    // token counts, the sequence-length/budgeting number every
    // training-data pipeline reports. Since BPE segmentation is a pure
    // function of the word, the corpus is NOT re-segmented per
    // occurrence: docs collapse to (doc, word) counts (map-side
    // combine), join the vocab-sized word→n_syms table on w, and
    // re-aggregate — the trained state is applied by equi-join, the
    // same shape a 100 TB tokenizer-apply job wants. ----
    "q114_bpe_tokenize" -> { (s, d) =>
      val wordLen = s.read.parquet(s"${bpeModelDir(s, d)}/state")
        .select(col("w"),
          size(split(trim(col("symstr")), " ")).cast("bigint").as("n_syms"))
      val dw = Tables.documents(s, d)
        .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      dw.join(wordLen, "w")
        .groupBy("doc_id")
        .agg(sum("c").cast("bigint").as("n_words"),
             sum(col("c") * col("n_syms")).cast("bigint").as("n_bpe_tokens"))
        .orderBy("doc_id")
    },

    // ---- YULE'S K (Yule 1944) per source: the size-invariant
    // vocabulary-concentration characteristic K = 10⁴·(Σc² − N)/N² —
    // unlike raw TTR (and closing the richness triplet with q362's
    // Guiraud and q311's hapax ratio), K is stable under corpus growth,
    // so per-source values are comparable across sources of very
    // different volumes. Exact int64 power sums off the one
    // (source, token) count aggregate; one double division at the end.
    // ----
    "q398_yules_k" -> { (s, d) =>
      Tables.documents(s, d)
        .select(col("source"), explode(tokens(col("text"))).as("w"))
        .groupBy("source", "w").agg(count(lit(1)).as("c"))
        .groupBy("source")
        .agg(sum("c").as("n_tokens"), count(lit(1)).as("n_types"),
          sum(col("c") * col("c")).as("s2"))
        .select(col("source"),
          col("n_tokens").cast("bigint").as("n_tokens"),
          col("n_types").cast("bigint").as("n_types"),
          col("s2").cast("bigint").as("s2"),
          expr("cast(floor(10000000.0 * cast(s2 - n_tokens as double) " +
            "/ (cast(n_tokens as double) * cast(n_tokens as double))) as bigint)")
            .as("yules_k_milli"))
        .orderBy("source")
    },

    // ---- BPE MERGE-BUDGET COMPRESSION CURVE: corpus fertility
    // (subwords per word) and symbol-vocabulary size at merge budgets
    // k ∈ {0, 2, 4, 6} — the how-many-merges-do-we-need sizing curve a
    // tokenizer-training run reads before committing to a vocab size
    // (fertility falls as merges land; the curve's knee is the budget
    // that pays). Replays the TRAINED merge table (a bpeRounds-row
    // artifact — the one driver-side collect here, bounded by
    // construction) as cumulative replace projections over the
    // word-frequency table, so each budget costs one vocab-sized scan;
    // the corpus itself is scanned once for the word counts. The
    // oracle recomputes the same states from its own unrolled training
    // replay — two independent constructions must agree. ----
    "q389_bpe_budget_curve" -> { (s, d) =>
      val budgets = Seq(0, 2, 4, 6)
      val merges = s.read.parquet(s"${bpeModelDir(s, d)}/merges")
        .select("round", "left_sym", "right_sym")
        .collect()
        .map(r => (r.getAs[Number]("round").intValue,
          r.getAs[String]("left_sym"), r.getAs[String]("right_sym")))
        .sortBy(_._1)
      val words = warmed(Tables.documents(s, d)
        .select(explode(tokens(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("cnt"))
        .select(col("cnt"), concat(lit(" "),
          array_join(regexp_extract_all(col("w"), lit("."), lit(0)), " "),
          lit(" ")).as("symstr")))
      val exprByK = scala.collection.mutable.Map(0 -> "symstr")
      var e = "symstr"
      merges.foreach { case (r, l, rr) =>
        e = s"replace($e, ' $l $rr ', ' $l$rr ')"
        if (budgets.contains(r)) exprByK(r) = e
      }
      val perK = budgets.map { k =>
        val base = words.select(col("cnt"),
          expr(s"split(trim(${exprByK(k)}), ' ')").as("syms"))
        val a = base.agg(sum(col("cnt")).as("n_words"),
          sum(col("cnt") * size(col("syms"))).as("n_bpe_tokens"))
        val v = base.select(explode(col("syms")).as("sym"))
          .agg(countDistinct("sym").as("n_symbols"))
        a.crossJoin(v).select(lit(k).as("merge_budget"),
          col("n_words").cast("bigint").as("n_words"),
          col("n_bpe_tokens").cast("bigint").as("n_bpe_tokens"),
          expr("n_bpe_tokens * 1000000 div n_words").cast("bigint")
            .as("fertility_ppm"),
          col("n_symbols").cast("bigint").as("n_symbols"))
      }.reduce(_ unionByName _)
      materialized(perK, words).orderBy("merge_budget")
    },

    // ---- TOKENIZER FERTILITY per language — the tokenizer-equity
    // metric multilingual reports publish (how many subwords the
    // trained BPE spends per word in each language; high fertility =
    // that language pays more compute per word): q114's equi-join
    // apply of the trained word→n_syms state, folded per language in
    // integer ppm. One vocab-sized join + a languages-sized fold. ----
    "q266_tokenizer_fertility" -> { (s, d) =>
      val wordLen = s.read.parquet(s"${bpeModelDir(s, d)}/state")
        .select(col("w"),
          size(split(trim(col("symstr")), " ")).cast("bigint").as("n_syms"))
      val dw = Tables.documents(s, d)
        .select(col("lang"), explode(tokens(col("text"))).as("w"))
        .groupBy("lang", "w").agg(count(lit(1)).as("c"))
      dw.join(wordLen, "w")
        .groupBy("lang")
        .agg(sum("c").cast("bigint").as("n_words"),
          sum(col("c") * col("n_syms")).cast("bigint").as("n_bpe_tokens"))
        .withColumn("fertility_ppm",
          expr("n_bpe_tokens * 1000000 div n_words").cast("bigint"))
        .orderBy("lang")
    },

    // ---- DSIR importance resampling (Xie et al., "Data Selection for
    // Language Models via Importance Resampling", NeurIPS 2023,
    // arXiv:2302.03169): select pool documents whose hashed-n-gram
    // distribution looks like a curated TARGET domain. Features are
    // unigrams + bigrams hashed into B=1024 buckets (the paper's hashed
    // n-gram feature space, on the project md5); the target here is the
    // src0/src1/src2 slice (the wiki+books stand-in). Per-doc importance
    // weight = Σ_b c_doc(b)·[log p_target(b) − log p_raw(b)] with
    // Laplace smoothing, every log() floor(×1e6)-quantized PER TERM (the
    // q05/q117 contract) so the weight is exact int64. Scale shape: docs
    // collapse to (doc, bucket) counts map-side; both distributions
    // derive from that same frame (no second corpus scan); the log-ratio
    // table is B rows — BROADCAST — so scoring is a broadcast join + one
    // groupBy(doc). Selection: the paper's global top-k resample is a
    // single-partition sort at corpus scale, so the gated query does the
    // stratified variant — top 20% per SOURCE via bounded per-source
    // windows (the q124 precedent), threshold in pure integer
    // arithmetic. ----
    "q150_dsir_importance" -> { (s, d) =>
      val B = 1024
      val qln = (x: org.apache.spark.sql.Column) =>
        floor(log(x.cast("double")) * lit(1e6)).cast("bigint")
      // The unigram+bigram feature stream binds the token array ONCE as
      // a lambda variable (transform over a 1-element array) — without
      // the binding, projection collapse inlines the tokenizer into
      // every bigram element_at (the q164 trap; measured ~6 s steady vs
      // ~4 s bound on identical output).
      val features = flatten(transform(array(tokens(col("text"))), t =>
        concat(t, when(size(t) < 2, array().cast("array<string>"))
          .otherwise(transform(sequence(lit(1), size(t) - 1),
            i => concat_ws(" ", element_at(t, i), element_at(t, i + 1)))))))
      val dbc = warmed(Tables.documents(s, d)
        .select(col("doc_id"), col("source"), explode(features).as("f"))
        .select(col("doc_id"), col("source"), (hex64(md5(col("f"))) % B).as("b"))
        .groupBy("doc_id", "source", "b").agg(count(lit(1)).as("c")))
      // raw and target distributions in ONE conditional aggregate (§2.3/
      // §2.4: the former raw-aggregate + filtered-target-aggregate +
      // left-join shape paid a second exchange over the same cached
      // (doc, bucket) frame and a join to reassemble rows it had just
      // split). ct's conditional sum is NULL exactly where the old left
      // join had no target row — coalesce(0) ≡ the old na.fill(0) — and
      // tr/tt fold off the same 1024-row frame in one pass.
      val dists = dbc.groupBy("b").agg(sum("c").as("cr"),
        coalesce(sum(when(col("source").isin("src0", "src1", "src2"),
          col("c"))), lit(0L)).as("ct"))
      val tots = dists.agg(sum("cr").cast("bigint").as("tr"),
        sum("ct").cast("bigint").as("tt"))
      val lr = dists
        .crossJoin(broadcast(tots))
        .select(col("b"),
          ((qln(col("ct") + 1) - qln(col("tt") + B)) -
           (qln(col("cr") + 1) - qln(col("tr") + B))).as("lr_q"))
      // warmed: the weight frame feeds THREE branches (per-source k,
      // the distinct-weight cutoff scan, and the final selection join)
      // — without the cache the bucket-join + fold runs three times
      // (measured 9.3 s cold vs 5.9 s warmed at sf0.1)
      val wts = warmed(dbc.join(broadcast(lr), "b")
        .groupBy("doc_id", "source")
        .agg(sum(col("c") * col("lr_q")).cast("bigint").as("weight_q")))
      // Top-20%-per-source selection WITHOUT the per-source full-rank
      // window (the r7 verdict's q150 scale-killer: row_number over
      // PARTITION BY source ranks a source's entire corpus in one task).
      // Rank-free equivalent of `rank <= k` under (weight DESC, doc_id):
      //   1. per-source k = ceil(n/5) (tiny aggregate);
      //   2. per-source cutoff weight = the weight holding rank k, found
      //      on the (source, weight) DISTINCT frame via the distributed
      //      keyed PrefixSum (descending cumsum of tie counts — every
      //      stage partition-bounded, never source-bounded);
      //   3. weight > cutoff ⇒ selected; weight == cutoff ⇒ break ties
      //      by doc_id within the ONE tie group per source — a window
      //      PARTITIONed BY (source, weight_q), bounded by the tie
      //      multiplicity at a single int64 weight, not by corpus size.
      // Selection set is IDENTICAL to the old rank rule; the rank column
      // itself (inherently a row-scale total order) is dropped.
      val nsrc = wts.groupBy("source")
        .agg(expr("(count(1) + 4) div 5").as("k"))
      val vals = wts.groupBy("source", "weight_q")
        .agg(count(lit(1)).as("cnt"))
      val cut = graft.functions.PrefixSum.inclusivePerKey(vals,
          Seq("source"), Seq(col("weight_q").desc), Seq((col("cnt"), "cum")))
        .join(broadcast(nsrc), "source")
        .filter(col("cum") >= col("k") && col("cum") - col("cnt") < col("k"))
        .select(col("source"), col("weight_q").as("cut_w"),
          (col("k") - (col("cum") - col("cnt"))).as("need"))
      val tieW = Window.partitionBy(col("source"), col("weight_q"))
        .orderBy(asc("doc_id"))
      val result = wts.join(broadcast(cut), "source")
        .withColumn("tie_rk",
          when(col("weight_q") === col("cut_w"), row_number().over(tieW)))
        .withColumn("selected", col("weight_q") > col("cut_w") ||
          (col("weight_q") === col("cut_w") && col("tie_rk") <= col("need")))
        .select(col("doc_id"), col("source"), col("weight_q"), col("selected"))
      // Plan REQUIRE (r7 verdict item 1): every Window must be PrefixSum
      // machinery (__pid in its spec) or the tie-group window (weight_q
      // in its PARTITION BY) — no per-source row-scale window.
      locally {
        import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
        val wins = result.queryExecution.optimizedPlan.collect { case w: LWindow => w }
        require(wins.nonEmpty && wins.forall(w =>
            (w.partitionSpec ++ w.orderSpec)
              .flatMap(_.references.toSeq).exists(_.name == "__pid") ||
            w.partitionSpec.flatMap(_.references.toSeq).exists(_.name == "weight_q")),
          "q150: a per-source row-scale window crept back in")
      }
      materialized(result, dbc, wts).orderBy("doc_id")
    },

    // ---- bigram-LM document scoring: the next step up from q05's
    // unigram scorer toward KenLM-style fluency filtering — per-doc
    // average log P(w2|w1) under the corpus's own bigram counts with
    // Laplace smoothing, P(w2|w1) = (c12+1)/(c1+V). Same determinism
    // contract as q05/q111/q112: ln() floor(×1e6)-quantized PER TERM,
    // weighted by int64 occurrence counts. Shape: docs collapse to
    // (doc, bigram) counts (map-side combine); the corpus bigram and
    // unigram tables derive from those same frames (no second corpus
    // scan); scoring is two vocab-keyed equi-joins + one 1-row V
    // broadcast. ----
    "q117_bigram_lm" -> { (s, d) =>
      val (docs, dbg, result) = bigramLogprob(s, d)
      materialized(result, dbg, docs).orderBy("doc_id")
    },

    // ---- CCNet perplexity-tertile bucketing (Wenzek et al., LREC 2020
    // — the head/middle/tail LM filter every CommonCrawl curation
    // pipeline runs before training-data selection): each doc's
    // bigram-LM perplexity proxy (negated average quantized log-prob;
    // q117's scorer construction reused verbatim, so the two gates pin
    // the same arithmetic) is bucketed per LANGUAGE into lowest /
    // middle / highest thirds. Tertile cutoffs are the VALUES at
    // per-lang ranks ceil(n/3) and ceil(2n/3), found on the
    // (lang, ppl) DISTINCT frame via the keyed two-phase PrefixSum —
    // the q150 cutoff recipe, never a per-lang row-scale rank window —
    // and ties share a bucket by value, so the rule is deterministic
    // in both engines. Per-doc output. ----
    "q254_perplexity_filter" -> { (s, d) =>
      val (docs, dbg, logprob) = bigramLogprob(s, d)
      // warmed: the per-doc score feeds three branches (distinct-value
      // cutoff scan, per-lang totals, final bucket join) — the scoring
      // join must not run three times
      val scored = warmed(logprob
        .join(Tables.documents(s, d).select("doc_id", "lang"), "doc_id")
        .select(col("doc_id"), col("lang"),
          expr("(0 - logprob_q) div n_bigrams").cast("bigint").as("ppl_q")))
      val vals = scored.groupBy("lang", "ppl_q").agg(count(lit(1)).as("c"))
      val cum = graft.functions.PrefixSum.inclusivePerKey(vals,
        Seq("lang"), Seq(col("ppl_q")), Seq((col("c"), "cum")))
      val nl = scored.groupBy("lang").agg(count(lit(1)).as("n"))
      val cuts = cum.join(broadcast(nl), "lang")
      def cutAt(k: org.apache.spark.sql.Column, name: String) = cuts
        .filter(col("cum") >= k && col("cum") - col("c") < k)
        .select(col("lang"), col("ppl_q").as(name))
      val result = scored
        .join(broadcast(cutAt(expr("(n + 2) div 3"), "cut1")), "lang")
        .join(broadcast(cutAt(expr("(2 * n + 2) div 3"), "cut2")), "lang")
        .withColumn("bucket",
          when(col("ppl_q") <= col("cut1"), "head")
            .when(col("ppl_q") <= col("cut2"), "middle")
            .otherwise("tail"))
        .select(col("doc_id"), col("lang"), col("ppl_q"), col("bucket"))
      materialized(result, dbg, scored, docs).orderBy("doc_id")
    },

    // ---- interpolated Kneser–Ney bigram scoring (Kneser & Ney, ICASSP
    // 1995; the Chen & Goodman 1998 formulation with fixed discount
    // D = 3/4): the estimator real LM-quality filters (KenLM) actually
    // use, where the backoff mass goes to CONTINUATION counts — "how
    // many contexts does w2 complete" — not raw frequency. Exact int64
    // arithmetic by multiplying through by the common denominator:
    //   P(w2|w1) = [max(4·c12−3, 0)·Nbb + 3·N1+(w1·)·N1+(·w2)]
    //              / [4·ctx(w1)·Nbb]
    // with ctx(w1) = Σ_w2 c12 (bigram-consistent context totals), both
    // factors qln-floor-quantized per term (the q05/q117 discipline).
    // Scale shape: everything derives from ONE (doc, bigram) count
    // frame; the three model tables are vocab-keyed aggregates of it,
    // joined back on vocab keys with NO broadcast hint (the q05
    // lesson: a forced broadcast(vocab) is an OOM at corpus scale).
    // Catalyst still picks broadcast when its size stats fit — right
    // for this corpus's tiny vocabulary, degrading to co-partitioned
    // shuffle joins when the vocabulary outgrows the threshold. Only
    // the 1-row Nbb is explicitly broadcast. ----
    "q188_kneser_ney" -> { (s, d) =>
      val qln = (x: org.apache.spark.sql.Column) =>
        floor(log(x.cast("double")) * lit(1e6)).cast("bigint")
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
      val dbg = warmed(docs
        .select(col("doc_id"), explode(wordShinglesOf(col("toks"), 2)).as("bg"))
        .groupBy("doc_id", "bg").agg(count(lit(1)).as("c")))
      val cb = warmed(dbg.groupBy("bg").agg(sum("c").as("c12"))
        .withColumn("w1", expr("split_part(bg, ' ', 1)"))
        .withColumn("w2", expr("split_part(bg, ' ', 2)")))
      val ctx = cb.groupBy("w1")
        .agg(sum("c12").as("ctx1"), count(lit(1)).as("n1p_fw"))
      val bw = cb.groupBy("w2").agg(count(lit(1)).as("n1p_bw"))
      val nbb = cb.agg(count(lit(1)).as("nbb"))
      val result = dbg
        .join(cb.select(col("bg"), col("c12"), col("w1"), col("w2")), "bg")
        .join(ctx, "w1").join(bw, "w2")
        .crossJoin(broadcast(nbb))
        .withColumn("num",
          greatest(lit(4) * col("c12") - 3, lit(0)) * col("nbb") +
            lit(3) * col("n1p_fw") * col("n1p_bw"))
        .withColumn("den", lit(4) * col("ctx1") * col("nbb"))
        .groupBy("doc_id")
        .agg(sum("c").cast("bigint").as("n_bigrams"),
          sum(col("c") * (qln(col("num")) - qln(col("den"))))
            .cast("bigint").as("kn_logprob_q"))
      materialized(result, dbg, cb).orderBy("doc_id")
    },

    // ---- decision-stump training by exact Gini split (CART's split
    // criterion, Breiman et al. 1984, at depth 1): the best token-count
    // threshold separating English from non-English docs, scored by
    // weighted Gini impurity in exact int64 fixed-point —
    // per side: 1e6·(cnt² − pos² − neg²) div (cnt·N), floor-quantized
    // PER SIDE so both engines sum identical integers. Candidate
    // thresholds are every distinct token count; counts and positives
    // cumulate over that DISTINCT-VALUE frame (bounded by the length
    // vocabulary, the q171 histogram discipline — never a window over
    // document rows). Top-5 thresholds reported, ties to the smaller
    // threshold. ----
    "q196_gini_stump" -> { (s, d) =>
      val base = Tables.documents(s, d)
        .select(size(tokens(col("text"))).cast("bigint").as("n"),
          (col("lang") === "en").cast("bigint").as("pos"))
      val vals = base.groupBy("n")
        .agg(count(lit(1)).as("cnt"), sum("pos").as("p"))
      val tot = vals.agg(sum("cnt").as("nn"), sum("p").as("pp"))
      val w = Window.orderBy("n")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = vals
        .withColumn("lc", sum("cnt").over(w))
        .withColumn("lp", sum("p").over(w))
        .crossJoin(broadcast(tot))
        .filter(col("lc") < col("nn"))
        .withColumn("rc", col("nn") - col("lc"))
        .withColumn("rp", col("pp") - col("lp"))
        .withColumn("lneg", col("lc") - col("lp"))
        .withColumn("rneg", col("rc") - col("rp"))
        .withColumn("gini_q",
          expr("(1000000 * (lc * lc - lp * lp - lneg * lneg)) div (lc * nn)" +
            " + (1000000 * (rc * rc - rp * rp - rneg * rneg)) div (rc * nn)"))
      cum
        .withColumn("rk", row_number().over(Window.orderBy(col("gini_q"), col("n"))))
        .filter(col("rk") <= 5)
        .select(col("rk").cast("int").as("rk"),
          col("n").cast("bigint").as("threshold"),
          col("gini_q").cast("bigint").as("gini_q"),
          col("lc").cast("bigint").as("lc"), col("lp").cast("bigint").as("lp"),
          col("rc").cast("bigint").as("rc"), col("rp").cast("bigint").as("rp"))
        .orderBy("rk")
    },

    // ---- exact ROC-AUC of the token-count signal q196's stump trains
    // on (Mann–Whitney U / rank-sum identity: AUC = P(score_pos >
    // score_neg) + ½·P(tie), Hanley & McNeil 1982): the classifier-
    // evaluation step every quality-filter pipeline needs before
    // trusting a threshold. Exact integer arithmetic over the DISTINCT-
    // VALUE histogram (the q171/q196 discipline — never a rank window
    // over document rows): per score value v ascending,
    //   num2 += pos_v · (2·neg_below(v) + neg_v)   [ties count ½ ⇒ ×2]
    //   auc_q = (10⁶·num2) div (2·P·N).
    // The cumulative runs over distinct token counts (bounded by the
    // length vocabulary, thousands of rows at any corpus size).
    // int64 bound: num2 ≤ 2·P·N, so the 10⁶ quantization holds to
    // ~6.8e10 docs per class pair; past that the same histogram feeds a
    // DECIMAL(38) reduction unchanged. Output: one row. ----
    "q197_roc_auc" -> { (s, d) =>
      val base = Tables.documents(s, d)
        .select(size(tokens(col("text"))).cast("bigint").as("n"),
          (col("lang") === "en").cast("bigint").as("pos"))
      val vals = base.groupBy("n")
        .agg(count(lit(1)).as("cnt"), sum("pos").as("p"))
        .withColumn("neg", col("cnt") - col("p"))
      val tot = vals.agg(sum("p").as("pp"), sum("neg").as("nn"),
        count(lit(1)).as("n_scores"))
      val w = Window.orderBy("n")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val result = vals
        .withColumn("cneg", sum("neg").over(w))
        .withColumn("contrib",
          col("p") * (lit(2) * (col("cneg") - col("neg")) + col("neg")))
        .agg(sum("contrib").as("num2"))
        .crossJoin(broadcast(tot))
        .select(
          expr("(1000000 * num2) div (2 * pp * nn)").cast("bigint").as("auc_q"),
          col("pp").cast("bigint").as("n_pos"),
          col("nn").cast("bigint").as("n_neg"),
          col("n_scores").cast("bigint").as("n_scores"))
      result
    },

    // ---- PRECISION-RECALL CURVE + F1 operating point of the same
    // token-count signal q196 trains on and q197 ROC-scores (Davis &
    // Goadrich, ICML 2006 on why PR complements ROC under class
    // imbalance — exactly a quality-filter's regime): predict "en" iff
    // token count >= threshold, thresholds = every distinct count.
    // All counts come from the DISTINCT-VALUE histogram (the q171/q196
    // discipline — the cumulative windows below run over the length
    // VOCABULARY, bounded by thousands at any corpus size, never over
    // document rows). TP/predicted-positive are suffix sums (ORDER BY
    // n DESC); precision/recall/F1 are exact integer ppm with floor
    // division, F1 composed from the ppm values with identical formula
    // text in both engines. Output: top-10 thresholds by F1 (ties to
    // the smaller threshold) — the operating-point table a filter
    // deployment publishes next to q197's single AUC number. ----
    "q227_pr_curve" -> { (s, d) =>
      val base = Tables.documents(s, d)
        .select(size(tokens(col("text"))).cast("bigint").as("n"),
          (col("lang") === "en").cast("bigint").as("pos"))
      val vals = base.groupBy("n")
        .agg(count(lit(1)).as("cnt"), sum("pos").as("p"))
      val tot = vals.agg(sum("p").as("pp"))
      val w = Window.orderBy(desc("n"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      vals
        .withColumn("ppos", sum("cnt").over(w))
        .withColumn("tp", sum("p").over(w))
        .crossJoin(broadcast(tot))
        .filter(col("tp") > 0)
        .withColumn("prec_ppm", expr("(1000000 * tp) div ppos"))
        .withColumn("rec_ppm", expr("(1000000 * tp) div pp"))
        .withColumn("f1_ppm",
          expr("(2 * prec_ppm * rec_ppm) div (prec_ppm + rec_ppm)"))
        .withColumn("rk",
          row_number().over(Window.orderBy(desc("f1_ppm"), asc("n"))))
        .filter(col("rk") <= 10)
        .select(col("rk").cast("int").as("rk"),
          col("n").cast("bigint").as("threshold"),
          col("ppos").cast("bigint").as("n_pred_pos"),
          col("tp").cast("bigint").as("n_tp"),
          col("prec_ppm").cast("bigint").as("prec_ppm"),
          col("rec_ppm").cast("bigint").as("rec_ppm"),
          col("f1_ppm").cast("bigint").as("f1_ppm"))
        .orderBy("rk")
    },

    // ---- N-GRAM NOVELTY CURVE: distinct vs total n-gram counts for
    // n = 1..4 — the diversity/repetitiveness profile a corpus report
    // publishes (the type/token ratio generalized over n; low
    // distinct-fractions at high n flag boilerplate and template
    // text, the signal behind Gopher's repetition filters at corpus
    // rather than document level). Exact counts over 60-bit hashed
    // n-gram ids (the q43 shingle-id discipline — distinct-counting
    // 8-byte ids, never strings); each n is one explode + one distinct
    // aggregate, ratios exact integer ppm. Output: 4 rows. ----
    "q245_ngram_novelty" -> { (s, d) =>
      val toks = warmed(Tables.documents(s, d)
        .select(col("doc_id"), tokens(col("text")).as("ws")))
      val rows = (1 to 4).map { n =>
        val grams = toks
          .select(explode(wordShinglesOf(col("ws"), n)).as("g"))
          .select(hex64(md5(col("g"))).as("gid"))
        grams.agg(count(lit(1)).as("n_total"),
            countDistinct(col("gid")).as("n_distinct"))
          .select(lit(n).cast("bigint").as("n"),
            col("n_total").cast("bigint").as("n_total"),
            col("n_distinct").cast("bigint").as("n_distinct"),
            expr("(1000000 * n_distinct) div n_total")
              .cast("bigint").as("distinct_ppm"))
      }
      materialized(rows.reduce(_ unionByName _), toks).orderBy("n")
    },

    // ---- TOKEN-MASS-WEIGHTED length percentiles per source: at which
    // document length does half (p50) / 90% of a source's TOKEN volume
    // sit in shorter docs — the chunking/packing planner's view of a
    // corpus ("most tokens live in docs of length X"), which the
    // unweighted doc-count medians (q83/q171/q201) cannot answer
    // because one long doc carries the token mass of hundreds of short
    // ones. Exact integers over the per-source distinct-length
    // histogram (q171 discipline — cumulative token mass runs over the
    // length VOCABULARY, never doc rows): weighted p = min length with
    // cum·k >= total·(k·p). ----
    "q236_weighted_median" -> { (s, d) =>
      val vals = Tables.documents(s, d)
        .select(col("source"), size(tokens(col("text"))).cast("bigint").as("n"))
        .groupBy("source", "n").agg(count(lit(1)).as("cnt"))
        .withColumn("wt", col("n") * col("cnt"))
      val tot = vals.groupBy("source").agg(sum("wt").as("tw"))
      val wcum = Window.partitionBy("source").orderBy("n")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      vals
        .withColumn("cum", sum("wt").over(wcum))
        .join(tot, "source")
        .groupBy("source")
        .agg(max("tw").cast("bigint").as("total_tokens"),
          min(when(col("cum") * 2 >= col("tw"), col("n")))
            .cast("bigint").as("wmed_len"),
          min(when(col("cum") * 10 >= col("tw") * 9, col("n")))
            .cast("bigint").as("wp90_len"))
        .orderBy("source")
    },

    // ---- grouped quantiles by the native mergeable sketch
    // ([[graft.functions.QuantileSketchAgg]] — a capacity-bounded
    // weighted value histogram, Ben-Haim & Tom-Tov JMLR 2010): the
    // 100 TB percentile path, where the exact-histogram queries
    // (q83/q94/q166/q171/q193) stop fitting because the value
    // vocabulary is unbounded. Per-source token-length p25/p50/p75/
    // p95/p99 at capacity 8192 — far above any corpus's distinct
    // length count, so the sketch runs in its EXACT regime and the
    // oracle checks nearest-rank answers exactly (the q69 SpaceSaving
    // gating discipline; the capped/compacting regime's error bounds
    // are QuantileSketchSpec's job). One map-side-combining aggregate,
    // constant-size state per group. ----
    "q201_quantile_sketch" -> { (s, d) =>
      graft.functions.GraftExpressions.ensure(s)
      val result = Tables.documents(s, d)
        .select(col("source"), size(tokens(col("text"))).cast("bigint").as("n"))
        .groupBy("source")
        .agg(graft.functions.GraftExpressions.quantileSketch(col("n"), 8192).as("qs"))
        .select(col("source"),
          element_at(col("qs"), 1).cast("bigint").as("q250"),
          element_at(col("qs"), 2).cast("bigint").as("q500"),
          element_at(col("qs"), 3).cast("bigint").as("q750"),
          element_at(col("qs"), 4).cast("bigint").as("q950"),
          element_at(col("qs"), 5).cast("bigint").as("q990"))
      result.orderBy("source")
    },

    // ---- quantile feature binning (the training-prep bucketizer:
    // discretize a feature into per-group quartile bins so downstream
    // models see balanced categories): cutoffs come FROM the native
    // quantile sketch (q201's aggregate — at corpus scale the cutoff
    // table is what you can actually compute), then broadcast back
    // onto the doc stream for the bin assignment — one sketch
    // aggregate + one broadcast join, never a per-doc rank window.
    // Bin populations land near-uniform by construction (visible in
    // the output); boundary docs go to the lower bin (<= cutoff, the
    // nearest-rank-lower convention q201 pins). ----
    "q212_quantile_binning" -> { (s, d) =>
      graft.functions.GraftExpressions.ensure(s)
      val docs = Tables.documents(s, d)
        .select(col("source"), size(tokens(col("text"))).cast("bigint").as("n"))
      val cuts = docs.groupBy("source")
        .agg(graft.functions.GraftExpressions.quantileSketch(col("n"), 8192).as("qs"))
        .select(col("source"),
          element_at(col("qs"), 1).as("c25"),
          element_at(col("qs"), 2).as("c50"),
          element_at(col("qs"), 3).as("c75"))
      val result = docs.join(broadcast(cuts), "source")
        .withColumn("bin",
          when(col("n") <= col("c25"), 0)
            .when(col("n") <= col("c50"), 1)
            .when(col("n") <= col("c75"), 2).otherwise(3))
        .groupBy(col("source"), col("bin"))
        .agg(count(lit(1)).cast("bigint").as("n_docs"),
          min("n").cast("bigint").as("lo_tokens"),
          max("n").cast("bigint").as("hi_tokens"))
        .select(col("source"), col("bin").cast("int").as("bin"),
          col("n_docs"), col("lo_tokens"), col("hi_tokens"))
      result.orderBy("source", "bin")
    },

    // ---- Zipf-exponent fit of the rank-frequency head (Zipf 1949;
    // the vocabulary-shape read tokenizer sizing and corpus-health
    // checks start from — natural text sits near slope −1, spammy or
    // templated corpora bend it): log-log least squares over the top
    // 1024 ranks. Ranks come from a TakeOrderedAndProject head slice
    // (bounded rows, never a global window over the vocabulary); ln()
    // floor-quantizes to exact int64 MILLI-nats per point (q05
    // discipline at 10³ — keeps all four power sums exact in int64 at
    // any corpus size: n·Σxy ≤ 1024²·(40·10³)² ≈ 10¹⁵); the two
    // closed-form ratios evaluate as ONE double expression whose text
    // is character-identical in both engines ([[zipfSlopeExpr]], the
    // q206/q211 identical-IEEE discipline), ×10⁶ floored. ----
    "q210_zipf_fit" -> { (s, d) =>
      val qln3 = (x: org.apache.spark.sql.Column) =>
        floor(log(x.cast("double")) * lit(1e3)).cast("bigint")
      val top = Tables.documents(s, d)
        .select(explode(tokens(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("w")).limit(1024)
      val ranked = top
        .withColumn("rk", row_number().over(
          Window.orderBy(col("c").desc, col("w"))).cast("bigint"))
        .select(qln3(col("rk")).as("x"), qln3(col("c")).as("y"))
      val result = ranked
        .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
        .withColumn("slope_q", expr(TextPack.zipfSlopeExpr))
        .withColumn("intercept_q", expr(TextPack.zipfInterceptExpr))
        .select(col("n").cast("bigint").as("n_points"),
          col("slope_q"), col("intercept_q"))
      result
    },

    // ---- PMI collocation extraction (Church & Hanks, CL 1990: "Word
    // association norms, mutual information, and lexicography") — the
    // classic multi-word-expression miner. PMI(w1,w2) =
    // ln(P(w1,w2)/(P(w1)·P(w2))) = ln(c12·Nu²/(Nb·c1·c2)), factored
    // into per-term qln-quantized int64 summands (the q05/q117
    // discipline — order-deterministic, engine-portable), with the
    // standard c12 ≥ 5 support floor that kills the PMI low-count
    // pathology. Shape: the (bigram count) and (unigram count) frames
    // are one corpus scan each with map-side combine; totals broadcast
    // as 1-row frames; the top-15 is a TakeOrderedAndProject, never a
    // global window. ----
    "q208_pmi_collocations" -> { (s, d) =>
      val qln = (x: org.apache.spark.sql.Column) =>
        floor(log(x.cast("double")) * lit(1e6)).cast("bigint")
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
      val bg = docs
        .select(explode(wordShinglesOf(col("toks"), 2)).as("bg"))
        .groupBy("bg").agg(count(lit(1)).as("c12"))
        .filter(col("c12") >= 5)
        .withColumn("w1", expr("split_part(bg, ' ', 1)"))
        .withColumn("w2", expr("split_part(bg, ' ', 2)"))
      val uni = docs.select(explode(col("toks")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
      val nu = uni.agg(sum("c").as("nu"))
      val nb = docs.select((size(col("toks")) - 1).as("nb0"))
        .agg(sum(greatest(col("nb0"), lit(0L))).as("nb"))
      val result = bg
        .join(uni.select(col("w").as("w1"), col("c").as("c1")), "w1")
        .join(uni.select(col("w").as("w2"), col("c").as("c2")), "w2")
        .crossJoin(broadcast(nu)).crossJoin(broadcast(nb))
        .withColumn("pmi_q",
          qln(col("c12")) + lit(2L) * qln(col("nu")) - qln(col("nb"))
            - qln(col("c1")) - qln(col("c2")))
        .orderBy(col("pmi_q").desc, col("bg")).limit(15)
        .withColumn("rk", row_number().over(
          Window.orderBy(col("pmi_q").desc, col("bg"))))
        .select(col("rk").cast("int").as("rk"), col("bg"),
          col("c12").cast("bigint").as("c12"),
          col("c1").cast("bigint").as("c1"), col("c2").cast("bigint").as("c2"),
          col("pmi_q").cast("bigint").as("pmi_q"))
      result.orderBy("rk")
    },

    // ---- Naive-Bayes classifier, training half: the "quality/domain
    // classifier" stage of a CCNet/GPT-3-style pipeline, expressed as
    // what it really is at scale — pure counting. Train on the held-in
    // split (doc_id % 5 != 0, the q76 held-out-slice precedent with a
    // portable integer split); the model IS two aggregations: per-class
    // token counts (one groupBy over the corpus scan, map-side combine)
    // and per-class totals. Output: per-class top-10 evidence words +
    // class stats — bounded rows regardless of corpus size. ----
    "q119_nb_train" -> { (s, d) =>
      val clw = warmed(Tables.documents(s, d)
        .where(col("doc_id") % 5 =!= 0)
        .select(col("lang"), explode(tokens(col("text"))).as("w"))
        .groupBy("lang", "w").agg(count(lit(1)).cast("bigint").as("cnt")))
      val stats = clw.groupBy("lang").agg(
        sum("cnt").cast("bigint").as("lang_tokens"),
        count(lit(1)).cast("bigint").as("lang_vocab"))
      val result = clw
        .withColumn("rank", row_number().over(
          Window.partitionBy("lang").orderBy(col("cnt").desc, col("w"))))
        .where(col("rank") <= 10)
        .join(stats, "lang")
        .select(col("lang"), col("rank").cast("bigint").as("rank"),
          col("w"), col("cnt"), col("lang_tokens"), col("lang_vocab"))
      materialized(result, clw).orderBy("lang", "rank")
    },

    // ---- Naive-Bayes classifier, scoring half: classify the held-out
    // 20% under the held-in model. score(l) = log P(l) + sum_w c_w *
    // log P(w|l), Laplace-smoothed; tokens unseen in class l factor out
    // as -n_tok * ln(c_l + V), so scoring needs ONE vocab-keyed
    // equi-join (doc-word counts x class-word counts — co-partitioned
    // by w, never broadcast) plus a broadcast of the tiny per-class
    // table. argmax per doc with (score desc, lang) tie-break. Same
    // int64 ln-quantization as q05/q117 so both engines agree bit-for-
    // bit. Pipeline shared with q128's eval harness ([[nbHeldOutScored]]). ----
    "q120_nb_classify" -> { (s, d) =>
      nbHeldOutScored(s, d).orderBy("doc_id")
    },

    // ---- McNEMAR PAIRED TEST (McNemar 1947) between the two gated
    // language classifiers — the q60 profile heuristic and the q119/
    // q120 Naive-Bayes model — on the NB held-out fold: the b/c
    // discordant-pair table and the χ² statistic (b−c)²/(b+c), the
    // statistically-sound way to claim "classifier B beats A" on
    // PAIRED predictions (marginal accuracies alone can't — q128/q256
    // report those). All integer: indicator sums and a ×10⁶ floor
    // division on a nonnegative numerator. Shape: two per-doc argmax
    // streams equi-joined on doc_id, collapsed map-side to 4 counters. ----
    "q327_mcnemar" -> { (s, d) =>
      val h = queries("q60_lang_id")(s, d)
        .select(col("doc_id"),
          (col("pred_lang") === col("lang")).cast("long").as("hr"))
      val nb = nbHeldOutScored(s, d)
        .select(col("doc_id"),
          (col("pred_lang") === col("true_lang")).cast("long").as("nr"))
      h.join(nb, "doc_id")
        .agg(sum(expr("hr * nr")).as("rr"),
          sum(expr("(1 - hr) * (1 - nr)")).as("ww"),
          sum(expr("hr * (1 - nr)")).as("b"),
          sum(expr("(1 - hr) * nr")).as("c"))
        .select(col("rr").cast("bigint").as("n_both_right"),
          col("ww").cast("bigint").as("n_both_wrong"),
          col("b").cast("bigint").as("n_h_only"),
          col("c").cast("bigint").as("n_nb_only"),
          expr("CASE WHEN b + c = 0 THEN 0L ELSE ((b - c) * (b - c) * 1000000) div (b + c) END")
            .cast("bigint").as("mcnemar_q"))
    },

    // ---- classifier EVAL: the confusion matrix + per-class recall of
    // the q119/q120 Naive-Bayes model on its held-out fold — the
    // measure-don't-guess step a production quality-classifier stage
    // ships with (CCNet §4 evaluates its fastText filter the same way).
    // Shape: the per-doc argmax stream collapses to a classes² matrix
    // (map-side-combining groupBy — bounded rows regardless of corpus
    // size), class totals re-derive FROM the matrix (no second pass
    // over the docs), and recall is integer ppm (n_cell·10^6 div
    // n_true) so both engines agree exactly. ----
    "q128_nb_confusion" -> { (s, d) =>
      val cm = nbHeldOutScored(s, d)
        .groupBy(col("true_lang"), col("pred_lang"))
        .agg(count(lit(1)).cast("bigint").as("n_docs"))
      val totals = cm.groupBy("true_lang")
        .agg(sum("n_docs").cast("bigint").as("n_true"))
      cm.join(totals, "true_lang")
        .select(col("true_lang"), col("pred_lang"), col("n_docs"), col("n_true"),
          expr("n_docs * 1000000 div n_true").cast("bigint").as("recall_ppm"))
        .orderBy("true_lang", "pred_lang")
    },

    // ---- classifier calibration (reliability table): bin the held-out
    // predictions by DECISION MARGIN — the top-1 vs top-2 quantized
    // log-score gap, in whole nats (margin_q div 1e6), capped at 9 —
    // and report empirical accuracy per bin. A well-calibrated
    // classifier's accuracy rises with the margin; the table is how a
    // pipeline picks the margin threshold above which it trusts the
    // cheap classifier and below which docs route to review (the
    // CCNet-style quality-classifier triage). All-integer: counts,
    // ppm accuracy, integer-div mean margin. ----
    "q172_nb_calibration" -> { (s, d) =>
      val pair = nbHeldOutRanked(s, d) // substrate already carries only rk <= 2
        .groupBy("doc_id")
        .agg(max(when(col("rk") === 1, col("lang"))).as("pred_lang"),
          max(col("true_lang")).as("true_lang"),
          max(when(col("rk") === 1, col("score_q"))).as("s1"),
          max(when(col("rk") === 2, col("score_q"))).as("s2"))
      pair
        .select(
          least(expr("(s1 - s2) div 1000000"), lit(9L)).cast("bigint").as("bin"),
          when(col("pred_lang") === col("true_lang"), 1L).otherwise(0L).as("ok"),
          (col("s1") - col("s2")).as("margin_q"))
        .groupBy("bin")
        .agg(count(lit(1)).cast("bigint").as("n_docs"),
          sum(col("ok")).cast("bigint").as("n_correct"),
          expr("sum(ok) * 1000000 div count(*)").cast("bigint").as("acc_ppm"),
          expr("sum(margin_q) div count(*)").cast("bigint").as("avg_margin_q"))
        .orderBy("bin")
    },

    // ---- inter-rater agreement: Cohen's kappa (Cohen 1960) between the
    // two independent labelers the engine already ships — the NB quality
    // classifier (q120) and the stopword-profile heuristic (q60) — on
    // the held-out docs. Kappa corrects raw agreement for chance using
    // the raters' marginals: po = agree/n, pe = Σ_c na_c·nb_c / n²,
    // κ = (po − pe)/(1 − pe). The production use: watch κ between a new
    // model and the incumbent before switching labelers. Contingency
    // and marginals are exact int64; po/pe/κ are IEEE doubles with
    // identical formula text in both engines. ----
    "q173_rater_agreement" -> { (s, d) =>
      val a = nbHeldOutRanked(s, d).where(col("rk") === 1)
        .select(col("doc_id"), col("lang").as("a"))
      val b = queries("q60_lang_id")(s, d)
        .where(pmod(col("doc_id"), lit(5)) === 0)
        .select(col("doc_id"), col("pred_lang").as("b"))
      val j = warmed(a.join(b, "doc_id"))
      val base = j.agg(count(lit(1)).cast("bigint").as("n"),
        sum(when(col("a") === col("b"), 1L).otherwise(0L)).cast("bigint").as("n_agree"))
      val ma = j.groupBy("a").agg(count(lit(1)).as("na"))
      val mb = j.groupBy("b").agg(count(lit(1)).as("nb"))
      val cross = ma.join(mb, col("a") === col("b"))
        .agg(coalesce(sum(col("na") * col("nb")), lit(0L)).cast("bigint").as("n_cross"))
      val result = base.crossJoin(cross)
        .withColumn("po", col("n_agree").cast("double") / col("n").cast("double"))
        .withColumn("pe", col("n_cross").cast("double") /
          (col("n").cast("double") * col("n").cast("double")))
        .withColumn("kappa",
          when(col("pe") >= 1.0, lit(1.0))
            .otherwise((col("po") - col("pe")) / (lit(1.0) - col("pe"))))
      materialized(result, j).orderBy("n")
    },

    // ---- bigram statistics: top word-pairs per language via the native
    // top-k aggregate (token array materialized before the shingle
    // lambda — see the HOF-CSE note in DedupPack.ngramPairs) ----
    "q68_bigram_stats" -> { (s, d) =>
      graft.functions.GraftExpressions.ensure(s)
      Tables.documents(s, d)
        .select(col("lang"), tokens(col("text")).as("toks"))
        .select(col("lang"), explode(wordShinglesOf(col("toks"), 2)).as("bg"))
        .groupBy("lang")
        .agg(graft.functions.GraftExpressions.topKTokens(col("bg"), 3).as("top_arr"),
             count(lit(1)).as("n_bigrams"))
        .select(col("lang"), col("n_bigrams"), posexplode(col("top_arr")))
        .select(col("lang"), col("n_bigrams"),
          (col("pos") + 1).cast("int").as("rk"),
          expr("split_part(col, ':', 1)").as("bigram"),
          expr("CAST(split_part(col, ':', 2) AS BIGINT)").as("cnt"))
        .orderBy("lang", "rk")
    },

    // ---- TF-IDF: top-5 characteristic terms per document. The big
    // table is the (doc, term, count) aggregate — ONE shuffle; document
    // frequencies are a vocabulary-sized table (broadcast join) and the
    // corpus size a broadcast 1-row frame, so nothing else shuffles at
    // any corpus scale. Scores are floor(×1e6)-quantized to int64: ln()
    // is not guaranteed bit-identical across engines, and ranking on the
    // quantized score keeps the top-5 selection engine-portable too. ----
    "q76_tfidf" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val tf = docs
        .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("cnt"))
        .withColumn("doc_len", sum(col("cnt")).over(Window.partitionBy(col("doc_id"))))
      val dfreq = tf.groupBy("w").agg(count(lit(1)).as("df"))
      val total = docs.agg(count(lit(1)).as("n_docs"))
      val scored = tf
        .join(broadcast(dfreq), "w")
        .crossJoin(broadcast(total))
        .withColumn("score_q",
          floor((col("cnt").cast("double") / col("doc_len").cast("double")) *
            log(col("n_docs").cast("double") / col("df").cast("double")) * lit(1e6))
            .cast("bigint"))
      val byDoc = Window.partitionBy(col("doc_id"))
        .orderBy(col("score_q").desc, col("w"))
      scored.withColumn("rk", row_number().over(byDoc))
        .filter(col("rk") <= 5)
        .select(col("doc_id"), col("rk"), col("w").as("term"),
          col("cnt"), col("df"), col("score_q"))
        .orderBy("doc_id", "rk")
    },

    // ---- unigram-LM quality score — the in-engine analogue of the
    // KenLM scoring CCNet/C4 use: score each doc by its average token
    // log-probability under the corpus's own unigram distribution
    // (repetitive low-entropy docs score high, rare-token soup scores
    // low). Scale shape mirrors q76: ONE shuffle for the (doc, term)
    // aggregate; the vocabulary table is broadcast; the corpus total is
    // a broadcast 1-row frame. Portability: ln() is quantized
    // floor(×1e6) PER TERM and the per-doc total is an int64 sum of
    // (term_q × count) — integer aggregation is order-deterministic, so
    // no float-sum divergence across engines (the q76 discipline). ----
    "q05_unigram_logprob" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val tf = docs
        .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("cnt"))
      val vocab = tf.groupBy("w").agg(sum(col("cnt")).as("cw"))
      val total = vocab.agg(sum(col("cw")).as("t"))
      // vocab is every distinct corpus token — billions of rows at
      // 100 TB, so it must NOT be broadcast. tf is already hash-keyed
      // by `w` from its own groupBy, so this is a co-partitioned
      // shuffle join for free (only `total`, 1 row, broadcasts).
      val scored = tf
        .join(vocab, "w")
        .crossJoin(broadcast(total))
        .withColumn("term_q",
          floor(log(col("cw").cast("double") / col("t").cast("double")) * lit(1e6))
            .cast("bigint"))
        .groupBy("doc_id")
        .agg(sum(col("cnt")).cast("bigint").as("n_tokens"),
             sum(col("term_q") * col("cnt")).as("logprob_q"))
        // single int64/int64 IEEE division — exact operands, portable
        // (negative-value `div` truncation differs across engines, so
        // the integer quotient is deliberately avoided)
        .withColumn("avg_logprob",
          col("logprob_q").cast("double") / col("n_tokens").cast("double"))
      scored
        .select(col("doc_id"), col("n_tokens"), col("logprob_q"), col("avg_logprob"))
        .orderBy("doc_id")
    },

    // ---- rolling-hash fingerprint: min-md5 over char 8-grams ----
    "q63_fingerprint" -> { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          expr("array_min(transform(sequence(1, greatest(length(text) - 7, 1)), i -> md5(substr(text, i, 8))))")
            .as("fingerprint"),
          greatest(length(col("text")) - 7, lit(1)).cast("bigint").as("n_grams"))
        .orderBy("doc_id")
    },

    // ---- repetition filter (the Gopher/MassiveText "repetitious text"
    // rules): per-doc duplicate-bigram fraction, duplicate-trigram
    // fraction, and the single most frequent bigram's share. Everything
    // is computed inside ONE per-document projection — n-gram arrays via
    // higher-order functions, no explode, no shuffle but the final sort —
    // so the filter is a pure map stage over a 100 TB corpus scan.
    // Interpreted-lambda cost is bounded by doc length (per-DOCUMENT
    // work, the regime the HOFs are fine in — see Expressions.scala).
    // Fractions are exact-integer-derived doubles: one IEEE division,
    // bit-identical on both engines. ----
    "q79_repetition_filter" -> { (s, d) =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .select(col("doc_id"), size(col("toks")).cast("bigint").as("n_tokens"),
          wordShinglesOf(col("toks"), 2).as("bi"),
          wordShinglesOf(col("toks"), 3).as("tri"))
        .select(col("doc_id"), col("n_tokens"),
          size(col("bi")).cast("bigint").as("n_bigrams"),
          size(array_distinct(col("bi"))).cast("bigint").as("n_distinct_bigrams"),
          size(col("tri")).cast("bigint").as("n_trigrams"),
          size(array_distinct(col("tri"))).cast("bigint").as("n_distinct_trigrams"),
          // top-bigram multiplicity in O(n log n): sort the bigram
          // array once, then a single aggregate() pass tracks the
          // longest equal-run. (The obvious transform-over-distinct
          // form is O(n²) per doc — a straggler factory on a 100k-token
          // document, so it is deliberately avoided.)
          expr("""aggregate(
                   array_sort(bi),
                   named_struct('prev', cast(null as string),
                                'run', cast(0 as bigint),
                                'best', cast(0 as bigint)),
                   (acc, x) -> named_struct(
                     'prev', x,
                     'run', if(acc.prev is not null and x = acc.prev,
                               acc.run + 1, cast(1 as bigint)),
                     'best', greatest(acc.best,
                       if(acc.prev is not null and x = acc.prev,
                          acc.run + 1, cast(1 as bigint)))),
                   acc -> acc.best)""")
            .cast("bigint").as("top_bigram_cnt"))
      docs
        .select(col("doc_id"), col("n_tokens"), col("n_bigrams"),
          when(col("n_bigrams") > 0,
            (col("n_bigrams") - col("n_distinct_bigrams")).cast("double") /
              col("n_bigrams").cast("double")).otherwise(lit(0.0))
            .as("dup_bigram_frac"),
          when(col("n_trigrams") > 0,
            (col("n_trigrams") - col("n_distinct_trigrams")).cast("double") /
              col("n_trigrams").cast("double")).otherwise(lit(0.0))
            .as("dup_trigram_frac"),
          when(col("n_bigrams") > 0,
            col("top_bigram_cnt").cast("double") / col("n_bigrams").cast("double"))
            .otherwise(lit(0.0)).as("top_bigram_frac"))
        // dup_trigram_frac is REPORTED but intentionally not part of
        // `keep`: on this corpus's 31-word synthetic vocabulary the
        // trigram rule fires on nearly every doc, so it would make the
        // gate vacuous. Both engines (here and the DuckDB oracle)
        // apply the same two-rule predicate.
        .withColumn("keep",
          col("dup_bigram_frac") <= 0.05 && col("top_bigram_frac") <= 0.06)
        .orderBy("doc_id")
    },

    // ---- GOOD–TURING FREQUENCY SMOOTHING TABLE (Good 1953; Gale &
    // Sampson 1995's Simple GT regime for small r) per source: the
    // frequency-of-frequencies N_r for r = 1..5, the unseen-mass
    // estimate P₀ = N₁/N, and the smoothed counts r* = (r+1)·N_{r+1}/N_r
    // — the LM-smoothing companion to q188's Kneser–Ney (KN discounts
    // are themselves derived from N₁/N₂ in the same way) and the
    // principled version of the "how much probability mass do unseen
    // tokens deserve" question q119's Laplace term answers crudely.
    // The event unit is the TRIGRAM shingle (q367's w=3), not the
    // unigram: this corpus's closed 31-word vocabulary has no rare
    // unigrams at scale (N₁..N₅ empty ⇒ a vacuous gate), while the
    // shingle vocabulary grows with the corpus — which is also the
    // regime GT smoothing exists for. Exact integers end to end (milli
    // floor-division for r*); shapes: the (source, shingle) count
    // collapses map-side, the freq-of-frequencies table is a roll-up
    // of THAT vocab-sized frame, and the r ≤ 5 slice is a
    // 5-row-per-source join. ----
    "q372_good_turing" -> { (s, d) =>
      import graft.functions.TextFunctions.wordShinglesOf
      // the token array MUST be a cached column: projection collapse
      // would otherwise inline tokens() into every shingle element_at
      // (≈3 full-regex re-tokenizations per shingle — the q164 HOF-CSE
      // trap; measured 13.9 s cold at sf0.1 inlined vs ~3 s cached)
      val tokf = warmed(Tables.documents(s, d)
        .select(col("source"), tokens(col("text")).as("ts")))
      val cw = tokf
        .select(col("source"), explode(wordShinglesOf(col("ts"), 3)).as("w"))
        .groupBy("source", "w").agg(count(lit(1)).as("c"))
      val warm = warmed(cw.groupBy("source", "c").agg(count(lit(1)).as("n_r")))
      tokf.unpersist()
      val tot = warm.groupBy("source")
        .agg(sum(col("c") * col("n_r")).as("n_tokens"),
          sum("n_r").as("n_types"),
          sum(when(col("c") === 1, col("n_r")).otherwise(0L)).as("n1"))
      val a = warm.filter(col("c").between(1, 5))
        .select(col("source"), col("c").as("r"), col("n_r"))
      val b = warm.filter(col("c").between(2, 6))
        .select(col("source"), (col("c") - 1).as("r"), col("n_r").as("n_r_next"))
      val result = a.join(b, Seq("source", "r"), "left")
        .na.fill(0L, Seq("n_r_next"))
        .join(tot, "source")
        .select(col("source"), col("r").cast("int").as("r"),
          col("n_r").cast("bigint").as("n_r"),
          col("n_r_next").cast("bigint").as("n_r_next"),
          expr("((r + 1) * n_r_next * 1000) div n_r").cast("bigint")
            .as("gt_star_milli"),
          col("n_tokens").cast("bigint").as("n_tokens"),
          col("n_types").cast("bigint").as("n_types"),
          expr("(n1 * 1000000) div n_tokens").cast("bigint").as("p0_ppm"))
      materialized(result, warm).orderBy("source", "r")
    },

    // ---- NEGATIVE-SAMPLING DISTRIBUTION TABLE (word2vec, Mikolov et
    // al. 2013 §2.2): the unigram^(3/4) sampling weights and their
    // cumulative ranges — the alias/CDF table a skip-gram or
    // contrastive-training job samples negatives from. c^0.75 is
    // computed as sqrt(sqrt(c³)) — two CORRECTLY-ROUNDED sqrts instead
    // of the unspecified-rounding pow() (the q257 temperature-mix
    // trick) — then floor-quantized to integer micro-weights so the
    // cumulative sum is exact. The CDF over the token vocabulary runs
    // through the distributed two-phase [[graft.functions.PrefixSum]]
    // (never a single-task vocabulary sort — enforced by a plan
    // REQUIRE), and the emitted head is a top-50 TakeOrdered, also
    // plan-REQUIREd. ----
    "q373_neg_sampling" -> { (s, d) =>
      val cw = Tables.documents(s, d)
        .select(explode(tokens(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
        .withColumn("w_micro", expr(
          "cast(floor(1000000.0 * sqrt(sqrt(cast(c as double) * " +
            "cast(c as double) * cast(c as double)))) as bigint)"))
      val cum = graft.functions.PrefixSum.inclusive(cw,
        Seq(col("w_micro").desc, col("w")), Seq((col("w_micro"), "cum_hi")))
      val tot = cum.agg(sum("w_micro").as("total_micro"))
      val result = cum.crossJoin(broadcast(tot))
        .select(col("w"), col("c").cast("bigint").as("c"),
          col("w_micro"),
          (col("cum_hi") - col("w_micro")).cast("bigint").as("cum_lo"),
          col("cum_hi").cast("bigint").as("cum_hi"),
          expr("(w_micro * 1000000) div total_micro").cast("bigint")
            .as("share_ppm"),
          col("total_micro").cast("bigint").as("total_micro"))
        .orderBy(col("w_micro").desc, col("w")).limit(50)
      // Plan REQUIREs: (a) every window is PrefixSum machinery (the
      // q116 gate — no single-task vocabulary cumsum may creep back);
      // (b) the head emit is a distributed partial top-k.
      locally {
        import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
        val wins = result.queryExecution.optimizedPlan.collect { case w: LWindow => w }
        require(wins.forall(w => (w.partitionSpec ++ w.orderSpec)
            .flatMap(_.references.toSeq).exists(_.name == "__pid")),
          "q373: a non-PrefixSum window appeared (vocab-scale single-task cumsum regression)")
        val phys = result.queryExecution.executedPlan.toString
        require(phys.contains("TakeOrderedAndProject"),
          "q373: top-50 head must plan as TakeOrderedAndProject")
      }
      result
    },

    // ---- 5-FOLD CROSS-VALIDATED NB ACCURACY BY COUNT SUBTRACTION:
    // q119/q120 train on one fixed 80% split; CV reports the accuracy's
    // VARIANCE across folds — the number that tells a curation team
    // whether the quality classifier's measured accuracy is stable or
    // an artifact of one split. The trick that makes 5 folds cost ONE
    // training pass: per-(class, token, fold) counts are additive, so
    // fold f's training counts are total − fold-f (leave-own-fold-out
    // by subtraction — no 5× rescan; the same additivity that powers
    // the q153 HLL rollup). Per-fold vocabulary size, class totals and
    // priors all derive from the same cube by grid-join + subtraction.
    // Scoring reuses q120's semantics verbatim (Laplace qln terms,
    // (score desc, lang) argmax); all frames past the corpus scan are
    // vocab×folds-sized. ----
    "q376_nb_cv_kfold" -> { (s, d) =>
      val qln = (x: org.apache.spark.sql.Column) =>
        floor(log(x.cast("double")) * lit(1e6)).cast("bigint")
      val all = Tables.documents(s, d)
        .select(col("doc_id"), (col("doc_id") % 5).as("fold"), col("lang"),
          tokens(col("text")).as("ts"))
      val tw = all.select(col("fold"), col("lang"), explode(col("ts")).as("w"))
      // ONE corpus tokenize+count pass builds the per-fold cube; every
      // ALL-folds frame is an additive ROLLUP of it (counts are
      // additive — the same identity the leave-own-fold-out subtraction
      // rests on), so clwA/ldocA/folds read the warmed vocab×folds cube
      // instead of re-scanning the corpus (cold path: one big shuffle
      // instead of two)
      val clwF = warmed(tw.groupBy("lang", "w", "fold").agg(count(lit(1)).as("c_f")))
      val clwA = clwF.groupBy("lang", "w").agg(sum("c_f").as("c_all"))
      val ldocF = all.groupBy("lang", "fold").agg(count(lit(1)).as("nd_f"))
      val ldocFw = warmed(ldocF)
      val folds = ldocFw.select("fold").distinct()
      val ldocA = ldocFw.groupBy("lang").agg(sum("nd_f").as("nd_all"))
      val lgrid = ldocA.crossJoin(folds)
        .join(ldocFw, Seq("lang", "fold"), "left")
        .select(col("lang"), col("fold"),
          (col("nd_all") - coalesce(col("nd_f"), lit(0L))).as("nd_train"))
      val ntr = lgrid.groupBy("fold")
        .agg(sum("nd_train").as("n_train"),
          sum(when(col("nd_train") > 0, 1L).otherwise(0L)).as("n_langs"))
      val clG = clwA.groupBy("lang").agg(sum("c_all").as("cl_all"))
        .crossJoin(folds)
        .join(clwF.groupBy("lang", "fold").agg(sum("c_f").as("cl_f")),
          Seq("lang", "fold"), "left")
        .select(col("lang"), col("fold"),
          (col("cl_all") - coalesce(col("cl_f"), lit(0L))).as("cl_train"))
      val vF = clwA.groupBy("w").agg(sum("c_all").as("cw_all"))
        .crossJoin(folds)
        .join(clwF.groupBy("w", "fold").agg(sum("c_f").as("cw_f")),
          Seq("w", "fold"), "left")
        .groupBy("fold")
        .agg(sum(when(col("cw_all") - coalesce(col("cw_f"), lit(0L)) > 0, 1L)
          .otherwise(0L)).as("v"))
      val classes = lgrid.filter(col("nd_train") > 0)
        .join(ntr, "fold").join(clG, Seq("lang", "fold")).join(vF, "fold")
        .select(col("lang"), col("fold"),
          (qln(col("nd_train") + 1) - qln(col("n_train") + col("n_langs")))
            .as("prior_q"),
          qln(col("cl_train") + col("v")).as("denom_q"))
      val dwc = all.select(col("doc_id"), col("fold"), explode(col("ts")).as("w"))
        .groupBy("doc_id", "fold", "w").agg(count(lit(1)).as("c"))
      val matched = dwc.join(clwA, "w")
        .join(clwF, Seq("w", "lang", "fold"), "left")
        .groupBy("doc_id", "lang")
        .agg(sum(col("c") *
          qln(col("c_all") - coalesce(col("c_f"), lit(0L)) + 1)).as("m"))
      val scored = all
        .select(col("doc_id"), col("fold"), col("lang").as("true_lang"),
          size(col("ts")).cast("bigint").as("n_tok"))
        .join(broadcast(classes), "fold")
        .join(matched, Seq("doc_id", "lang"), "left")
        .withColumn("score_q",
          col("prior_q") + coalesce(col("m"), lit(0L)) -
            col("n_tok") * col("denom_q"))
      // argmax by map-side-combining aggregate (the q284 pattern), not a
      // per-doc rank window: row_number over docs×langs pays a full sort
      // shuffle; min(struct(-score, lang)) picks the identical winner
      // ((score desc, lang asc) ≡ (-score, lang) asc) and partial-
      // aggregates before the exchange (guide §2.3).
      val pred = scored.groupBy("doc_id", "fold", "true_lang")
        .agg(min(struct((-col("score_q")).as("ns"), col("lang").as("l"))).as("p"))
        .select(col("doc_id"), col("fold"), col("true_lang"),
          col("p.l").as("lang"))
      val acc = pred.groupBy("fold")
        .agg(count(lit(1)).as("n_held"),
          sum(when(col("lang") === col("true_lang"), 1L).otherwise(0L))
            .as("n_correct"))
        .withColumn("acc_ppm", expr("(n_correct * 1000000) div n_held"))
      val tot = acc.agg(count(lit(1)).as("nf"), sum("acc_ppm").as("sa"),
        sum(col("acc_ppm") * col("acc_ppm")).as("saa"))
      val result = acc.crossJoin(broadcast(tot))
        .select(col("fold").cast("int").as("fold"),
          col("n_held").cast("bigint").as("n_held"),
          col("n_correct").cast("bigint").as("n_correct"),
          col("acc_ppm").cast("bigint").as("acc_ppm"),
          expr("sa div nf").cast("bigint").as("mean_acc_ppm"),
          expr("cast(floor(sqrt(cast(nf * saa - sa * sa as double)) " +
            "/ cast(nf as double)) as bigint)").as("sd_acc_ppm"))
      materialized(result, clwF, ldocFw).orderBy("fold")
    },

    // ---- ATKINSON INEQUALITY INDEX, aversion ε = 2 (Atkinson 1970,
    // JET 2): the welfare-founded inequality measure next to the Gini
    // and Lorenz views of doc-length concentration — at ε = 2 it is
    // EXACTLY 1 − H/μ (harmonic over arithmetic mean), which makes it
    // the one Atkinson member computable with NO transcendental: the
    // reciprocal sum uses the exact integer `1e12 div n_chars` per doc
    // (a map stage), per-group sums accumulate in DECIMAL(38,0)
    // (q170/q211 discipline), and the final index is ONE exact integral
    // division of decimal products — bit-identical cross-engine, no
    // float ever aggregated. Per source plus the ALL row (two
    // vocabulary-bounded aggregates over one scan). A high Atkinson(2)
    // flags a corpus whose short-doc tail would dominate a
    // token-budgeted training mix. ----
    "q404_atkinson" -> { (s, d) =>
      val docs = Tables.documents(s, d).filter(col("n_chars") > 0)
        .select(col("source"), col("n_chars"),
          expr("1000000000000 div n_chars").as("r_pico"))
      def aggOf(df: DataFrame, grp: org.apache.spark.sql.Column) =
        df.groupBy(grp.as("source")).agg(
        count(lit(1)).as("n"),
        sum("n_chars").as("s1"),
        sum(col("r_pico").cast("decimal(38,0)")).as("srp"))
      val result = aggOf(docs, col("source"))
        .unionByName(aggOf(docs, lit("ALL")))
        .select(col("source"), col("n").cast("bigint").as("n_docs"),
          expr("(s1 * 1000) div n").cast("bigint").as("mean_milli"),
          expr("(CAST(n AS DECIMAL(38,0)) * 1000000000000000 div srp)")
            .cast("bigint").as("harmonic_milli"),
          expr("1000000 - (CAST(1000000000000000000 AS DECIMAL(38,0)) * n * n " +
            "div (srp * s1))").cast("bigint").as("atkinson2_micro"))
      result.orderBy("source")
    }
  )

  /** The BPE trajectory as unrolled DuckDB CTEs (shared by the q108 and
    * q109 oracles): tok → words → s0, then per round r the pair counts
    * (p_r), the argmax (b_r), and the rewritten state (s_r). */
  private def bpeOracleCtes: String = {
    val rounds = (1 to bpeRounds).map { r =>
      val src = if (r == 1) "s0" else s"s${r - 1}"
      s"""p$r AS (
         |  SELECT syms[g.i] AS left_sym, syms[g.i + 1] AS right_sym,
         |         CAST(SUM(cnt) AS BIGINT) AS pair_count
         |  FROM (SELECT string_split(trim(symstr), ' ') AS syms, cnt FROM $src) t$r,
         |       UNNEST(generate_series(1, greatest(len(syms) - 1, 0))) AS g(i)
         |  GROUP BY 1, 2),
         |b$r AS (SELECT left_sym, right_sym, pair_count FROM p$r
         |        ORDER BY pair_count DESC, left_sym, right_sym LIMIT 1),
         |s$r AS (SELECT w, replace(symstr, ' ' || b.left_sym || ' ' || b.right_sym || ' ',
         |                       ' ' || b.left_sym || b.right_sym || ' ') AS symstr, cnt
         |        FROM $src, b$r b)""".stripMargin
    }.mkString(",\n")
    s"""tok AS (
       |  SELECT doc_id, unnest(${tokensSql("text")}) AS w
       |  FROM documents),
       |words AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY w),
       |s0 AS (SELECT w, ' ' || array_to_string(regexp_extract_all(w, '.'), ' ') || ' ' AS symstr, cnt
       |       FROM words),
       |$rounds""".stripMargin
  }

  /** q60's full oracle SQL — also spliced (own WITH scope) into q173's
    * agreement oracle. */
  private def q60OracleSql: String = {
    val profileValues = langProfiles
      .map { case (l, ws) => s"('$l', ${ws.map(w => s"'$w'").mkString("[", ",", "]")})" }
      .mkString(", ")
    s"""WITH toks AS (
       |  SELECT doc_id, lang,
       |         list_distinct(${tokensSql("text")}) AS tset
       |  FROM documents),
       |profiles(cand_lang, profile) AS (VALUES $profileValues),
       |scored AS (
       |  SELECT doc_id, lang, cand_lang,
       |         CAST(length(list_intersect(tset, profile)) AS DOUBLE) /
       |           CAST(length(profile) AS DOUBLE) AS score
       |  FROM toks CROSS JOIN profiles),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cand_lang) AS rk
       |  FROM scored)
       |SELECT doc_id, lang, cand_lang AS pred_lang, score
       |FROM ranked WHERE rk = 1
       |ORDER BY doc_id""".stripMargin
  }

  override def oracle: Map[String, String] = {
    Map(
      "q60_lang_id" -> q60OracleSql,

      // same exact reciprocal pico-units, HUGEINT mirrors the Spark
      // DECIMAL(38,0) sums, identical integral-division index text
      "q404_atkinson" ->
        """WITH docs AS (
          |  SELECT source, n_chars, 1000000000000 // n_chars AS r_pico
          |  FROM documents WHERE n_chars > 0),
          |g AS (
          |  SELECT source, CAST(count(*) AS BIGINT) AS n,
          |         CAST(SUM(n_chars) AS BIGINT) AS s1,
          |         SUM(CAST(r_pico AS HUGEINT)) AS srp
          |  FROM docs GROUP BY source
          |  UNION ALL
          |  SELECT 'ALL', CAST(count(*) AS BIGINT),
          |         CAST(SUM(n_chars) AS BIGINT),
          |         SUM(CAST(r_pico AS HUGEINT))
          |  FROM docs)
          |SELECT source, n AS n_docs,
          |       CAST((s1 * 1000) // n AS BIGINT) AS mean_milli,
          |       CAST(CAST(n AS HUGEINT) * 1000000000000000 // srp AS BIGINT) AS harmonic_milli,
          |       CAST(1000000 - CAST(1000000000000000000 AS HUGEINT) * n * n // (srp * s1) AS BIGINT) AS atkinson2_micro
          |FROM g ORDER BY source""".stripMargin,

      // same (doc, term) counts and exact-integer VMR, same support floor
      "q313_term_burstiness" ->
        s"""WITH tok AS (
          |  SELECT doc_id, unnest(${tokensSql("text")}) AS w
          |  FROM documents),
          |nd AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents),
          |dc AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2),
          |m AS (
          |  SELECT w, CAST(sum(c) AS BIGINT) AS c_total,
          |         CAST(count(*) AS BIGINT) AS n_docs_with,
          |         CAST(sum(c * c) AS BIGINT) AS scc
          |  FROM dc GROUP BY w HAVING sum(c) >= 50)
          |SELECT w, c_total, n_docs_with,
          |       CAST((1000000 * (nd.nd * scc - c_total * c_total)) // (nd.nd * c_total) AS BIGINT) AS vmr_ppm
          |FROM m CROSS JOIN nd
          |ORDER BY vmr_ppm DESC, w
          |LIMIT 20""".stripMargin,

      // same per-term-quantized KL-contribution scoring, same top-3 rank
      "q314_source_keywords" ->
        s"""WITH tok AS (
          |  SELECT source, unnest(${tokensSql("text")}) AS w
          |  FROM documents),
          |sw AS (SELECT source, w, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2),
          |st AS (SELECT source, CAST(sum(tf) AS BIGINT) AS n_s FROM sw GROUP BY 1),
          |cw AS (SELECT w, CAST(sum(tf) AS BIGINT) AS c_w FROM sw GROUP BY 1),
          |tot AS (SELECT CAST(sum(c_w) AS BIGINT) AS nn FROM cw),
          |scored AS (
          |  SELECT sw.source, sw.w, sw.tf,
          |         sw.tf * (CAST(floor(ln(CAST(sw.tf AS DOUBLE)) * 1e6) AS BIGINT)
          |                + CAST(floor(ln(CAST(tot.nn AS DOUBLE)) * 1e6) AS BIGINT)
          |                - CAST(floor(ln(CAST(st.n_s AS DOUBLE)) * 1e6) AS BIGINT)
          |                - CAST(floor(ln(CAST(cw.c_w AS DOUBLE)) * 1e6) AS BIGINT)) AS score_q
          |  FROM sw JOIN st USING (source) JOIN cw USING (w) CROSS JOIN tot),
          |r AS (
          |  SELECT source, w, tf, score_q,
          |         CAST(row_number() OVER (PARTITION BY source ORDER BY score_q DESC, w) AS INT) AS rk
          |  FROM scored)
          |SELECT source, rk, w, tf, CAST(score_q AS BIGINT) AS score_q
          |FROM r WHERE rk <= 3
          |ORDER BY source, rk""".stripMargin,

      // same (source, token) counts, hapax = count-1 vocabulary slice
      "q311_hapax_ratio" ->
        s"""WITH tok AS (
          |  SELECT source, unnest(${tokensSql("text")}) AS w
          |  FROM documents),
          |wc AS (SELECT source, w, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2)
          |SELECT source,
          |       CAST(sum(c) AS BIGINT) AS n_tokens,
          |       CAST(count(*) AS BIGINT) AS n_vocab,
          |       CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
          |       CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS hapax_ppm
          |FROM wc GROUP BY source
          |ORDER BY source""".stripMargin,

      // same trigram-shingle vocabulary (the q367 w=3 construction),
      // same roll-up, same exact milli floor-division r*
      "q372_good_turing" ->
        s"""WITH tok AS (
          |  SELECT source, ${tokensSql("text")} AS ts
          |  FROM documents),
          |sh AS (
          |  SELECT source, array_to_string(ts[g.i:g.i+2], ' ') AS w
          |  FROM tok, UNNEST(generate_series(1, greatest(len(ts) - 2, 0))) AS g(i)),
          |wc AS (SELECT source, w, CAST(count(*) AS BIGINT) AS c FROM sh GROUP BY 1, 2),
          |fof AS (SELECT source, c, CAST(count(*) AS BIGINT) AS n_r FROM wc GROUP BY 1, 2),
          |tot AS (SELECT source, CAST(SUM(c * n_r) AS BIGINT) AS n_tokens,
          |               CAST(SUM(n_r) AS BIGINT) AS n_types,
          |               CAST(SUM(CASE WHEN c = 1 THEN n_r ELSE 0 END) AS BIGINT) AS n1
          |        FROM fof GROUP BY 1),
          |a AS (SELECT source, c AS r, n_r FROM fof WHERE c BETWEEN 1 AND 5),
          |b AS (SELECT source, c - 1 AS r, n_r AS n_r_next FROM fof WHERE c BETWEEN 2 AND 6)
          |SELECT a.source, CAST(a.r AS INT) AS r,
          |       a.n_r,
          |       CAST(COALESCE(b.n_r_next, 0) AS BIGINT) AS n_r_next,
          |       CAST(((a.r + 1) * COALESCE(b.n_r_next, 0) * 1000) // a.n_r AS BIGINT) AS gt_star_milli,
          |       t.n_tokens, t.n_types,
          |       CAST((t.n1 * 1000000) // t.n_tokens AS BIGINT) AS p0_ppm
          |FROM a LEFT JOIN b ON a.source = b.source AND a.r = b.r
          |JOIN tot t ON t.source = a.source
          |ORDER BY a.source, r""".stripMargin,

      // same (source, token) counts, same exact power sums and the
      // identical single-division K text
      "q398_yules_k" ->
        s"""WITH tok AS (
          |  SELECT source, unnest(${tokensSql("text")}) AS w
          |  FROM documents),
          |wc AS (SELECT source, w, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2),
          |agg AS (
          |  SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens,
          |         CAST(count(*) AS BIGINT) AS n_types,
          |         CAST(SUM(c * c) AS BIGINT) AS s2
          |  FROM wc GROUP BY source)
          |SELECT source, n_tokens, n_types, s2,
          |       CAST(floor(10000000.0 * CAST(s2 - n_tokens AS DOUBLE) / (CAST(n_tokens AS DOUBLE) * CAST(n_tokens AS DOUBLE))) AS BIGINT) AS yules_k_milli
          |FROM agg
          |ORDER BY source""".stripMargin,

      // independent construction: the oracle retrains the merges as
      // unrolled CTE rounds (the q108/q114 replay) and reads the same
      // budget states off s0/s2/s4/s6
      "q389_bpe_budget_curve" ->
        s"""WITH $bpeOracleCtes,
           |allk AS (
           |  SELECT 0 AS k, symstr, cnt FROM s0
           |  UNION ALL SELECT 2, symstr, cnt FROM s2
           |  UNION ALL SELECT 4, symstr, cnt FROM s4
           |  UNION ALL SELECT 6, symstr, cnt FROM s6),
           |base AS (SELECT k, cnt, string_split(trim(symstr), ' ') AS syms FROM allk),
           |a AS (SELECT k, CAST(SUM(cnt) AS BIGINT) AS n_words,
           |             CAST(SUM(cnt * len(syms)) AS BIGINT) AS n_bpe_tokens
           |      FROM base GROUP BY k),
           |v AS (SELECT k, CAST(count(DISTINCT u.sym) AS BIGINT) AS n_symbols
           |      FROM base, UNNEST(syms) AS u(sym) GROUP BY k)
           |SELECT CAST(a.k AS INT) AS merge_budget, a.n_words, a.n_bpe_tokens,
           |       CAST(a.n_bpe_tokens * 1000000 // a.n_words AS BIGINT) AS fertility_ppm,
           |       v.n_symbols
           |FROM a JOIN v USING (k)
           |ORDER BY merge_budget""".stripMargin,

      // same leave-own-fold-out count subtraction off the identical
      // (class, token, fold) cube; same Laplace qln scoring and
      // (score desc, lang) argmax as the q120 oracle
      "q376_nb_cv_kfold" ->
        s"""WITH toks AS (
          |  SELECT doc_id, doc_id % 5 AS fold, lang,
          |         ${tokensSql("text")} AS ts
          |  FROM documents),
          |tw AS (SELECT fold, lang, unnest(ts) AS w FROM toks),
          |clwa AS (SELECT lang, w, CAST(count(*) AS BIGINT) AS c_all FROM tw GROUP BY 1, 2),
          |clwf AS (SELECT lang, w, fold, CAST(count(*) AS BIGINT) AS c_f FROM tw GROUP BY 1, 2, 3),
          |folds AS (SELECT DISTINCT fold FROM toks),
          |ldoca AS (SELECT lang, CAST(count(*) AS BIGINT) AS nd_all FROM toks GROUP BY 1),
          |ldocf AS (SELECT lang, fold, CAST(count(*) AS BIGINT) AS nd_f FROM toks GROUP BY 1, 2),
          |lgrid AS (
          |  SELECT l.lang, f.fold, l.nd_all - COALESCE(d.nd_f, 0) AS nd_train
          |  FROM ldoca l CROSS JOIN folds f
          |  LEFT JOIN ldocf d ON d.lang = l.lang AND d.fold = f.fold),
          |ntr AS (SELECT fold, CAST(SUM(nd_train) AS BIGINT) AS n_train,
          |               CAST(SUM(CASE WHEN nd_train > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_langs
          |        FROM lgrid GROUP BY 1),
          |clg AS (
          |  SELECT a.lang, f.fold, a.cl_all - COALESCE(c.cl_f, 0) AS cl_train
          |  FROM (SELECT lang, CAST(SUM(c_all) AS BIGINT) AS cl_all FROM clwa GROUP BY 1) a
          |  CROSS JOIN folds f
          |  LEFT JOIN (SELECT lang, fold, CAST(SUM(c_f) AS BIGINT) AS cl_f FROM clwf GROUP BY 1, 2) c
          |    ON c.lang = a.lang AND c.fold = f.fold),
          |vf AS (
          |  SELECT f.fold,
          |         CAST(SUM(CASE WHEN a.cw_all - COALESCE(x.cw_f, 0) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS v
          |  FROM (SELECT w, CAST(SUM(c_all) AS BIGINT) AS cw_all FROM clwa GROUP BY 1) a
          |  CROSS JOIN folds f
          |  LEFT JOIN (SELECT w, fold, CAST(SUM(c_f) AS BIGINT) AS cw_f FROM clwf GROUP BY 1, 2) x
          |    ON x.w = a.w AND x.fold = f.fold
          |  GROUP BY 1),
          |classes AS (
          |  SELECT g.lang, g.fold,
          |         CAST(floor(ln(CAST(g.nd_train + 1 AS DOUBLE)) * 1e6) AS BIGINT)
          |           - CAST(floor(ln(CAST(n.n_train + n.n_langs AS DOUBLE)) * 1e6) AS BIGINT) AS prior_q,
          |         CAST(floor(ln(CAST(c.cl_train + v.v AS DOUBLE)) * 1e6) AS BIGINT) AS denom_q
          |  FROM lgrid g JOIN ntr n USING (fold)
          |  JOIN clg c ON c.lang = g.lang AND c.fold = g.fold
          |  JOIN vf v ON v.fold = g.fold
          |  WHERE g.nd_train > 0),
          |dw AS (SELECT doc_id, fold, unnest(ts) AS w FROM toks),
          |dwc AS (SELECT doc_id, fold, w, CAST(count(*) AS BIGINT) AS c FROM dw GROUP BY 1, 2, 3),
          |matched AS (
          |  SELECT d.doc_id, a.lang,
          |         CAST(SUM(d.c * CAST(floor(ln(CAST(a.c_all - COALESCE(ff.c_f, 0) + 1 AS DOUBLE)) * 1e6) AS BIGINT)) AS BIGINT) AS m
          |  FROM dwc d JOIN clwa a ON a.w = d.w
          |  LEFT JOIN clwf ff ON ff.w = d.w AND ff.lang = a.lang AND ff.fold = d.fold
          |  GROUP BY 1, 2),
          |docs0 AS (SELECT doc_id, fold, lang AS true_lang, CAST(len(ts) AS BIGINT) AS n_tok FROM toks),
          |scored AS (
          |  SELECT d.doc_id, d.fold, d.true_lang, c.lang,
          |         c.prior_q + COALESCE(m.m, 0) - d.n_tok * c.denom_q AS score_q
          |  FROM docs0 d JOIN classes c ON c.fold = d.fold
          |  LEFT JOIN matched m ON m.doc_id = d.doc_id AND m.lang = c.lang),
          |ranked AS (
          |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score_q DESC, lang) AS rk
          |  FROM scored),
          |acc AS (
          |  SELECT fold, CAST(count(*) AS BIGINT) AS n_held,
          |         CAST(SUM(CASE WHEN lang = true_lang THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
          |         CAST(SUM(CASE WHEN lang = true_lang THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS acc_ppm
          |  FROM ranked WHERE rk = 1 GROUP BY fold),
          |tot AS (SELECT CAST(count(*) AS BIGINT) AS nf, CAST(SUM(acc_ppm) AS BIGINT) AS sa,
          |               CAST(SUM(acc_ppm * acc_ppm) AS BIGINT) AS saa
          |        FROM acc)
          |SELECT CAST(a.fold AS INT) AS fold, a.n_held, a.n_correct, a.acc_ppm,
          |       CAST(t.sa // t.nf AS BIGINT) AS mean_acc_ppm,
          |       CAST(floor(sqrt(CAST(t.nf * t.saa - t.sa * t.sa AS DOUBLE)) / CAST(t.nf AS DOUBLE)) AS BIGINT) AS sd_acc_ppm
          |FROM acc a CROSS JOIN tot t
          |ORDER BY fold""".stripMargin,

      // same double-sqrt c^0.75 micro weights; the oracle's vocabulary
      // window replays the distributed prefix scan
      "q373_neg_sampling" ->
        s"""WITH tok AS (
          |  SELECT unnest(${tokensSql("text")}) AS w
          |  FROM documents),
          |wc AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1),
          |wg AS (SELECT w, c,
          |              CAST(floor(1000000.0 * sqrt(sqrt(CAST(c AS DOUBLE) * CAST(c AS DOUBLE) * CAST(c AS DOUBLE)))) AS BIGINT) AS w_micro
          |       FROM wc),
          |cum AS (SELECT *, CAST(SUM(w_micro) OVER (ORDER BY w_micro DESC, w
          |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_hi
          |        FROM wg),
          |tot AS (SELECT CAST(SUM(w_micro) AS BIGINT) AS total_micro FROM wg)
          |SELECT w, c, w_micro,
          |       CAST(cum_hi - w_micro AS BIGINT) AS cum_lo, cum_hi,
          |       CAST((w_micro * 1000000) // total_micro AS BIGINT) AS share_ppm,
          |       total_micro
          |FROM cum CROSS JOIN tot
          |ORDER BY w_micro DESC, w
          |LIMIT 50""".stripMargin,

      // same per-source (tokens, vocab) points, same milli-nat
      // quantization and least-squares text as q210
      "q312_heaps_fit" ->
        s"""WITH tok AS (
           |  SELECT source, unnest(${tokensSql("text")}) AS w
           |  FROM documents),
           |wc AS (SELECT source, w, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2),
           |per AS (SELECT source, CAST(sum(c) AS BIGINT) AS nt, CAST(count(*) AS BIGINT) AS nv
           |        FROM wc GROUP BY 1),
           |pts AS (SELECT CAST(floor(ln(CAST(nt AS DOUBLE)) * 1e3) AS BIGINT) AS x,
           |               CAST(floor(ln(CAST(nv AS DOUBLE)) * 1e3) AS BIGINT) AS y
           |        FROM per),
           |sums AS (SELECT CAST(count(*) AS BIGINT) AS n,
           |                CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
           |                CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
           |         FROM pts)
           |SELECT n AS n_points, $zipfSlopeExpr AS beta_q, $zipfInterceptExpr AS lnk_q
           |FROM sums""".stripMargin,

      // same bigram counts, context roll-up and per-term ln quantization
      "q281_bigram_entropy_rate" ->
        s"""WITH tok AS (
          |  SELECT source, ${tokensSql("text")} AS ts
          |  FROM documents),
          |bg AS (SELECT source, ts[g.i] AS w1, ts[g.i] || ' ' || ts[g.i + 1] AS b
          |       FROM tok, UNNEST(generate_series(1, greatest(len(ts) - 1, 0))) AS g(i)),
          |c12 AS (SELECT source, w1, b, CAST(count(*) AS BIGINT) AS c12 FROM bg GROUP BY 1, 2, 3),
          |c1 AS (SELECT source, w1, CAST(sum(c12) AS BIGINT) AS c1 FROM c12 GROUP BY 1, 2)
          |SELECT c12.source,
          |       CAST(sum(c12) AS BIGINT) AS n_bigrams,
          |       CAST(count(*) AS BIGINT) AS n_bigram_types,
          |       CAST(sum(c12 * (CAST(floor(ln(CAST(c1 AS DOUBLE)) * 1e6) AS BIGINT)
          |                     - CAST(floor(ln(CAST(c12 AS DOUBLE)) * 1e6) AS BIGINT))) AS BIGINT) AS ent_q,
          |       CAST(sum(c12 * (CAST(floor(ln(CAST(c1 AS DOUBLE)) * 1e6) AS BIGINT)
          |                     - CAST(floor(ln(CAST(c12 AS DOUBLE)) * 1e6) AS BIGINT)))
          |            // sum(c12) AS BIGINT) AS ent_rate_unat
          |FROM c12 JOIN c1 USING (source, w1)
          |GROUP BY 1
          |ORDER BY source""".stripMargin,

      // same length-difference counters; RE2 classes match the Java ones
      // on the ASCII corpus (see QueryPack tokenization caveat)
      "q277_charset_profile" ->
        s"""WITH c AS (
          |  SELECT source,
          |         length(text) AS nc,
          |         length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS nd,
          |         length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS nu,
          |         length(text) - length(regexp_replace(text, '\\s', '', 'g')) AS nw,
          |         length(text) - length(${stripPunctSql("text")}) AS np
          |  FROM documents)
          |SELECT source,
          |       CAST(count(*) AS BIGINT) AS n_docs,
          |       CAST(sum(nc) AS BIGINT) AS n_chars,
          |       CAST(sum(nd) * 1000000 // sum(nc) AS BIGINT) AS digit_ppm,
          |       CAST(sum(nu) * 1000000 // sum(nc) AS BIGINT) AS upper_ppm,
          |       CAST(sum(nw) * 1000000 // sum(nc) AS BIGINT) AS space_ppm,
          |       CAST(sum(np) * 1000000 // sum(nc) AS BIGINT) AS punct_ppm
          |FROM c
          |GROUP BY source
          |ORDER BY source""".stripMargin,

      // same vowel-group proxy per unnested token, same ≥1 floor and
      // ≥3 polysyllable rule
      "q272_reading_level" ->
        s"""WITH toks AS (
          |  SELECT doc_id, ${tokensSql("text")} AS ts
          |  FROM documents),
          |w AS (SELECT doc_id, greatest(len(regexp_extract_all(unnest(ts), '[aeiouAEIOU]+')), 1) AS sy
          |      FROM toks WHERE len(ts) > 0)
          |SELECT doc_id,
          |       CAST(count(*) AS BIGINT) AS n_words,
          |       CAST(sum(sy) AS BIGINT) AS n_syllables,
          |       CAST(sum(CASE WHEN sy >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_polysyllabic,
          |       CAST(sum(sy) * 1000000 // count(*) AS BIGINT) AS syll_per_word_ppm
          |FROM w
          |GROUP BY doc_id
          |ORDER BY doc_id""".stripMargin,

      // q60's oracle spliced, then the q167 CDF-threshold replicate
      // construction with the ':lb' salt and integer-ppm accuracy
      "q261_langid_bootstrap" -> {
        val t = CleanPack.poissonCdf60
        s"""WITH pred AS (
           |  SELECT doc_id, CASE WHEN pred_lang = lang THEN 1 ELSE 0 END AS correct
           |  FROM ($q60OracleSql) t),
           |overall AS (SELECT CAST(sum(correct) * 1000000 // count(*) AS BIGINT) AS overall_acc_ppm
           |            FROM pred),
           |rep AS (
           |  SELECT doc_id, correct, g.r,
           |         ${hex64Sql("md5(CAST(doc_id AS VARCHAR) || ':lb' || CAST(g.r AS VARCHAR))")} AS h
           |  FROM pred, UNNEST(generate_series(0, 31)) AS g(r)),
           |wtd AS (
           |  SELECT r, correct,
           |         CASE WHEN h < ${t(0)} THEN 0 WHEN h < ${t(1)} THEN 1
           |              WHEN h < ${t(2)} THEN 2 WHEN h < ${t(3)} THEN 3
           |              WHEN h < ${t(4)} THEN 4 WHEN h < ${t(5)} THEN 5
           |              ELSE 6 END AS w
           |  FROM rep),
           |agg AS (
           |  SELECT r, CAST(sum(w) AS BIGINT) AS n_eff,
           |         CAST(sum(w * correct) AS BIGINT) AS n_correct
           |  FROM wtd GROUP BY r)
           |SELECT CAST(r AS INT) AS r, n_eff, n_correct,
           |       CAST(n_correct * 1000000 // n_eff AS BIGINT) AS acc_ppm,
           |       overall_acc_ppm
           |FROM agg, overall
           |ORDER BY r""".stripMargin
      },

      // q60's oracle spliced (own WITH scope), then the two bounded folds
      "q256_langid_confusion" ->
        s"""WITH h AS (SELECT lang, pred_lang FROM ($q60OracleSql) t),
           |cells AS (SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n_docs
           |          FROM h GROUP BY 1, 2),
           |tot AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_lang FROM h GROUP BY 1)
           |SELECT c.lang, c.pred_lang, c.n_docs,
           |       CAST(c.n_docs * 1000000 // t.n_lang AS BIGINT) AS row_frac_ppm
           |FROM cells c JOIN tot t USING (lang)
           |ORDER BY lang, pred_lang""".stripMargin,

      // single-node row_number() windows stand in for the distributed
      // PrefixSum ranks; same integer RRF arithmetic
      "q162_rrf_fusion" ->
        s"""WITH base AS (
          |  SELECT doc_id, n_chars,
          |         CAST(len(list_distinct(${tokensSql("text")})) AS BIGINT) AS n_distinct
          |  FROM documents),
          |r AS (
          |  SELECT doc_id, n_chars, n_distinct,
          |         CAST(row_number() OVER (ORDER BY n_distinct DESC, doc_id) AS BIGINT) AS r_vocab,
          |         CAST(row_number() OVER (ORDER BY n_chars DESC, doc_id) AS BIGINT) AS r_len
          |  FROM base)
          |SELECT doc_id, n_chars, n_distinct, r_vocab, r_len,
          |       1000000000 // (60 + r_vocab) + 1000000000 // (60 + r_len) AS rrf_q
          |FROM r
          |ORDER BY rrf_q DESC, doc_id
          |LIMIT 50""".stripMargin,

      // same directed scaled numerators, same per-term qln, assembled
      // per unordered pair
      "q347_js_divergence" ->
        s"""WITH sw AS (
          |  SELECT source, w, CAST(count(*) AS BIGINT) AS c
          |  FROM (SELECT source,
          |               unnest(list_filter(string_split_regex(${stripPunctSql("text")}, '\\s+'), x -> x <> '')) AS w
          |        FROM documents)
          |  GROUP BY 1, 2),
          |ns AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM sw GROUP BY 1),
          |dir AS (
          |  SELECT a.source, o.source AS other, a.c, na.n AS n_a, o.n AS n_o,
          |         COALESCE(b.c, 0) AS c_o
          |  FROM sw a
          |  JOIN ns na ON na.source = a.source
          |  JOIN ns o ON o.source <> a.source
          |  LEFT JOIN sw b ON b.source = o.source AND b.w = a.w),
          |parts AS (
          |  SELECT source, other,
          |         CAST(SUM(c * (CAST(floor(ln(CAST(2 * c * n_o AS DOUBLE)) * 1e6) AS BIGINT)
          |                     - CAST(floor(ln(CAST(c * n_o + c_o * n_a AS DOUBLE)) * 1e6) AS BIGINT))) AS BIGINT) AS js_part
          |  FROM dir GROUP BY 1, 2)
          |SELECT ta.source AS source_a, ta.other AS source_b,
          |       na.n AS n_a, nb.n AS n_b,
          |       ta.js_part AS jsa_q, tb.js_part AS jsb_q
          |FROM parts ta
          |JOIN parts tb ON tb.source = ta.other AND tb.other = ta.source
          |JOIN ns na ON na.source = ta.source
          |JOIN ns nb ON nb.source = ta.other
          |WHERE ta.source < ta.other
          |ORDER BY source_a, source_b""".stripMargin,

      // same top-200 (cf desc, word) vocabulary, exact integer dot and
      // norms, identical sqrt·sqrt divide
      "q336_source_term_cosine" ->
        s"""WITH sw AS (
          |  SELECT source, w, CAST(count(*) AS BIGINT) AS c
          |  FROM (SELECT source,
          |               unnest(list_filter(string_split_regex(${stripPunctSql("text")}, '\\s+'), x -> x <> '')) AS w
          |        FROM documents)
          |  GROUP BY 1, 2),
          |top AS (
          |  SELECT w FROM (SELECT w, CAST(SUM(c) AS BIGINT) AS cf FROM sw GROUP BY w)
          |  QUALIFY row_number() OVER (ORDER BY cf DESC, w) <= 200),
          |prof AS (SELECT s.source, s.w, s.c FROM sw s JOIN top USING (w)),
          |nr AS (SELECT source, CAST(SUM(c * c) AS BIGINT) AS s2 FROM prof GROUP BY 1),
          |pr AS (SELECT a.source AS source_a, b.source AS source_b,
          |              CAST(count(*) AS BIGINT) AS n_shared_terms,
          |              CAST(SUM(a.c * b.c) AS BIGINT) AS sab
          |       FROM prof a JOIN prof b ON a.w = b.w AND a.source < b.source
          |       GROUP BY 1, 2)
          |SELECT pr.source_a, pr.source_b, pr.n_shared_terms,
          |       CAST(floor(1000000.0 * CAST(pr.sab AS DOUBLE)
          |            / (sqrt(CAST(na.s2 AS DOUBLE)) * sqrt(CAST(nb.s2 AS DOUBLE)))) AS BIGINT) AS cos_ppm
          |FROM pr JOIN nr na ON na.source = pr.source_a
          |        JOIN nr nb ON nb.source = pr.source_b
          |ORDER BY source_a, source_b""".stripMargin,

      "q61_quality_score" ->
        s"""WITH base AS (
          |  SELECT doc_id, text,
          |         ${tokensSql("text")} AS toks,
          |         list_distinct(${tokensSql("text")}) AS tset
          |  FROM documents),
          |m AS (
          |  SELECT doc_id,
          |    CAST(length(text) AS BIGINT) AS n_chars,
          |    CAST(length(toks) AS BIGINT) AS n_tokens,
          |    CAST(length(tset) AS BIGINT) AS n_distinct,
          |    CAST(length(tset) AS DOUBLE) / CAST(length(toks) AS DOUBLE) AS ttr,
          |    CAST(length(regexp_replace(${stripPunctSql("text")}, '\\s', '', 'g')) AS DOUBLE) /
          |      CAST(length(toks) AS DOUBLE) AS avg_token_len,
          |    CAST(length(text) - length(${stripPunctSql("text")}) AS DOUBLE) /
          |      CAST(length(text) AS DOUBLE) AS punct_ratio,
          |    CAST(length(list_intersect(tset, ['the','a'])) AS DOUBLE) /
          |      CAST(length(tset) AS DOUBLE) AS stopword_hit_ratio
          |  FROM base)
          |SELECT *,
          |  0.4 * ttr + 0.3 * least(avg_token_len / 10.0, 1.0) + 0.3 * (1.0 - punct_ratio) AS quality
          |FROM m
          |ORDER BY doc_id""".stripMargin,

      // plain windowed cumsum here — the oracle runs single-node anyway;
      // HUGEINT sums cast back to BIGINT
      "q126_vocab_coverage" ->
        s"""WITH tok AS (
          |  SELECT doc_id,
          |         ${tokensSql("text")} AS ts
          |  FROM documents),
          |c AS (SELECT w, CAST(count(*) AS BIGINT) AS c
          |      FROM (SELECT unnest(ts) AS w FROM tok) GROUP BY w),
          |r AS (SELECT w, c,
          |        CAST(sum(c) OVER (ORDER BY c DESC, w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
          |        CAST(row_number() OVER (ORDER BY c DESC, w) AS BIGINT) AS rank
          |      FROM c),
          |t AS (SELECT CAST(sum(c) AS BIGINT) AS total_tokens FROM c),
          |th(threshold_pct) AS (VALUES (50), (90), (99))
          |SELECT th.threshold_pct,
          |       min(r.rank) AS vocab_size,
          |       min(r.cum) AS covered_tokens,
          |       max(t.total_tokens) AS total_tokens
          |FROM r CROSS JOIN t CROSS JOIN th
          |WHERE r.cum * 100 >= th.threshold_pct * t.total_tokens
          |GROUP BY th.threshold_pct
          |ORDER BY th.threshold_pct""".stripMargin,

      // same step-sequence starts, 1-based inclusive slice, tail filter
      "q125_chunk_overlap" ->
        s"""WITH tok AS (
          |  SELECT doc_id,
          |         ${tokensSql("text")} AS ts
          |  FROM documents),
          |st AS (
          |  SELECT doc_id, ts, g.st
          |  FROM tok, UNNEST(generate_series(0, len(ts) - 1, 96)) AS g(st)
          |  WHERE len(ts) > 0),
          |ch AS (
          |  SELECT doc_id, CAST(st / 96 AS BIGINT) AS chunk_idx,
          |         CAST(st AS BIGINT) AS start_pos,
          |         ts[(st + 1):(st + 128)] AS chunk
          |  FROM st)
          |SELECT doc_id, chunk_idx, start_pos,
          |       CAST(len(chunk) AS BIGINT) AS n_chunk_toks,
          |       ${hex64Sql("md5(array_to_string(chunk, ' '))")} AS chunk_hash
          |FROM ch WHERE len(chunk) >= 16
          |ORDER BY doc_id, chunk_idx""".stripMargin,

      "q62_token_stats" ->
        s"""SELECT doc_id, n_chars,
          |  CAST(length(${tokensSql("text")}) AS BIGINT) AS n_tokens,
          |  CAST(length(list_distinct(${tokensSql("text")})) AS BIGINT) AS n_distinct,
          |  CAST(length(${whitespaceSplitSql("text")}) AS BIGINT) AS n_ws_tokens,
          |  CAST(length(regexp_extract_all(text, '[bcdfghjklmnpqrstvwxyz]*[aeiou]+')) AS BIGINT) AS n_subwords
          |FROM documents
          |ORDER BY doc_id""".stripMargin,

      "q67_top_tokens_native" ->
        s"""WITH tok AS (
          |  SELECT lang, unnest(${tokensSql("text")}) AS w
          |  FROM documents),
          |counts AS (SELECT lang, w, count(*) AS cnt FROM tok GROUP BY lang, w),
          |ranked AS (SELECT lang, w, cnt,
          |                  row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, w) AS rk
          |           FROM counts)
          |SELECT lang, CAST(rk AS INT) AS rk, w AS token, CAST(cnt AS BIGINT) AS cnt
          |FROM ranked WHERE rk <= 3
          |ORDER BY lang, rk""".stripMargin,

      "q64_top_tokens" ->
        s"""WITH tok AS (
          |  SELECT lang, unnest(${tokensSql("text")}) AS w
          |  FROM documents),
          |counts AS (SELECT lang, w, count(*) AS cnt FROM tok GROUP BY lang, w),
          |ranked AS (SELECT lang, w, cnt,
          |                  row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, w) AS rk
          |           FROM counts)
          |SELECT lang, CAST(rk AS INT) AS rk, w AS token, CAST(cnt AS BIGINT) AS cnt
          |FROM ranked WHERE rk <= 3
          |ORDER BY lang, rk""".stripMargin,

      // exact-regime sketch == exact top-k, so the oracle is q67's
      "q69_top_tokens_sketch" ->
        s"""WITH tok AS (
          |  SELECT lang, unnest(${tokensSql("text")}) AS w
          |  FROM documents),
          |counts AS (SELECT lang, w, count(*) AS cnt FROM tok GROUP BY lang, w),
          |ranked AS (SELECT lang, w, cnt,
          |                  row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, w) AS rk
          |           FROM counts)
          |SELECT lang, CAST(rk AS INT) AS rk, w AS token, CAST(cnt AS BIGINT) AS cnt
          |FROM ranked WHERE rk <= 3
          |ORDER BY lang, rk""".stripMargin,

      // the BPE training loop unrolled: per round, adjacent-pair counts
      // over the padded symbol strings, the (count DESC, left, right)
      // argmax, and the same plain-string replace() rewrite
      "q108_bpe_train" -> {
        val out = (1 to bpeRounds)
          .map(r => s"SELECT $r AS round, left_sym, right_sym, pair_count FROM b$r")
          .mkString("\n  UNION ALL ")
        s"""WITH $bpeOracleCtes
           |SELECT round, left_sym, right_sym, pair_count FROM (
           |  $out)
           |ORDER BY round""".stripMargin
      },

      // the same vocabulary selection, integer-qln scores, unrolled
      // 10-round Viterbi DP (row_number pins the (cand DESC, l ASC)
      // tie-break the Spark max(struct) uses) and backtrack replay
      "q441_unigram_tok" -> {
        val maxLen = 10
        val dpRounds = (1 to maxLen).map { r =>
          val arms = (1 to math.min(4, r)).map { lArm =>
            s"""      SELECT m.w, d.best + m.score_q AS cand, m.l
               |      FROM m JOIN d${r - lArm} d ON d.w = m.w
               |      WHERE m.j = $r AND m.l = $lArm""".stripMargin
          }.mkString("\n      UNION ALL\n")
          s"""d$r AS MATERIALIZED (
             |  SELECT w, cand AS best, l AS bl FROM (
             |    SELECT w, cand, l,
             |           row_number() OVER (PARTITION BY w ORDER BY cand DESC, l ASC) AS rn
             |    FROM (
             |$arms))
             |  WHERE rn = 1)""".stripMargin
        }.mkString(",\n")
        val dall = (1 to maxLen)
          .map(r => s"SELECT w, $r AS j, best, bl FROM d$r")
          .mkString("\n  UNION ALL ")
        val btRounds = (1 to maxLen).map { r =>
          s"""t$r AS MATERIALIZED (
             |  SELECT b.w, b.cnt, b.pos - d.bl AS pos,
             |         substr(b.w, b.pos - d.bl + 1, d.bl) AS piece
             |  FROM t${r - 1} b JOIN dall d ON d.w = b.w AND d.j = b.pos
             |  WHERE b.pos > 0)""".stripMargin
        }.mkString(",\n")
        val em = (1 to maxLen).map(r => s"SELECT piece, cnt FROM t$r")
          .mkString("\n  UNION ALL ")
        s"""WITH tok AS (
           |  SELECT unnest(${tokensSql("text")}) AS w
           |  FROM documents),
           |words AS MATERIALIZED (
           |  SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM tok
           |  GROUP BY w HAVING length(w) <= $maxLen),
           |occ AS MATERIALIZED (
           |  SELECT wd.w, wd.cnt, j.j, l.l, substr(wd.w, j.j - l.l + 1, l.l) AS piece
           |  FROM words wd,
           |       UNNEST(generate_series(1, length(wd.w))) AS j(j),
           |       UNNEST(generate_series(1, 4)) AS l(l)
           |  WHERE l.l <= j.j),
           |pc AS MATERIALIZED (
           |  SELECT piece, CAST(SUM(cnt) AS BIGINT) AS piece_count FROM occ GROUP BY piece),
           |vocab AS MATERIALIZED (
           |  SELECT piece, piece_count FROM pc WHERE length(piece) = 1
           |  UNION ALL
           |  SELECT piece, piece_count FROM (
           |    SELECT piece, piece_count FROM pc WHERE length(piece) > 1
           |    ORDER BY piece_count DESC, piece LIMIT 48)),
           |tot AS (SELECT CAST(SUM(piece_count) AS BIGINT) AS tot FROM vocab),
           |scored AS MATERIALIZED (
           |  SELECT piece, piece_count,
           |         CAST(floor(ln(CAST(piece_count AS DOUBLE)) * 1e6) AS BIGINT)
           |           - CAST(floor(ln(CAST(t.tot AS DOUBLE)) * 1e6) AS BIGINT) AS score_q
           |  FROM vocab, tot t),
           |m AS MATERIALIZED (
           |  SELECT o.w, o.j, o.l, s.score_q
           |  FROM occ o JOIN scored s ON s.piece = o.piece),
           |d0 AS MATERIALIZED (SELECT w, CAST(0 AS BIGINT) AS best, 0 AS bl FROM words),
           |$dpRounds,
           |dall AS MATERIALIZED (
           |  $dall),
           |t0 AS MATERIALIZED (SELECT w, cnt, length(w) AS pos FROM words),
           |$btRounds,
           |usage AS (
           |  SELECT piece, CAST(SUM(cnt) AS BIGINT) AS viterbi_count
           |  FROM ($em) GROUP BY piece)
           |SELECT s.piece AS piece, s.piece_count, s.score_q,
           |       COALESCE(u.viterbi_count, 0) AS viterbi_count
           |FROM scored s LEFT JOIN usage u ON u.piece = s.piece
           |ORDER BY s.piece""".stripMargin
      },

      // same unrolled trajectory, then explode the FINAL state's
      // symbols into the weighted vocabulary
      "q109_bpe_vocab" ->
        s"""WITH $bpeOracleCtes
           |SELECT sym, CAST(SUM(cnt) AS BIGINT) AS freq
           |FROM (SELECT unnest(string_split(trim(symstr), ' ')) AS sym, cnt
           |      FROM s$bpeRounds)
           |GROUP BY sym
           |ORDER BY freq DESC, sym""".stripMargin,

      // identical hashed uni+bigram buckets, identical per-term floors,
      // identical integer ceil-division selection threshold
      "q150_dsir_importance" ->
        s"""WITH toks AS (
          |  SELECT doc_id, source, ${tokensSql("text")} AS ts
          |  FROM documents),
          |uni AS (SELECT doc_id, source, unnest(ts) AS f FROM toks),
          |bi AS (SELECT doc_id, source, ts[g.i] || ' ' || ts[g.i + 1] AS f
          |       FROM toks, UNNEST(generate_series(1, greatest(len(ts) - 1, 0))) AS g(i)),
          |feats AS (SELECT doc_id, source,
          |                 ${hex64Sql("md5(f)")} % 1024 AS b
          |          FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)),
          |dbc AS (SELECT doc_id, source, b, CAST(count(*) AS BIGINT) AS c
          |        FROM feats GROUP BY 1, 2, 3),
          |raw AS (SELECT b, CAST(SUM(c) AS BIGINT) AS cr FROM dbc GROUP BY 1),
          |tgt AS (SELECT b, CAST(SUM(c) AS BIGINT) AS ct FROM dbc
          |        WHERE source IN ('src0', 'src1', 'src2') GROUP BY 1),
          |tots AS (SELECT (SELECT CAST(SUM(cr) AS BIGINT) FROM raw) AS tr,
          |                (SELECT CAST(COALESCE(SUM(ct), 0) AS BIGINT) FROM tgt) AS tt),
          |lr AS (SELECT r.b,
          |         (CAST(floor(ln(CAST(COALESCE(t.ct, 0) + 1 AS DOUBLE)) * 1e6) AS BIGINT)
          |        - CAST(floor(ln(CAST(tots.tt + 1024 AS DOUBLE)) * 1e6) AS BIGINT))
          |       - (CAST(floor(ln(CAST(r.cr + 1 AS DOUBLE)) * 1e6) AS BIGINT)
          |        - CAST(floor(ln(CAST(tots.tr + 1024 AS DOUBLE)) * 1e6) AS BIGINT)) AS lr_q
          |       FROM raw r LEFT JOIN tgt t USING (b) CROSS JOIN tots),
          |wts AS (SELECT doc_id, source, CAST(SUM(c * lr_q) AS BIGINT) AS weight_q
          |        FROM dbc JOIN lr USING (b) GROUP BY 1, 2),
          |nsrc AS (SELECT source, CAST(count(*) AS BIGINT) AS n_src FROM wts GROUP BY 1)
          |SELECT w.doc_id, w.source, w.weight_q,
          |       CAST(row_number() OVER (PARTITION BY w.source
          |                               ORDER BY w.weight_q DESC, w.doc_id) AS BIGINT)
          |         <= (n.n_src + 4) // 5 AS selected
          |FROM wts w JOIN nsrc n USING (source)
          |ORDER BY doc_id""".stripMargin,

      // identical (doc, bigram) / corpus-count construction, identical
      // per-term floors
      "q117_bigram_lm" ->
        s"""WITH toks AS (
          |  SELECT doc_id, ${tokensSql("text")} AS ts
          |  FROM documents),
          |bg AS (
          |  SELECT doc_id, ts[g.i] || ' ' || ts[g.i + 1] AS bg
          |  FROM toks, UNNEST(generate_series(1, greatest(len(ts) - 1, 0))) AS g(i)),
          |dbg AS (SELECT doc_id, bg, CAST(count(*) AS BIGINT) AS c FROM bg GROUP BY 1, 2),
          |c12 AS (SELECT bg, CAST(SUM(c) AS BIGINT) AS c12 FROM dbg GROUP BY 1),
          |tok AS (SELECT unnest(ts) AS w FROM toks),
          |c1 AS (SELECT w, CAST(count(*) AS BIGINT) AS c1 FROM tok GROUP BY 1),
          |v AS (SELECT CAST(count(*) AS BIGINT) AS v FROM c1)
          |SELECT dbg.doc_id,
          |       CAST(SUM(dbg.c) AS BIGINT) AS n_bigrams,
          |       CAST(SUM(dbg.c * (CAST(floor(ln(CAST(c12.c12 + 1 AS DOUBLE)) * 1e6) AS BIGINT)
          |                       - CAST(floor(ln(CAST(c1.c1 + v.v AS DOUBLE)) * 1e6) AS BIGINT))) AS BIGINT) AS logprob_q
          |FROM dbg JOIN c12 USING (bg)
          |         JOIN c1 ON c1.w = split_part(dbg.bg, ' ', 1)
          |         CROSS JOIN v
          |GROUP BY dbg.doc_id
          |ORDER BY doc_id""".stripMargin,

      // q117's scoring CTEs verbatim, then per-lang tertile cutoffs as
      // values at ranks ceil(n/3)/ceil(2n/3) on the distinct-ppl frame
      // (numerator of the average is nonnegative, so DuckDB's floor //
      // equals Spark's truncating div)
      "q254_perplexity_filter" ->
        s"""WITH toks AS (
          |  SELECT doc_id, ${tokensSql("text")} AS ts
          |  FROM documents),
          |bg AS (
          |  SELECT doc_id, ts[g.i] || ' ' || ts[g.i + 1] AS bg
          |  FROM toks, UNNEST(generate_series(1, greatest(len(ts) - 1, 0))) AS g(i)),
          |dbg AS (SELECT doc_id, bg, CAST(count(*) AS BIGINT) AS c FROM bg GROUP BY 1, 2),
          |c12 AS (SELECT bg, CAST(SUM(c) AS BIGINT) AS c12 FROM dbg GROUP BY 1),
          |tok AS (SELECT unnest(ts) AS w FROM toks),
          |c1 AS (SELECT w, CAST(count(*) AS BIGINT) AS c1 FROM tok GROUP BY 1),
          |v AS (SELECT CAST(count(*) AS BIGINT) AS v FROM c1),
          |score AS (
          |  SELECT dbg.doc_id,
          |         CAST(SUM(dbg.c) AS BIGINT) AS n_bigrams,
          |         CAST(SUM(dbg.c * (CAST(floor(ln(CAST(c12.c12 + 1 AS DOUBLE)) * 1e6) AS BIGINT)
          |                         - CAST(floor(ln(CAST(c1.c1 + v.v AS DOUBLE)) * 1e6) AS BIGINT))) AS BIGINT) AS logprob_q
          |  FROM dbg JOIN c12 USING (bg)
          |           JOIN c1 ON c1.w = split_part(dbg.bg, ' ', 1)
          |           CROSS JOIN v
          |  GROUP BY dbg.doc_id),
          |sl AS (SELECT s.doc_id, d.lang,
          |              CAST((0 - s.logprob_q) // s.n_bigrams AS BIGINT) AS ppl_q
          |       FROM score s JOIN documents d USING (doc_id)),
          |vals AS (SELECT lang, ppl_q, CAST(count(*) AS BIGINT) AS c FROM sl GROUP BY 1, 2),
          |cum AS (SELECT lang, ppl_q, c,
          |               sum(c) OVER (PARTITION BY lang ORDER BY ppl_q ROWS UNBOUNDED PRECEDING) AS cum
          |        FROM vals),
          |nl AS (SELECT lang, CAST(count(*) AS BIGINT) AS n FROM sl GROUP BY 1),
          |cut1 AS (SELECT c.lang, c.ppl_q AS cut1 FROM cum c JOIN nl USING (lang)
          |         WHERE c.cum >= (n + 2) // 3 AND c.cum - c.c < (n + 2) // 3),
          |cut2 AS (SELECT c.lang, c.ppl_q AS cut2 FROM cum c JOIN nl USING (lang)
          |         WHERE c.cum >= (2 * n + 2) // 3 AND c.cum - c.c < (2 * n + 2) // 3)
          |SELECT sl.doc_id, sl.lang, sl.ppl_q,
          |       CASE WHEN sl.ppl_q <= cut1 THEN 'head'
          |            WHEN sl.ppl_q <= cut2 THEN 'middle'
          |            ELSE 'tail' END AS bucket
          |FROM sl JOIN cut1 USING (lang) JOIN cut2 USING (lang)
          |ORDER BY doc_id""".stripMargin,

      // identical distinct-value cumulation and per-side floor division
      "q196_gini_stump" ->
        s"""WITH base AS (
          |  SELECT CAST(len(${tokensSql("text")}) AS BIGINT) AS n,
          |         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
          |  FROM documents),
          |vals AS (SELECT n, CAST(count(*) AS BIGINT) AS cnt, CAST(sum(pos) AS BIGINT) AS p
          |         FROM base GROUP BY n),
          |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS nn, CAST(sum(p) AS BIGINT) AS pp FROM vals),
          |cum AS (SELECT n,
          |               sum(cnt) OVER (ORDER BY n ROWS UNBOUNDED PRECEDING) AS lc,
          |               sum(p) OVER (ORDER BY n ROWS UNBOUNDED PRECEDING) AS lp
          |        FROM vals),
          |sc AS (SELECT c.n, lc, lp, nn - lc AS rc, pp - lp AS rp,
          |              lc - lp AS lneg, (nn - lc) - (pp - lp) AS rneg, nn
          |       FROM cum c CROSS JOIN tot WHERE lc < nn),
          |g AS (SELECT n, lc, lp, rc, rp,
          |             (1000000 * (lc * lc - lp * lp - lneg * lneg)) // (lc * nn)
          |           + (1000000 * (rc * rc - rp * rp - rneg * rneg)) // (rc * nn) AS gini_q
          |      FROM sc)
          |SELECT CAST(row_number() OVER (ORDER BY gini_q, n) AS INT) AS rk,
          |       n AS threshold, CAST(gini_q AS BIGINT) AS gini_q,
          |       CAST(lc AS BIGINT) AS lc, CAST(lp AS BIGINT) AS lp,
          |       CAST(rc AS BIGINT) AS rc, CAST(rp AS BIGINT) AS rp
          |FROM g
          |QUALIFY rk <= 5
          |ORDER BY rk""".stripMargin,

      // identical distinct-value histogram and ×2-integer rank-sum
      "q197_roc_auc" ->
        s"""WITH base AS (
          |  SELECT CAST(len(${tokensSql("text")}) AS BIGINT) AS n,
          |         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
          |  FROM documents),
          |vals AS (SELECT n, CAST(count(*) AS BIGINT) AS cnt, CAST(sum(pos) AS BIGINT) AS p
          |         FROM base GROUP BY n),
          |v2 AS (SELECT n, cnt, p, cnt - p AS neg FROM vals),
          |tot AS (SELECT CAST(sum(p) AS BIGINT) AS pp, CAST(sum(neg) AS BIGINT) AS nn,
          |               CAST(count(*) AS BIGINT) AS n_scores FROM v2),
          |cum AS (SELECT p, neg,
          |               sum(neg) OVER (ORDER BY n ROWS UNBOUNDED PRECEDING) AS cneg
          |        FROM v2),
          |agg AS (SELECT CAST(sum(p * (2 * (cneg - neg) + neg)) AS BIGINT) AS num2 FROM cum)
          |SELECT CAST((1000000 * num2) // (2 * pp * nn) AS BIGINT) AS auc_q,
          |       pp AS n_pos, nn AS n_neg, n_scores
          |FROM agg CROSS JOIN tot""".stripMargin,

      // identical distinct-value histogram, suffix sums ORDER BY n DESC,
      // and ppm-composed F1 with the same formula text (window sums
      // cast to BIGINT immediately — the q196 type lesson)
      "q227_pr_curve" ->
        s"""WITH base AS (
          |  SELECT CAST(len(${tokensSql("text")}) AS BIGINT) AS n,
          |         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
          |  FROM documents),
          |vals AS (SELECT n, CAST(count(*) AS BIGINT) AS cnt, CAST(sum(pos) AS BIGINT) AS p
          |         FROM base GROUP BY n),
          |tot AS (SELECT CAST(sum(p) AS BIGINT) AS pp FROM vals),
          |cum AS (SELECT n,
          |               CAST(sum(cnt) OVER (ORDER BY n DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ppos,
          |               CAST(sum(p) OVER (ORDER BY n DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tp
          |        FROM vals),
          |pr AS (SELECT c.n, ppos, tp,
          |              (1000000 * tp) // ppos AS prec_ppm,
          |              (1000000 * tp) // pp AS rec_ppm
          |       FROM cum c CROSS JOIN tot WHERE tp > 0),
          |f AS (SELECT n, ppos, tp, prec_ppm, rec_ppm,
          |             (2 * prec_ppm * rec_ppm) // (prec_ppm + rec_ppm) AS f1_ppm
          |      FROM pr)
          |SELECT CAST(row_number() OVER (ORDER BY f1_ppm DESC, n) AS INT) AS rk,
          |       n AS threshold, ppos AS n_pred_pos, tp AS n_tp,
          |       CAST(prec_ppm AS BIGINT) AS prec_ppm,
          |       CAST(rec_ppm AS BIGINT) AS rec_ppm,
          |       CAST(f1_ppm AS BIGINT) AS f1_ppm
          |FROM f
          |QUALIFY rk <= 10
          |ORDER BY rk""".stripMargin,

      // same n-gram windows over the token lists, same 60-bit hashed
      // ids, same exact distinct counts per n
      "q245_ngram_novelty" -> {
        val tokCte =
          s"""SELECT doc_id,
            |       ${tokensSql("text")} AS ts
            |FROM documents""".stripMargin
        val arms = (1 to 4).map { n =>
          val gram = (1 to n).map(o => s"ts[g.i + ${o - 1}]").mkString(" || ' ' || ")
          val gid = hex64Sql(s"md5($gram)")
          s"""SELECT CAST($n AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS n_total,
             |       CAST(count(DISTINCT $gid) AS BIGINT) AS n_distinct,
             |       CAST((1000000 * count(DISTINCT $gid)) // count(*) AS BIGINT) AS distinct_ppm
             |FROM tok, UNNEST(generate_series(1, greatest(len(ts) - ${n - 1}, 0))) AS g(i)"""
            .stripMargin
        }.mkString("\nUNION ALL\n")
        s"WITH tok AS ($tokCte)\n$arms\nORDER BY n"
      },

      // identical per-source length histogram, token-mass cumulation,
      // and min-CASE threshold picks (window sums cast immediately)
      "q236_weighted_median" ->
        s"""WITH t AS (
          |  SELECT source,
          |         CAST(len(${tokensSql("text")}) AS BIGINT) AS n
          |  FROM documents),
          |vals AS (SELECT source, n, CAST(count(*) AS BIGINT) AS cnt FROM t GROUP BY 1, 2),
          |w AS (SELECT source, n, n * cnt AS wt FROM vals),
          |tot AS (SELECT source, CAST(sum(wt) AS BIGINT) AS tw FROM w GROUP BY source),
          |cum AS (SELECT v.source, v.n, t.tw,
          |               CAST(sum(v.wt) OVER (PARTITION BY v.source ORDER BY v.n
          |                                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
          |        FROM w v JOIN tot t USING (source))
          |SELECT source, CAST(max(tw) AS BIGINT) AS total_tokens,
          |       CAST(min(CASE WHEN cum * 2 >= tw THEN n END) AS BIGINT) AS wmed_len,
          |       CAST(min(CASE WHEN cum * 10 >= tw * 9 THEN n END) AS BIGINT) AS wp90_len
          |FROM cum GROUP BY source
          |ORDER BY source""".stripMargin,

      // exact nearest-rank replay of the sketch's exact regime: rank =
      // ceil(W·p/1000) in the identical integer arithmetic, cumulated
      // over the per-source distinct-length histogram (q171 discipline)
      "q201_quantile_sketch" ->
        s"""WITH t AS (
          |  SELECT source,
          |         CAST(len(${tokensSql("text")}) AS BIGINT) AS n
          |  FROM documents),
          |vals AS (SELECT source, n, CAST(count(*) AS BIGINT) AS cnt FROM t GROUP BY 1, 2),
          |tot AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS w FROM vals GROUP BY 1),
          |cum AS (SELECT v.source, v.n,
          |               sum(v.cnt) OVER (PARTITION BY v.source ORDER BY v.n
          |                                ROWS UNBOUNDED PRECEDING) AS c, t.w
          |        FROM vals v JOIN tot t USING (source))
          |SELECT source,
          |       CAST(min(CASE WHEN c >= (w * 250 + 999) // 1000 THEN n END) AS BIGINT) AS q250,
          |       CAST(min(CASE WHEN c >= (w * 500 + 999) // 1000 THEN n END) AS BIGINT) AS q500,
          |       CAST(min(CASE WHEN c >= (w * 750 + 999) // 1000 THEN n END) AS BIGINT) AS q750,
          |       CAST(min(CASE WHEN c >= (w * 950 + 999) // 1000 THEN n END) AS BIGINT) AS q950,
          |       CAST(min(CASE WHEN c >= (w * 990 + 999) // 1000 THEN n END) AS BIGINT) AS q990
          |FROM cum GROUP BY source
          |ORDER BY source""".stripMargin,

      // q201's exact nearest-rank cutoffs (the sketch's exact regime)
      // replayed, then the identical <=-cutoff bin assignment
      "q212_quantile_binning" ->
        s"""WITH t AS (
          |  SELECT source,
          |         CAST(len(${tokensSql("text")}) AS BIGINT) AS n
          |  FROM documents),
          |vals AS (SELECT source, n, CAST(count(*) AS BIGINT) AS cnt FROM t GROUP BY 1, 2),
          |tot AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS w FROM vals GROUP BY 1),
          |cum AS (SELECT v.source, v.n,
          |               sum(v.cnt) OVER (PARTITION BY v.source ORDER BY v.n
          |                                ROWS UNBOUNDED PRECEDING) AS c, t.w
          |        FROM vals v JOIN tot t USING (source)),
          |cuts AS (
          |  SELECT source,
          |         min(CASE WHEN c >= (w * 250 + 999) // 1000 THEN n END) AS c25,
          |         min(CASE WHEN c >= (w * 500 + 999) // 1000 THEN n END) AS c50,
          |         min(CASE WHEN c >= (w * 750 + 999) // 1000 THEN n END) AS c75
          |  FROM cum GROUP BY source),
          |binned AS (
          |  SELECT t.source,
          |         CASE WHEN t.n <= cu.c25 THEN 0
          |              WHEN t.n <= cu.c50 THEN 1
          |              WHEN t.n <= cu.c75 THEN 2 ELSE 3 END AS bin,
          |         t.n
          |  FROM t JOIN cuts cu USING (source))
          |SELECT source, CAST(bin AS INT) AS bin,
          |       CAST(count(*) AS BIGINT) AS n_docs,
          |       CAST(min(n) AS BIGINT) AS lo_tokens,
          |       CAST(max(n) AS BIGINT) AS hi_tokens
          |FROM binned GROUP BY source, bin
          |ORDER BY source, bin""".stripMargin,

      // same top-1024 head slice, same milli-nat quantization, and the
      // SAME regression-ratio expression strings Spark evaluates
      "q210_zipf_fit" ->
        s"""WITH tok AS (
           |  SELECT unnest(${tokensSql("text")}) AS w
           |  FROM documents),
           |wc AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY w
           |       ORDER BY c DESC, w LIMIT 1024),
           |r AS (SELECT c, CAST(row_number() OVER (ORDER BY c DESC, w) AS BIGINT) AS rk FROM wc),
           |pts AS (SELECT CAST(floor(ln(CAST(rk AS DOUBLE)) * 1e3) AS BIGINT) AS x,
           |               CAST(floor(ln(CAST(c AS DOUBLE)) * 1e3) AS BIGINT) AS y
           |        FROM r),
           |sums AS (SELECT CAST(count(*) AS BIGINT) AS n,
           |                CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
           |                CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
           |         FROM pts)
           |SELECT n AS n_points, $zipfSlopeExpr AS slope_q, $zipfInterceptExpr AS intercept_q
           |FROM sums""".stripMargin,

      // identical bigram/unigram frames, identical per-term qln PMI
      // factorization, same c12 >= 5 floor and (pmi desc, bg) top-15
      "q208_pmi_collocations" ->
        s"""WITH toks AS (
          |  SELECT doc_id, ${tokensSql("text")} AS ts
          |  FROM documents),
          |bgs AS (
          |  SELECT ts[g.i] || ' ' || ts[g.i + 1] AS bg
          |  FROM toks, UNNEST(generate_series(1, greatest(len(ts) - 1, 0))) AS g(i)),
          |bg AS (SELECT bg, CAST(count(*) AS BIGINT) AS c12 FROM bgs GROUP BY bg
          |       HAVING count(*) >= 5),
          |uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c
          |        FROM (SELECT unnest(ts) AS w FROM toks) GROUP BY w),
          |nu AS (SELECT CAST(sum(c) AS BIGINT) AS nu FROM uni),
          |nb AS (SELECT CAST(sum(greatest(len(ts) - 1, 0)) AS BIGINT) AS nb FROM toks),
          |scored AS (
          |  SELECT b.bg, b.c12, u1.c AS c1, u2.c AS c2,
          |         CAST(floor(ln(CAST(b.c12 AS DOUBLE)) * 1e6) AS BIGINT)
          |           + 2 * CAST(floor(ln(CAST(nu.nu AS DOUBLE)) * 1e6) AS BIGINT)
          |           - CAST(floor(ln(CAST(nb.nb AS DOUBLE)) * 1e6) AS BIGINT)
          |           - CAST(floor(ln(CAST(u1.c AS DOUBLE)) * 1e6) AS BIGINT)
          |           - CAST(floor(ln(CAST(u2.c AS DOUBLE)) * 1e6) AS BIGINT) AS pmi_q
          |  FROM bg b
          |  JOIN uni u1 ON u1.w = split_part(b.bg, ' ', 1)
          |  JOIN uni u2 ON u2.w = split_part(b.bg, ' ', 2)
          |  CROSS JOIN nu CROSS JOIN nb)
          |SELECT CAST(row_number() OVER (ORDER BY pmi_q DESC, bg) AS INT) AS rk,
          |       bg, c12, c1, c2, CAST(pmi_q AS BIGINT) AS pmi_q
          |FROM scored
          |QUALIFY rk <= 15
          |ORDER BY rk""".stripMargin,

      // identical bigram/context/continuation tables and the identical
      // multiplied-through integer KN numerator/denominator
      "q188_kneser_ney" ->
        s"""WITH toks AS (
          |  SELECT doc_id, ${tokensSql("text")} AS ts
          |  FROM documents),
          |bgs AS (
          |  SELECT doc_id, ts[g.i] || ' ' || ts[g.i + 1] AS bg
          |  FROM toks, UNNEST(generate_series(1, greatest(len(ts) - 1, 0))) AS g(i)),
          |dbg AS (SELECT doc_id, bg, CAST(count(*) AS BIGINT) AS c FROM bgs GROUP BY 1, 2),
          |cb AS (SELECT bg, CAST(SUM(c) AS BIGINT) AS c12,
          |              split_part(bg, ' ', 1) AS w1, split_part(bg, ' ', 2) AS w2
          |       FROM dbg GROUP BY bg),
          |ctx AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS ctx1,
          |               CAST(count(*) AS BIGINT) AS n1p_fw FROM cb GROUP BY w1),
          |bw AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1p_bw FROM cb GROUP BY w2),
          |nbb AS (SELECT CAST(count(*) AS BIGINT) AS nbb FROM cb),
          |scored AS (
          |  SELECT dbg.doc_id, dbg.c,
          |         (greatest(4 * cb.c12 - 3, 0) * nbb.nbb
          |            + 3 * ctx.n1p_fw * bw.n1p_bw) AS num,
          |         (4 * ctx.ctx1 * nbb.nbb) AS den
          |  FROM dbg JOIN cb USING (bg)
          |           JOIN ctx ON ctx.w1 = cb.w1
          |           JOIN bw ON bw.w2 = cb.w2
          |           CROSS JOIN nbb)
          |SELECT doc_id,
          |       CAST(SUM(c) AS BIGINT) AS n_bigrams,
          |       CAST(SUM(c * (CAST(floor(ln(CAST(num AS DOUBLE)) * 1e6) AS BIGINT)
          |                   - CAST(floor(ln(CAST(den AS DOUBLE)) * 1e6) AS BIGINT))) AS BIGINT) AS kn_logprob_q
          |FROM scored
          |GROUP BY doc_id
          |ORDER BY doc_id""".stripMargin,

      // same tokenization, same bit-length bucket (bin() has no leading
      // zeros, exactly Spark's conv-string length)
      "q148_length_histogram" ->
        s"""WITH t AS (
          |  SELECT source,
          |         CAST(len(${tokensSql("text")}) AS BIGINT) AS n
          |  FROM documents)
          |SELECT source, CAST(length(bin(n)) AS BIGINT) AS bucket,
          |       CAST(count(*) AS BIGINT) AS n_docs,
          |       CAST(MIN(n) AS BIGINT) AS min_tokens,
          |       CAST(MAX(n) AS BIGINT) AS max_tokens
          |FROM t WHERE n > 0
          |GROUP BY source, length(bin(n))
          |ORDER BY source, bucket""".stripMargin,

      // same held-in split, same per-class counting, same top-10
      // tie-break (cnt desc, word asc)
      "q119_nb_train" ->
        s"""WITH toks AS (
          |  SELECT doc_id, lang, ${tokensSql("text")} AS ts
          |  FROM documents WHERE doc_id % 5 <> 0),
          |clw AS (
          |  SELECT lang, unnest(ts) AS w FROM toks),
          |cnts AS (SELECT lang, w, CAST(count(*) AS BIGINT) AS cnt FROM clw GROUP BY 1, 2),
          |stats AS (SELECT lang, CAST(SUM(cnt) AS BIGINT) AS lang_tokens, CAST(count(*) AS BIGINT) AS lang_vocab FROM cnts GROUP BY 1),
          |ranked AS (
          |  SELECT lang, w, cnt, CAST(row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, w) AS BIGINT) AS rank
          |  FROM cnts)
          |SELECT r.lang, r.rank, r.w, r.cnt, s.lang_tokens, s.lang_vocab
          |FROM ranked r JOIN stats s USING (lang)
          |WHERE r.rank <= 10
          |ORDER BY lang, rank""".stripMargin,

      // identical split, Laplace terms, per-term floors, and
      // (score desc, lang) argmax tie-break
      "q120_nb_classify" ->
        s"""WITH $nbOracleCtes
          |SELECT doc_id, true_lang, lang AS pred_lang, CAST(score_q AS BIGINT) AS score_q,
          |       CAST(CASE WHEN lang = true_lang THEN 1 ELSE 0 END AS BIGINT) AS correct
          |FROM ranked
          |WHERE rk = 1
          |ORDER BY doc_id""".stripMargin,

      // the same two argmax streams joined on doc_id; identical
      // discordant-pair counters and ×10⁶ floor-divided statistic
      "q327_mcnemar" ->
        s"""WITH $nbOracleCtes,
          |nb AS (SELECT doc_id,
          |              CASE WHEN lang = true_lang THEN 1 ELSE 0 END AS nr
          |       FROM ranked WHERE rk = 1),
          |h AS (SELECT doc_id,
          |             CASE WHEN pred_lang = lang THEN 1 ELSE 0 END AS hr
          |      FROM ($q60OracleSql) t),
          |j AS (SELECT h.hr, nb.nr FROM nb JOIN h ON h.doc_id = nb.doc_id)
          |SELECT CAST(SUM(hr * nr) AS BIGINT) AS n_both_right,
          |       CAST(SUM((1 - hr) * (1 - nr)) AS BIGINT) AS n_both_wrong,
          |       CAST(SUM(hr * (1 - nr)) AS BIGINT) AS n_h_only,
          |       CAST(SUM((1 - hr) * nr) AS BIGINT) AS n_nb_only,
          |       CAST(CASE WHEN SUM(hr * (1 - nr)) + SUM((1 - hr) * nr) = 0 THEN 0
          |            ELSE ((SUM(hr * (1 - nr)) - SUM((1 - hr) * nr))
          |                  * (SUM(hr * (1 - nr)) - SUM((1 - hr) * nr)) * 1000000)
          |                 // (SUM(hr * (1 - nr)) + SUM((1 - hr) * nr)) END AS BIGINT) AS mcnemar_q
          |FROM j""".stripMargin,

      // same argmax stream, folded to the classes² matrix; integer-ppm
      // recall (// is DuckDB integer division, div on the Spark side)
      "q128_nb_confusion" ->
        s"""WITH $nbOracleCtes,
          |preds AS (SELECT doc_id, true_lang, lang AS pred_lang FROM ranked WHERE rk = 1),
          |cm AS (SELECT true_lang, pred_lang, CAST(count(*) AS BIGINT) AS n_docs
          |       FROM preds GROUP BY 1, 2),
          |tots AS (SELECT true_lang, CAST(SUM(n_docs) AS BIGINT) AS n_true FROM cm GROUP BY 1)
          |SELECT cm.true_lang, cm.pred_lang, cm.n_docs, t.n_true,
          |       CAST(cm.n_docs * 1000000 // t.n_true AS BIGINT) AS recall_ppm
          |FROM cm JOIN tots t USING (true_lang)
          |ORDER BY true_lang, pred_lang""".stripMargin,

      // top-2 margin from the same ranked CTE; identical bin arithmetic
      "q172_nb_calibration" ->
        s"""WITH $nbOracleCtes,
          |pair AS (SELECT doc_id,
          |                max(CASE WHEN rk = 1 THEN lang END) AS pred_lang,
          |                max(true_lang) AS true_lang,
          |                max(CASE WHEN rk = 1 THEN score_q END) AS s1,
          |                max(CASE WHEN rk = 2 THEN score_q END) AS s2
          |         FROM ranked WHERE rk <= 2 GROUP BY doc_id),
          |b AS (SELECT least((s1 - s2) // 1000000, 9) AS bin,
          |             CASE WHEN pred_lang = true_lang THEN 1 ELSE 0 END AS ok,
          |             s1 - s2 AS margin_q
          |      FROM pair)
          |SELECT CAST(bin AS BIGINT) AS bin, CAST(count(*) AS BIGINT) AS n_docs,
          |       CAST(sum(ok) AS BIGINT) AS n_correct,
          |       CAST(sum(ok) * 1000000 // count(*) AS BIGINT) AS acc_ppm,
          |       CAST(sum(margin_q) // count(*) AS BIGINT) AS avg_margin_q
          |FROM b GROUP BY bin ORDER BY bin""".stripMargin,

      // NB predictions from the shared CTEs; the heuristic rater spliced
      // in as a self-contained subquery (own WITH scope — the q08
      // precedent); identical kappa arithmetic
      "q173_rater_agreement" ->
        s"""WITH $nbOracleCtes,
          |ra AS (SELECT doc_id, lang AS a FROM ranked WHERE rk = 1),
          |rb AS (SELECT doc_id, pred_lang AS b
          |       FROM ($q60OracleSql) h WHERE doc_id % 5 = 0),
          |j AS (SELECT ra.doc_id, ra.a, rb.b FROM ra JOIN rb USING (doc_id)),
          |base AS (SELECT CAST(count(*) AS BIGINT) AS n,
          |                CAST(sum(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
          |         FROM j),
          |ma AS (SELECT a, CAST(count(*) AS BIGINT) AS na FROM j GROUP BY a),
          |mb AS (SELECT b, CAST(count(*) AS BIGINT) AS nb FROM j GROUP BY b),
          |crossed AS (SELECT CAST(coalesce(sum(na * nb), 0) AS BIGINT) AS n_cross
          |            FROM ma JOIN mb ON ma.a = mb.b),
          |k AS (SELECT n, n_agree, n_cross,
          |             CAST(n_agree AS DOUBLE) / CAST(n AS DOUBLE) AS po,
          |             CAST(n_cross AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS pe
          |      FROM base, crossed)
          |SELECT n, n_agree, n_cross, po, pe,
          |       CASE WHEN pe >= 1.0 THEN 1.0 ELSE (po - pe) / (1.0 - pe) END AS kappa
          |FROM k ORDER BY n""".stripMargin,

      // same trajectory; the final state's per-word symbol count joins
      // the (doc, word) count table to tokenize by equi-join
      "q114_bpe_tokenize" ->
        s"""WITH $bpeOracleCtes,
           |wl AS (SELECT w, CAST(len(string_split(trim(symstr), ' ')) AS BIGINT) AS n_syms
           |       FROM s$bpeRounds),
           |dw AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c
           |       FROM tok GROUP BY 1, 2)
           |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words,
           |       CAST(SUM(c * n_syms) AS BIGINT) AS n_bpe_tokens
           |FROM dw JOIN wl USING (w)
           |GROUP BY doc_id
           |ORDER BY doc_id""".stripMargin,

      // q114's trained-state join keyed by lang instead of doc
      "q266_tokenizer_fertility" ->
        s"""WITH $bpeOracleCtes,
           |wl AS (SELECT w, CAST(len(string_split(trim(symstr), ' ')) AS BIGINT) AS n_syms
           |       FROM s$bpeRounds),
           |dw AS (SELECT d.lang, t.w, CAST(count(*) AS BIGINT) AS c
           |       FROM tok t JOIN documents d USING (doc_id) GROUP BY 1, 2)
           |SELECT lang, CAST(SUM(c) AS BIGINT) AS n_words,
           |       CAST(SUM(c * n_syms) AS BIGINT) AS n_bpe_tokens,
           |       CAST(SUM(c * n_syms) * 1000000 // SUM(c) AS BIGINT) AS fertility_ppm
           |FROM dw JOIN wl USING (w)
           |GROUP BY lang
           |ORDER BY lang""".stripMargin,

      // rebuild the identical CMS matrix cell-by-cell in SQL (same md5
      // row hashes), then the same min-over-rows probe — exact compare
      "q104_countmin_freq" ->
        s"""WITH tok AS (
          |  SELECT unnest(${tokensSql("text")}) AS w
          |  FROM documents),
          |counts AS (SELECT w, count(*) AS cnt FROM tok GROUP BY w),
          |hashed AS (SELECT w, cnt, g.r AS r,
          |                  ${hex64Sql("md5(CAST(g.r AS VARCHAR) || ':' || w)")} % $cmWidth AS c
          |           FROM counts, UNNEST(generate_series(0, ${cmDepth - 1})) AS g(r)),
          |cells AS (SELECT r, c, SUM(cnt) AS cell_cnt FROM hashed GROUP BY r, c),
          |est AS (SELECT h.w, MIN(cl.cell_cnt) AS est
          |        FROM hashed h JOIN cells cl ON cl.r = h.r AND cl.c = h.c
          |        GROUP BY h.w)
          |SELECT c.w, CAST(c.cnt AS BIGINT) AS cnt, CAST(e.est AS BIGINT) AS est
          |FROM counts c JOIN est e ON e.w = c.w
          |ORDER BY c.w""".stripMargin,

      "q68_bigram_stats" ->
        s"""WITH tok AS (
          |  SELECT lang, ${tokensSql("text")} AS ts
          |  FROM documents),
          |bg AS (SELECT lang, ts[g.i] || ' ' || ts[g.i + 1] AS b
          |       FROM tok, UNNEST(generate_series(1, greatest(len(ts) - 1, 0))) AS g(i)),
          |counts AS (SELECT lang, b, count(*) AS cnt FROM bg GROUP BY lang, b),
          |tot AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_bigrams FROM bg GROUP BY lang),
          |ranked AS (SELECT lang, b, cnt,
          |                  row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, b) AS rk
          |           FROM counts)
          |SELECT r.lang, t.n_bigrams, CAST(r.rk AS INT) AS rk, r.b AS bigram, CAST(r.cnt AS BIGINT) AS cnt
          |FROM ranked r JOIN tot t ON t.lang = r.lang
          |WHERE r.rk <= 3
          |ORDER BY r.lang, rk""".stripMargin,

      "q76_tfidf" ->
        s"""WITH tok AS (
          |  SELECT doc_id, unnest(${tokensSql("text")}) AS w
          |  FROM documents),
          |tf AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY doc_id, w),
          |dl AS (SELECT doc_id, w, cnt,
          |              CAST(sum(cnt) OVER (PARTITION BY doc_id) AS BIGINT) AS doc_len
          |       FROM tf),
          |dfreq AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY w),
          |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
          |scored AS (
          |  SELECT d.doc_id, d.w, d.cnt, f.df,
          |         CAST(floor((CAST(d.cnt AS DOUBLE) / CAST(d.doc_len AS DOUBLE)) *
          |                    ln(CAST(n_docs AS DOUBLE) / CAST(f.df AS DOUBLE)) * 1e6) AS BIGINT) AS score_q
          |  FROM dl d JOIN dfreq f ON f.w = d.w, tot),
          |ranked AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score_q DESC, w) AS rk
          |           FROM scored)
          |SELECT doc_id, CAST(rk AS INT) AS rk, w AS term, cnt, df, score_q
          |FROM ranked WHERE rk <= 5
          |ORDER BY doc_id, rk""".stripMargin,

      "q63_fingerprint" ->
        """SELECT doc_id,
          |  (SELECT min(md5(substr(text, g.i, 8)))
          |   FROM UNNEST(generate_series(1, greatest(length(text) - 7, 1))) AS g(i)) AS fingerprint,
          |  CAST(greatest(length(text) - 7, 1) AS BIGINT) AS n_grams
          |FROM documents
          |ORDER BY doc_id""".stripMargin,

      // per-term floor(×1e6) quantization before the integer sum — the
      // only float ops are one ln() (quantized) and one final division
      "q05_unigram_logprob" ->
        s"""WITH tok AS (
          |  SELECT doc_id,
          |         ${tokensSql("text")} AS ts
          |  FROM documents),
          |tf AS (
          |  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS cnt
          |  FROM (SELECT doc_id, unnest(ts) AS w FROM tok)
          |  GROUP BY doc_id, w),
          |vocab AS (SELECT w, sum(cnt) AS cw FROM tf GROUP BY w),
          |tot AS (SELECT sum(cw) AS t FROM vocab),
          |scored AS (
          |  SELECT tf.doc_id,
          |         sum(tf.cnt) AS n_tokens,
          |         sum(CAST(floor(ln(CAST(v.cw AS DOUBLE) / CAST(tot.t AS DOUBLE)) * 1e6) AS BIGINT) * tf.cnt) AS logprob_q
          |  FROM tf JOIN vocab v ON v.w = tf.w CROSS JOIN tot
          |  GROUP BY tf.doc_id)
          |SELECT doc_id,
          |       CAST(n_tokens AS BIGINT) AS n_tokens,
          |       CAST(logprob_q AS BIGINT) AS logprob_q,
          |       CAST(logprob_q AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS avg_logprob
          |FROM scored
          |ORDER BY doc_id""".stripMargin,

      // list-lambda mirror of the per-doc repetition metrics;
      // generate_series(1, 0) is empty, so short docs get empty n-gram
      // lists on both sides
      "q79_repetition_filter" ->
        s"""WITH tok AS (
          |  SELECT doc_id,
          |         ${tokensSql("text")} AS ts
          |  FROM documents),
          |g AS (
          |  SELECT doc_id, len(ts) AS n_tokens,
          |         list_transform(generate_series(1, greatest(len(ts) - 1, 0)),
          |                        i -> ts[i] || ' ' || ts[i + 1]) AS bi,
          |         list_transform(generate_series(1, greatest(len(ts) - 2, 0)),
          |                        i -> ts[i] || ' ' || ts[i + 1] || ' ' || ts[i + 2]) AS tri
          |  FROM tok),
          |m AS (
          |  SELECT doc_id, n_tokens,
          |         len(bi) AS n_bigrams, len(list_distinct(bi)) AS ndb,
          |         len(tri) AS n_trigrams, len(list_distinct(tri)) AS ndt,
          |         coalesce(list_aggregate(list_transform(list_distinct(bi),
          |           x -> len(list_filter(bi, y -> y = x))), 'max'), 0) AS topb
          |  FROM g),
          |f AS (
          |  SELECT doc_id,
          |         CAST(n_tokens AS BIGINT) AS n_tokens,
          |         CAST(n_bigrams AS BIGINT) AS n_bigrams,
          |         CASE WHEN n_bigrams > 0
          |              THEN CAST(n_bigrams - ndb AS DOUBLE) / CAST(n_bigrams AS DOUBLE)
          |              ELSE 0.0 END AS dup_bigram_frac,
          |         CASE WHEN n_trigrams > 0
          |              THEN CAST(n_trigrams - ndt AS DOUBLE) / CAST(n_trigrams AS DOUBLE)
          |              ELSE 0.0 END AS dup_trigram_frac,
          |         CASE WHEN n_bigrams > 0
          |              THEN CAST(topb AS DOUBLE) / CAST(n_bigrams AS DOUBLE)
          |              ELSE 0.0 END AS top_bigram_frac
          |  FROM m)
          |SELECT doc_id, n_tokens, n_bigrams, dup_bigram_frac, dup_trigram_frac,
          |       top_bigram_frac,
          |       (dup_bigram_frac <= 0.05 AND top_bigram_frac <= 0.06) AS keep
          |FROM f
          |ORDER BY doc_id""".stripMargin
    )
  }
}
