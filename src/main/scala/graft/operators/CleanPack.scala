package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{QueryPack, Tables}
import graft.core.Pin.{materialized, warmed}
import graft.functions.TextFunctions._

/** Data-cleaning operators for a training-data pipeline: PII redaction,
  * character-entropy gibberish gating, per-source distribution drift
  * (KL), and edit-distance record linkage. Each is a standard corpus
  * curation step (cf. the C4/MassiveText/Dolma pipeline write-ups) kept
  * in the shapes that survive 100 TB: single map stages where possible,
  * shuffles only on keys that partial aggregation collapses first, and
  * candidate generation by equi-join — never all-pairs.
  */
object CleanPack extends QueryPack {

  /** PII patterns, RE2 ∩ Java-regex compatible so both engines run the
    * IDENTICAL pattern strings (no \b, no lookaround). Redaction order
    * matters and is fixed: email → phone → IP. */
  private val emailPat = "[A-Za-z0-9._]+@[A-Za-z0-9.]+"
  private val phonePat = "555-[0-9]{4}"
  private val ipPat    = "[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+"

  /** Per-char entropy band for the gibberish gate (micro-nats/char):
    * below ~2.0 nats is repeated-character junk, above ~5.0 is
    * random-byte noise (natural English sits near 2.8 nats ≈ 4.1 bits).
    * The driver corpus sits at 2.55–2.93, so the band is exercised from
    * inside; the gate VALUES are what the oracle checks exactly. */
  private val entLo = 2000000L
  private val entHi = 5000000L

  /** q211's Welch-t² arithmetic, ONE string evaluated verbatim by both
    * engines (Spark `expr` and the DuckDB oracle — identical token
    * order ⇒ identical IEEE results): t² = (m̄_a − m̄_b)² / (v_a/n_a +
    * v_b/n_b) with v/n = (n·Σm² − (Σm)²)/(n²(n−1)), ×10⁶ floored. */
  private[operators] val welchT2Expr: String =
    "cast(floor(1000000.0 * " +
      "((cast(s1a as double) / cast(na as double) - cast(s1b as double) / cast(nb as double)) * " +
      "(cast(s1a as double) / cast(na as double) - cast(s1b as double) / cast(nb as double))) / " +
      "((cast(na as double) * cast(s2a as double) - cast(s1a as double) * cast(s1a as double)) / " +
      "(cast(na as double) * cast(na as double) * (cast(na as double) - 1.0)) + " +
      "(cast(nb as double) * cast(s2b as double) - cast(s1b as double) * cast(s1b as double)) / " +
      "(cast(nb as double) * cast(nb as double) * (cast(nb as double) - 1.0)))) as bigint)"

  /** q211's arm mean difference in micro-cents, same shared-text rule. */
  private[operators] val meanDiffExpr: String =
    "cast(floor(1000000.0 * (cast(s1a as double) / cast(na as double) - " +
      "cast(s1b as double) / cast(nb as double))) as bigint)"

  /** Per-source-pair KS sup-norm numerators, shared by q330 (per-test
    * decision) and q371 (BH-FDR over the family): `(source_a, source_b,
    * n_a, n_b, dmax)` where dmax = max_v |cum_a(v)·n_b − cum_b(v)·n_a|
    * — every term an exact count product. The CDF window runs over the
    * LENGTH VOCABULARY per source (bounded, parallel by source); pairs
    * are sources²-bounded. */
  /** The q330/q371/q407/q426 shared per-VALUE pair frame: for every
    * source pair and every length-vocabulary value, both sides' counts
    * and CDF numerators. The per-source cum window runs over the
    * length VOCABULARY (bounded, parallel by source — the q148/q193
    * discipline); the pair join is sources² × vocabulary. */
  private def ksPairPoints(s: SparkSession, d: String): DataFrame = {
    val cnt = Tables.documents(s, d)
      .groupBy("source", "n_chars").agg(count(lit(1)).as("c"))
    val grid = cnt.select("n_chars").distinct()
    val srcN = cnt.groupBy("source").agg(sum("c").as("n"))
    val full = srcN.crossJoin(grid)
      .join(cnt, Seq("source", "n_chars"), "left")
      .na.fill(0L, Seq("c"))
    val w = Window.partitionBy("source").orderBy("n_chars")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = full.withColumn("cum", sum("c").over(w))
      .select(col("source"), col("n"), col("n_chars"), col("c"), col("cum"))
    cum.as("a")
      .join(cum.as("b"),
        col("a.n_chars") === col("b.n_chars") && col("a.source") < col("b.source"))
      .select(col("a.source").as("source_a"), col("b.source").as("source_b"),
        col("a.n").as("n_a"), col("b.n").as("n_b"),
        col("a.c").as("c_a"), col("b.c").as("c_b"),
        col("a.cum").as("cum_a"), col("b.cum").as("cum_b"),
        (col("a.cum") * col("b.n") - col("b.cum") * col("a.n")).as("d"))
  }

  private def ksPairStats(s: SparkSession, d: String): DataFrame =
    ksPairPoints(s, d)
      .withColumn("dnum", abs(col("d")))
      .groupBy("source_a", "source_b", "n_a", "n_b")
      .agg(max("dnum").as("dmax"))

  /** [[ksPairStats]] with the KS drift in ppm (`d_ppm`) and the tail
    * bound's log p-value in micro-units, ln p = ln 2 − 2·dmax²/(n_a·n_b·
    * (n_a+n_b)) (`ln_p_micro`). The test family of q371 and q407. */
  private def ksLogP(s: SparkSession, d: String): DataFrame =
    ksPairStats(s, d)
      .withColumn("d_ppm",
        expr("(dmax * 1000000) div (n_a * n_b)").cast("bigint"))
      .withColumn("ln_p_micro", expr(
        "cast(floor(1000000.0 * (0.6931471805599453 - " +
          "2.0 * cast(dmax as double) * cast(dmax as double) / " +
          "(cast(n_a as double) * cast(n_b as double) * " +
          "(cast(n_a as double) + cast(n_b as double))))) as bigint)"))

  /** Per (customer, experiment 1..2): the md5 A/B `bucket` and the
    * user's event spend in cents `m` (0 if none). The assignment of q331
    * and q211. */
  private def experimentSpend(s: SparkSession, d: String): DataFrame = {
    val spend = Tables.events(s, d)
      .select(col("user_id"),
        expr("cast(cast(value as decimal(18,2)) * 100 as bigint)").as("cents"))
      .groupBy("user_id").agg(sum("cents").as("cents"))
    Tables.customer(s, d)
      .select(col("c_custkey"), explode(sequence(lit(1), lit(2))).as("exp_id"))
      .withColumn("h", hex64(md5(concat(lit("exp"), col("exp_id"),
        lit(":"), col("c_custkey")))))
      .withColumn("bucket", pmod(col("h"), lit(2)))
      .join(spend.withColumnRenamed("user_id", "c_custkey"),
        Seq("c_custkey"), "left_outer")
      .withColumn("m", coalesce(col("cents"), lit(0L)))
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- referential-integrity audit: orphan counts across every FK
    // edge of the star schema (+ the app-level events→customer edge) —
    // the data-quality contract a warehouse load validates before
    // publishing. Each edge is ONE left-anti equi-join against the
    // parent's (distinct, usually broadcastable) key set; counts are a
    // bounded 5-row report regardless of fact volume. ----
    "q142_fk_audit" -> { (s, d) =>
      def edge(name: String, child: DataFrame, key: String,
               parent: DataFrame, pkey: String): DataFrame = {
        val orphans = child.select(col(key).as("k"))
          .join(broadcast(parent.select(col(pkey).as("k")).distinct()),
            Seq("k"), "left_anti")
          .agg(count(lit(1)).cast("bigint").as("n_orphans"))
        child.agg(count(lit(1)).cast("bigint").as("n_child"))
          .crossJoin(orphans)
          .select(lit(name).as("relationship"), col("n_child"), col("n_orphans"))
      }
      Seq(
        edge("customer.nationkey", Tables.table(s, d, "customer"), "c_nationkey",
          Tables.table(s, d, "nation"), "n_nationkey"),
        edge("events.user_id", Tables.eventsRawNanos(s, d), "user_id",
          Tables.table(s, d, "customer"), "c_custkey"),
        edge("lineitem.orderkey", Tables.lineitem(s, d), "l_orderkey",
          Tables.table(s, d, "orders"), "o_orderkey"),
        edge("orders.custkey", Tables.table(s, d, "orders"), "o_custkey",
          Tables.table(s, d, "customer"), "c_custkey"),
        edge("supplier.nationkey", Tables.table(s, d, "supplier"), "s_nationkey",
          Tables.table(s, d, "nation"), "n_nationkey")
      ).reduce(_ unionByName _).orderBy("relationship")
    },

    // ---- corpus snapshot diff: the audit between two corpus versions
    // (v1 = docs except doc_id%10==9 "not yet crawled"; v2 = docs
    // except doc_id%10==3 "taken down", with the %10==7 batch revised —
    // deterministic version simulation in both engines). A FULL OUTER
    // join on doc_id classifies every doc added / removed / modified /
    // unchanged (content compared by md5, never by text shuffle), then
    // folds to a per-source × status report — the ingest changelog a
    // continuously-updated 100 TB corpus publishes per snapshot. ----
    "q143_corpus_diff" -> { (s, d) =>
      // hash-derived version buckets (doc_id % 10 would correlate with
      // source in the synthetic layout and collapse each source to one
      // status — the md5 residue decorrelates, q66's bucket pattern)
      val docs = Tables.documents(s, d)
        .withColumn("vb", hex64(md5(col("doc_id").cast("string"))) % 10)
      val v1 = docs.filter(col("vb") =!= 9)
        .select(col("doc_id"), col("source"), md5(col("text")).as("h1"))
      val v2 = docs.filter(col("vb") =!= 3)
        .withColumn("text",
          when(col("vb") === 7, concat(col("text"), lit(" rev2")))
            .otherwise(col("text")))
        .select(col("doc_id"), col("source").as("source2"), md5(col("text")).as("h2"))
      v1.join(v2, Seq("doc_id"), "full_outer")
        .select(coalesce(col("source"), col("source2")).as("source"),
          when(col("h1").isNull, "added")
            .when(col("h2").isNull, "removed")
            .when(col("h1") =!= col("h2"), "modified")
            .otherwise("unchanged").as("status"))
        .groupBy("source", "status")
        .agg(count(lit(1)).cast("bigint").as("n_docs"))
        .orderBy("source", "status")
    },

    // ---- ONE-WAY ANOVA DECOMPOSITION of document length by source:
    // how much of the corpus's token-count variance is EXPLAINED by
    // which source a document came from (η² = SS_between/SS_total) —
    // the "are sources actually different populations" number a
    // mixture designer checks before stratifying (Fisher 1925 via the
    // sufficient-statistic identity SS_b = Σ s1g²/ng − S1²/N). All
    // inputs are exact int64 power sums; the per-group s1g²/ng terms
    // are floor-quantized ×10⁶ PER GROUP before the integer sum (the
    // q05/q196 per-term discipline — float sums across groups would be
    // aggregation-order-dependent). int64 bound: 10⁶·s1g² holds to
    // ~3·10⁶ tokens per source; past that the same sums feed
    // DECIMAL(38) unchanged. Output: one row. ----
    "q250_anova_decomposition" -> { (s, d) =>
      val per = Tables.documents(s, d)
        .select(col("source"),
          size(tokens(col("text"))).cast("bigint").as("y"))
        .groupBy("source")
        .agg(count(lit(1)).as("ng"), sum("y").as("s1g"),
          sum(expr("y * y")).as("s2g"))
        .withColumn("tb_q", expr("(1000000 * s1g * s1g) div ng"))
      per
        .agg(count(lit(1)).as("k"), sum("ng").as("n"),
          sum("s1g").as("s1"), sum("s2g").as("s2"), sum("tb_q").as("tb"))
        .withColumn("sst_q",
          expr("1000000 * s2 - (1000000 * s1 * s1) div n"))
        .withColumn("ssb_q",
          expr("greatest(tb - (1000000 * s1 * s1) div n, 0)"))
        .select(col("n").cast("bigint").as("n"),
          col("k").cast("bigint").as("k_sources"),
          col("sst_q").cast("bigint").as("sst_q"),
          col("ssb_q").cast("bigint").as("ssb_q"),
          (col("sst_q") - col("ssb_q")).cast("bigint").as("ssw_q"),
          expr("(1000000 * ssb_q) div sst_q").cast("bigint").as("eta2_micro"))
    },

    // ---- EXACT 10%-TRIMMED MEAN per group — the third robust-center
    // estimator next to MAD flags (q115) and winsorization (q166):
    // where winsorize CLAMPS the tails, trimming DROPS the lowest and
    // highest n div 10 observations by rank and averages the rest.
    // Exact integers over the per-group value histogram (q83/q166
    // discipline — never a per-row sort): each distinct value
    // contributes q · |[cum−cnt+1, cum] ∩ (k, n−k]| computed by
    // clamped interval arithmetic. int64 bound: 10⁶·Σkept cents holds
    // to ~9·10¹² total cents per group (≈ sf600 here); past that the
    // same histogram feeds a DECIMAL(38) reduction unchanged. ----
    "q244_trimmed_mean" -> { (s, d) =>
      val c = Tables.lineitem(s, d)
        .select(col("l_returnflag").as("grp"),
          expr("cast(cast(l_quantity as decimal(12,2)) * 100 as bigint)").as("q"))
      val vals = c.groupBy("grp", "q").agg(count(lit(1)).as("cnt"))
      val tot = vals.groupBy("grp").agg(sum("cnt").as("n"))
      val w = Window.partitionBy("grp").orderBy("q")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      vals.withColumn("cum", sum("cnt").over(w))
        .join(tot, "grp")
        .withColumn("k", expr("n div 10"))
        .withColumn("contrib",
          expr("q * greatest(least(cum, n - k) - greatest(cum - cnt, k), 0)"))
        .groupBy("grp")
        .agg(max("n").as("n"), max("k").as("k"), sum("contrib").as("ts"))
        .select(col("grp"), col("n").cast("bigint").as("n"),
          col("k").cast("bigint").as("n_trimmed_each_side"),
          expr("(1000000 * ts) div (n - 2 * k)")
            .cast("bigint").as("trimmed_mean_micro"))
        .orderBy("grp")
    },

    // ---- TOKEN-FREQUENCY DRIFT between corpus versions: q143 tells
    // you WHICH documents changed between snapshots and q226 WHETHER
    // anything changed — this reports what the change did to the token
    // DISTRIBUTION (the drift a tokenizer/quality-filter owner
    // reviews before retraining on a new snapshot; q112's KL lens
    // applied across versions instead of across sources). Same
    // deterministic version simulation as q143 (md5-residue buckets:
    // v1 drops vb=9, v2 drops vb=3 and revises vb=7). Per-token ppm in
    // each version from full counts, Δppm exact integer; top-20 by
    // |Δ| with a token tie-break. The rank window runs over the
    // VOCABULARY-sized frequency frame (bounded), never over token
    // instances. ----
    "q232_vocab_drift" -> { (s, d) =>
      val docs = Tables.documents(s, d)
        .withColumn("vb", hex64(md5(col("doc_id").cast("string"))) % 10)
      def freq(df: DataFrame) = df
        .select(explode(tokens(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("cnt"))
      val f1 = freq(docs.filter(col("vb") =!= 9))
      val f2 = freq(docs.filter(col("vb") =!= 3)
        .withColumn("text",
          when(col("vb") === 7, concat(col("text"), lit(" rev2")))
            .otherwise(col("text"))))
      val t1 = f1.agg(sum("cnt").as("tot1"))
      val t2 = f2.agg(sum("cnt").as("tot2"))
      val joined = f1.withColumnRenamed("cnt", "c1")
        .join(f2.withColumnRenamed("cnt", "c2"), Seq("w"), "full_outer")
        .select(col("w"), coalesce(col("c1"), lit(0L)).as("c1"),
          coalesce(col("c2"), lit(0L)).as("c2"))
        .crossJoin(broadcast(t1)).crossJoin(broadcast(t2))
        .withColumn("ppm1", expr("(1000000 * c1) div tot1"))
        .withColumn("ppm2", expr("(1000000 * c2) div tot2"))
        .withColumn("delta_ppm", col("ppm2") - col("ppm1"))
      joined
        .withColumn("rk", row_number().over(
          Window.orderBy(abs(col("delta_ppm")).desc, col("w"))))
        .filter(col("rk") <= 20)
        .select(col("rk").cast("int").as("rk"), col("w").as("token"),
          col("c1").cast("bigint").as("c1"), col("c2").cast("bigint").as("c2"),
          col("ppm1").cast("bigint").as("ppm1"),
          col("ppm2").cast("bigint").as("ppm2"),
          col("delta_ppm").cast("bigint").as("delta_ppm"))
        .orderBy("rk")
    },

    // ---- ADDITIVE SET CHECKSUM — content-addressable corpus
    // versioning (the homomorphic set-hash idea of LtHash/Bellare-
    // Micciancio incremental hashing, in its simplest additive form):
    // version_id = Σ h(doc) mod 2^60 over 60-bit content hashes, per
    // source and corpus-wide (ROLLUP). Addition is commutative and
    // associative, so the checksum merges map-side, is independent of
    // partitioning/order, and updates INCREMENTALLY — adding or
    // removing documents adds or subtracts their hashes, no rescan of
    // the 100 TB history (q143's snapshot diff tells you WHAT changed;
    // this tells you cheaply WHETHER anything changed). The query
    // proves the homomorphism inside the gate: hash-derived even/odd
    // halves must recombine to the full checksum
    // (additivity_ok — asserted per row by both engines). Sums
    // accumulate in DECIMAL(38,0) internally (q170's discipline —
    // int64 would wrap near 2^3.5 docs/group at 60-bit hash scale);
    // outputs are canonical BIGINT. ----
    "q226_set_checksum" -> { (s, d) =>
      val M = "1152921504606846976" // 2^60
      val docs = Tables.documents(s, d)
        .select(col("source"),
          hex64(md5(col("text"))).as("h"),
          (pmod(hex64(md5(concat(lit("half:"), col("doc_id").cast("string")))),
            lit(2)) === 0).as("even"))
      docs.rollup("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(expr("cast(h as decimal(38,0))")).as("s_all"),
          sum(when(col("even"), expr("cast(h as decimal(38,0))"))
            .otherwise(expr("cast(0 as decimal(38,0))"))).as("s_even"))
        .select(coalesce(col("source"), lit("__ALL__")).as("source"),
          col("n_docs").cast("bigint").as("n_docs"),
          expr(s"cast(s_all % $M as bigint)").as("checksum"),
          expr(s"cast(s_even % $M as bigint)").as("checksum_even"),
          expr(s"cast((s_all - s_even) % $M as bigint)").as("checksum_odd"))
        .withColumn("additivity_ok",
          expr(s"pmod(checksum_even + checksum_odd, $M) = checksum"))
        .orderBy("source")
    },

    // ---- PII redaction (the scrubbing pass of C4/Dolma-style corpus
    // builds): regexp count + replace of emails, phone numbers, and
    // IPv4 literals. The corpus is synthetic and PII-free, so — like
    // q100's accent lane — each engine first injects PII
    // deterministically from doc_id (same expression both sides), then
    // redacts; the gate compares per-doc match counts and the md5 of
    // the redacted text. Single map stage, zero shuffle except the
    // final sort — a pure 100 TB corpus scan. ----
    "q110_pii_redact" -> { (s, d) =>
      val injected = Tables.documents(s, d).select(col("doc_id"),
        when(pmod(col("doc_id"), lit(3)) === 0,
          concat(col("text"), lit(" contact user"), col("doc_id"),
            lit("@example.com now")))
        .when(pmod(col("doc_id"), lit(3)) === 1,
          concat(col("text"), lit(" call 555-"),
            lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
            lit(" today")))
        .otherwise(
          concat(col("text"), lit(" from 10."), pmod(col("doc_id"), lit(200)),
            lit("."), pmod(col("doc_id"), lit(250)),
            lit("."), pmod(col("doc_id"), lit(97)), lit(" logged")))
        .as("t"))
      injected.select(col("doc_id"),
          size(regexp_extract_all(col("t"), lit(emailPat), lit(0)))
            .cast("bigint").as("n_email"),
          size(regexp_extract_all(col("t"), lit(phonePat), lit(0)))
            .cast("bigint").as("n_phone"),
          size(regexp_extract_all(col("t"), lit(ipPat), lit(0)))
            .cast("bigint").as("n_ip"),
          md5(regexp_replace(regexp_replace(regexp_replace(col("t"),
            emailPat, "<EMAIL>"),
            phonePat, "<PHONE>"),
            ipPat, "<IP>")).as("redacted_md5"))
        .orderBy("doc_id")
    },

    // ---- character-entropy gibberish gate: per-doc Shannon entropy of
    // the character distribution, the cheap screen that catches
    // base64 blobs / repeated-char junk before any tokenizer runs.
    // Integer-deterministic via q05's trick: ln() floor(×1e6)-quantized
    // PER TERM, summed as int64 — ent_q = n·qln(n) − Σ_c c·qln(c) is
    // n × entropy in micro-nats, exact in both engines. Shape: explode
    // chars → groupBy(doc, char) — partial aggregation collapses each
    // task's chars to ≤ |alphabet| rows per doc before the shuffle, so
    // the wire carries ~docs×alphabet rows, not corpus characters. ----
    "q111_char_entropy" -> { (s, d) =>
      val counts = Tables.documents(s, d)
        .select(col("doc_id"),
          explode(regexp_extract_all(col("text"), lit("[\\s\\S]"), lit(0))).as("ch"))
        .groupBy("doc_id", "ch").agg(count(lit(1)).as("c"))
      val qln = (x: org.apache.spark.sql.Column) =>
        floor(log(x.cast("double")) * lit(1e6)).cast("bigint")
      counts.groupBy("doc_id")
        .agg(sum("c").as("n"),
             count(lit(1)).as("n_classes"),
             sum(col("c") * qln(col("c"))).as("sclnc"))
        .select(col("doc_id"),
          col("n").cast("bigint").as("n_chars"),
          col("n_classes").cast("bigint").as("n_classes"),
          (col("n") * qln(col("n")) - col("sclnc")).cast("bigint").as("ent_q"))
        .withColumn("keep",
          col("ent_q") >= col("n_chars") * lit(entLo) &&
            col("ent_q") <= col("n_chars") * lit(entHi))
        .orderBy("doc_id")
    },

    // ---- THEIL INEQUALITY DECOMPOSITION (Theil 1967) of character
    // volume across sources: the within/between split of corpus-mass
    // inequality — the "is the imbalance a few giant docs or a few
    // giant SOURCES" read next to q282's Gini and q250's variance
    // ANOVA. Per-term floor(×1e6) ln quantization keeps every term
    // int64-exact (q05/q112 discipline); no division — the emitted
    // terms are the X_s-scaled numerators, signs included:
    //   within_q  = Σ_docs x·(qln(x) + qln(n_s) − qln(X_s))
    //   between_q = X_s·(qln(X_s·N) − qln(X·n_s))
    // Shape: one doc scan + a sources-sized broadcast join; int64-exact
    // while x·|qln| and X_s·|Δqln| stay under 9·10¹⁸ (holds through
    // ~10¹¹-char sources; DECIMAL(38) past that). ----
    "q299_theil_decomposition" -> { (s, d) =>
      val qln = (x: org.apache.spark.sql.Column) =>
        floor(log(x.cast("double")) * lit(1e6)).cast("bigint")
      val docs = Tables.documents(s, d)
        .select(col("source"), col("n_chars").cast("bigint").as("x"))
        .filter(col("x") > 0)
      val src = docs.groupBy("source")
        .agg(count(lit(1)).as("n_s"), sum("x").as("xs"))
      val tot = src.agg(sum("n_s").as("nn"), sum("xs").as("xx"))
      val within = docs.join(broadcast(src), "source")
        .groupBy("source")
        .agg(sum(col("x") * (qln(col("x")) + qln(col("n_s")) - qln(col("xs"))))
          .as("within_q"))
      src.crossJoin(broadcast(tot))
        .join(within, "source")
        .select(col("source"),
          col("n_s").cast("bigint").as("n_docs"),
          col("xs").cast("bigint").as("sum_chars"),
          col("within_q").cast("bigint").as("within_q"),
          (col("xs") * (qln(col("xs") * col("nn")) - qln(col("xx") * col("n_s"))))
            .cast("bigint").as("between_q"))
        .orderBy("source")
    },

    // ---- per-source distribution drift: KL(source ‖ corpus) over the
    // unigram distributions — the mixture diagnostic that flags an
    // ingestion source whose language shifted (scraper broke, spam
    // influx) without reading a single document twice. All frames
    // after the one corpus scan are vocab-sized; n_s joins via
    // broadcast (sources-sized), c_w via co-partitioned shuffle on w.
    // Same per-term floor(×1e6) ln quantization as q05/q111, so the
    // scaled KL is an exact int64 in both engines. ----
    "q112_source_kl" -> { (s, d) =>
      val qln = (x: org.apache.spark.sql.Column) =>
        floor(log(x.cast("double")) * lit(1e6)).cast("bigint")
      val sw = Tables.documents(s, d)
        .select(col("source"), explode(tokens(col("text"))).as("w"))
        .groupBy("source", "w").agg(count(lit(1)).as("c_sw"))
      val warm = warmed(sw)
      val srcTot = warm.groupBy("source").agg(sum("c_sw").as("n_s"))
      val cw = warm.groupBy("w").agg(sum("c_sw").as("c_w"))
      val tot = cw.agg(sum("c_w").as("n"))
      val result = warm
        .join(broadcast(srcTot), "source")
        .join(cw, "w")
        .crossJoin(broadcast(tot))
        .groupBy("source")
        .agg(max("n_s").as("n_tokens"),
             sum(col("c_sw") * (qln(col("c_sw")) - qln(col("n_s"))
               - qln(col("c_w")) + qln(col("n")))).cast("bigint").as("kl_q"))
        .select(col("source"), col("n_tokens").cast("bigint").as("n_tokens"),
          col("kl_q"))
      materialized(result, warm).orderBy("source")
    },

    // ---- chi-square independence audit of lang × source (Pearson
    // 1900): IS the language mix independent of ingestion source, or is
    // one scraper feeding skewed content? The corpus-composition
    // diagnostic next to q112's KL drift. Identity used per cell:
    // (o−e)²/e = (N·o − r·c)² / (N·r·c) with e = r·c/N — numerator and
    // denominator are EXACT int64 (bound: N·r·c ≤ N³ — holds to ~10⁶
    // docs·10⁶-row margins under int64; past that the same frame feeds
    // a DECIMAL(38) reduction); the single division runs in IEEE double
    // written operator-for-operator identically in both engines, then
    // floor-quantizes PER CELL (the q05/q111 discipline) so the final
    // sum is order-independent integer arithmetic. ZERO cells count
    // (their term is e itself) via the margins' cross join left-joined
    // to observed counts — the cell table is |langs|×|sources|, bounded
    // whatever the corpus size; everything upstream is one map-side-
    // combining groupBy of the corpus scan. ----
    "q206_chi2_independence" -> { (s, d) =>
      val obs = warmed(Tables.documents(s, d)
        .groupBy("lang", "source").agg(count(lit(1)).as("o")))
      val rl = obs.groupBy("lang").agg(sum("o").as("r"))
      val cs = obs.groupBy("source").agg(sum("o").as("c"))
      val tot = obs.agg(sum("o").as("nn"))
      val nl = rl.agg(count(lit(1)).as("n_langs"))
      val ns = cs.agg(count(lit(1)).as("n_sources"))
      val cells = rl.crossJoin(broadcast(cs))
        .join(obs, Seq("lang", "source"), "left_outer")
        .withColumn("o", coalesce(col("o"), lit(0L)))
        .crossJoin(broadcast(tot))
        .withColumn("t", expr("nn * o - r * c"))
        .withColumn("term_q",
          expr("cast(floor(cast(t as double) * cast(t as double) * 1e6" +
            " / cast(nn * r * c as double)) as bigint)"))
      val result = cells
        .agg(sum("term_q").cast("bigint").as("chi2_q"),
          count(lit(1)).cast("bigint").as("n_cells"),
          max("nn").cast("bigint").as("n_docs"))
        .crossJoin(broadcast(nl)).crossJoin(broadcast(ns))
        .select(col("chi2_q"),
          expr("(n_langs - 1) * (n_sources - 1)").cast("bigint").as("dof"),
          col("n_cells"), col("n_docs"))
      materialized(result, obs).orderBy("chi2_q")
    },

    // ---- robust outlier detection: median absolute deviation (MAD),
    // the robust-statistics screen that survives the heavy-tailed junk
    // that breaks mean/stddev z-scores. Entirely integer-exact: values
    // quantized to cents via the decimal cast, medians as the q83
    // window-midpoint doubled (med2 = 2×median stays integral for even
    // groups), and the Hampel-style flag 2·dev2 > 3·mad2 compares pure
    // int64 — no float ever aggregates. Shape: two window passes keyed
    // by the group column (the exact-median cost; at extreme group
    // sizes swap in approx_percentile and keep the flag rule). ----
    "q115_mad_outliers" -> { (s, d) =>
      Tables.customer(s, d).createOrReplaceTempView("customer")
      s.sql("""
        WITH c AS (
          SELECT c_nationkey, c_custkey,
                 CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
          FROM customer),
        r AS (
          SELECT *, row_number() OVER (PARTITION BY c_nationkey ORDER BY cents, c_custkey) AS rn,
                 count(*) OVER (PARTITION BY c_nationkey) AS cnt
          FROM c),
        m AS (
          SELECT c_nationkey,
                 CAST(SUM(CASE WHEN rn = (cnt + 1) div 2 OR rn = (cnt + 2) div 2 THEN cents END)
                      * (max(cnt) % 2 + 1) AS BIGINT) AS med2
          FROM r GROUP BY c_nationkey),
        dev AS (
          SELECT c.c_nationkey, c.c_custkey, c.cents, m.med2,
                 abs(2 * c.cents - m.med2) AS dev2
          FROM c JOIN m ON c.c_nationkey = m.c_nationkey),
        r2 AS (
          SELECT *, row_number() OVER (PARTITION BY c_nationkey ORDER BY dev2, c_custkey) AS rn,
                 count(*) OVER (PARTITION BY c_nationkey) AS cnt
          FROM dev),
        m2 AS (
          SELECT c_nationkey,
                 CAST(SUM(CASE WHEN rn = (cnt + 1) div 2 OR rn = (cnt + 2) div 2 THEN dev2 END)
                      * (max(cnt) % 2 + 1) AS BIGINT) AS mad2
          FROM r2 GROUP BY c_nationkey)
        SELECT dev.c_nationkey, dev.c_custkey, dev.cents, dev.med2, dev.dev2, m2.mad2,
               (2 * dev.dev2 > 3 * m2.mad2) AS is_outlier
        FROM dev JOIN m2 ON dev.c_nationkey = m2.c_nationkey
        ORDER BY c_nationkey, c_custkey
      """)
    },

    // ---- edit-distance record linkage via the symmetric-delete index
    // (FastSS, Bocek et al. 2007; the SymSpell layout): to match dirty
    // strings within edit distance 1 of a clean dictionary, index every
    // single-char deletion variant of the clean side (L+1 rows per
    // name — LINEAR expansion) and equi-join the dirty string against
    // it; verify survivors with levenshtein() and resolve ambiguity by
    // the (distance, key) argmin. No all-pairs comparison and no
    // fragile blocking keys — the candidate set is exact for the
    // supported radius by construction. The dirty side is the
    // deterministic corruption: drop one digit of c_name at position
    // 10 + custkey%8 (same expression in the oracle). ----
    "q113_fuzzy_match" -> { (s, d) =>
      val clean = Tables.customer(s, d).select(col("c_custkey"), col("c_name"))
      val dirty = clean.select(col("c_custkey").as("dirty_key"),
        expr("concat(substr(c_name, 1, cast(9 + c_custkey % 8 as int)), " +
          "substr(c_name, cast(11 + c_custkey % 8 as int)))").as("dirty_name"))
      val variants = clean.select(col("c_custkey"), col("c_name"),
        explode(expr("transform(sequence(1, length(c_name)), " +
          "i -> concat(substr(c_name, 1, i - 1), substr(c_name, i + 1)))"))
          .as("variant"))
      val cand = variants
        .join(dirty, col("variant") === col("dirty_name"))
        .select(col("dirty_key"), col("dirty_name"),
          col("c_custkey"), col("c_name"))
        .distinct()
        .withColumn("lev",
          levenshtein(col("c_name"), col("dirty_name")).cast("bigint"))
        .where(col("lev") <= 1)
      cand
        .withColumn("rk", row_number().over(Window.partitionBy("dirty_key")
          .orderBy(col("lev"), col("c_custkey"))))
        .where(col("rk") === 1)
        .select(col("dirty_key"), col("dirty_name"),
          col("c_custkey").as("matched_key"), col("c_name").as("matched_name"),
          col("lev"))
        .orderBy("dirty_key")
    },

    // ---- winsorized robust statistics: per source, clamp n_chars at the
    // exact p05/p95 order statistics (lower-floor nearest-rank indices,
    // idx = (n-1)*q div 100 + 1 — pure positive-integer arithmetic,
    // identical truncation in both engines) and report raw vs winsorized
    // totals — the robust-mean step that keeps one 500 MB crawl blob from
    // dominating a per-source length profile. Cost is the standard exact-
    // percentile shape (one partition-by-source sort, the q83/q115
    // discipline); the boundary-value table is sources-sized and joins
    // back broadcast. ----
    "q166_winsorize" -> { (s, d) =>
      Tables.documents(s, d).createOrReplaceTempView("documents")
      s.sql("""
        WITH c AS (SELECT source, doc_id, n_chars FROM documents),
        r AS (SELECT *, row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rn,
                     count(*) OVER (PARTITION BY source) AS cnt FROM c),
        b AS (SELECT source,
                     max(CASE WHEN rn = ((cnt - 1) * 5) div 100 + 1 THEN n_chars END) AS lo_val,
                     max(CASE WHEN rn = ((cnt - 1) * 95) div 100 + 1 THEN n_chars END) AS hi_val,
                     max(cnt) AS n
              FROM r GROUP BY source),
        w AS (SELECT c.source, c.n_chars, b.lo_val, b.hi_val, b.n,
                     least(greatest(c.n_chars, b.lo_val), b.hi_val) AS wchars
              FROM c JOIN b ON b.source = c.source)
        SELECT source, CAST(max(n) AS BIGINT) AS n,
               max(lo_val) AS lo_val, max(hi_val) AS hi_val,
               CAST(sum(n_chars) AS BIGINT) AS raw_sum,
               CAST(sum(wchars) AS BIGINT) AS win_sum,
               CAST(sum(CASE WHEN n_chars < lo_val THEN 1 ELSE 0 END) AS BIGINT) AS n_clamp_lo,
               CAST(sum(CASE WHEN n_chars > hi_val THEN 1 ELSE 0 END) AS BIGINT) AS n_clamp_hi,
               CAST(sum(wchars) AS DOUBLE) / CAST(max(n) AS DOUBLE) AS win_mean
        FROM w GROUP BY source ORDER BY source
      """)
    },

    // ---- A/B assignment + sample-ratio-mismatch check: deterministic
    // md5-bucket experiment assignment over the customer population and
    // the chi-square SRM guardrail every experimentation platform runs
    // before trusting a readout (for a 50/50 split, chi2 = (nA-nB)²/n).
    // Experiments 1-2 are fair coins; experiment 3 is deliberately
    // biased 45/55 so the flag demonstrably fires. chi2 is exact-integer
    // micro-units — ((nA-nB)²·1e6) div n, positive operands — compared
    // against 3.841459 (chi²_{0.05, df=1}) as the integer 3841459. ----
    "q180_ab_srm_check" -> { (s, d) =>
      val assigned = Tables.customer(s, d)
        .select(col("c_custkey"), explode(sequence(lit(1), lit(3))).as("exp_id"))
        .withColumn("h", hex64(md5(concat(lit("exp"), col("exp_id"),
          lit(":"), col("c_custkey")))))
        .withColumn("bucket",
          when(col("exp_id") < 3, pmod(col("h"), lit(2)))
            .otherwise(when(pmod(col("h"), lit(100)) < 45, 0L).otherwise(1L)))
      assigned.groupBy("exp_id")
        .agg(count(lit(1)).cast("bigint").as("n"),
          sum(when(col("bucket") === 0, 1L).otherwise(0L)).cast("bigint").as("n_a"),
          sum(when(col("bucket") === 1, 1L).otherwise(0L)).cast("bigint").as("n_b"))
        .withColumn("chi2_micro",
          expr("((n_a - n_b) * (n_a - n_b) * 1000000) div n").cast("bigint"))
        .withColumn("srm_flag", col("chi2_micro") > 3841459L)
        .select(col("exp_id").cast("int").as("exp_id"), col("n"), col("n_a"),
          col("n_b"), col("chi2_micro"), col("srm_flag"))
        .orderBy("exp_id")
    },

    // ---- A/B metric readout: Welch's unequal-variance t² on the
    // per-customer spend metric under q180's deterministic md5-bucket
    // assignment (the step an experimentation platform runs AFTER the
    // SRM guardrail passes; Welch 1947). Power sums per arm are exact —
    // n and Σm int64, Σm² DECIMAL(38,0) (internal only; q170's
    // discipline) — from cents-quantized spend; the t² ratio is
    // ONE double expression whose text is character-identical in both
    // engines ([[welchT2Expr]] — the q206 identical-IEEE discipline),
    // floor-quantized ×10⁶. Customers without events count as zero
    // spend (left join + coalesce — dropping them would bias the
    // readout toward active users). Both experiments are fair coins
    // over the same population, so t² should be far under the 3.84
    // significance bar — the readout's own null check. ----
    // ---- BROWN–FORSYTHE VARIANCE HOMOGENEITY (Brown & Forsythe 1974;
    // Levene's test on MEDIAN-centered deviations): are the sources'
    // length SPREADS equal? — the assumption check q250's ANOVA and
    // q211's pooled comparisons quietly lean on (and the robust-center
    // variant that survives the skewed length distributions real
    // corpora have). Exact integer medians (value-vocabulary CDF) and
    // |x−med| moments; the per-source F terms are floor-quantized to
    // int64 BEFORE the cross-source sum (no double summation-order
    // hazard, the q346 rule); one final double ratio. ----
    "q350_brown_forsythe" -> { (s, d) =>
      val docs = Tables.documents(s, d)
        .select(col("source"), col("n_chars").cast("bigint").as("x"))
      val cnt = docs.groupBy("source", "x").agg(count(lit(1)).as("ct"))
      val wv = Window.partitionBy("source").orderBy("x")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = cnt.withColumn("cum", sum("ct").over(wv))
      val nsrc = docs.groupBy("source").agg(count(lit(1)).as("n"))
      val med = cum.join(nsrc, "source")
        .filter(col("cum") * 2 >= col("n"))
        .groupBy("source").agg(min("x").as("med"))
      val per = docs.join(broadcast(med), "source")
        .select(col("source"), col("med"), abs(col("x") - col("med")).as("z"))
        .groupBy("source")
        .agg(max("med").as("med"), count(lit(1)).as("n"),
          sum("z").as("sz"), sum(expr("z * z")).as("qz"))
      val glob = per.agg(sum("n").as("nn"), sum("sz").as("ss"),
        count(lit(1)).as("k"))
      val terms = per.crossJoin(broadcast(glob))
        .withColumn("dev",
          col("sz").cast("double") / col("n").cast("double") -
            col("ss").cast("double") / col("nn").cast("double"))
        .withColumn("bf_term_q",
          floor(col("n").cast("double") * col("dev") * col("dev")).cast("bigint"))
        .withColumn("within_term_q",
          floor(col("qz").cast("double") -
            col("sz").cast("double") * col("sz").cast("double") /
              col("n").cast("double")).cast("bigint"))
      val fstat = terms.agg(sum("bf_term_q").as("sb"), sum("within_term_q").as("sw"),
          max("nn").as("nn"), max("k").as("k"))
        .select(expr("""CAST(CASE WHEN sw = 0 THEN 0
               |     ELSE floor(1000.0 * CAST((nn - k) AS DOUBLE) * CAST(sb AS DOUBLE)
               |          / (CAST((k - 1) AS DOUBLE) * CAST(sw AS DOUBLE)))
               |     END AS BIGINT)""".stripMargin).as("f_milli"))
      val result = terms.crossJoin(broadcast(fstat))
        .select(col("source"),
          col("n").cast("bigint").as("n_docs"),
          col("med").cast("bigint").as("median_len"),
          col("sz").cast("bigint").as("sum_absdev"),
          col("bf_term_q"), col("within_term_q"), col("f_milli"))
      result.orderBy("source")
    },

    // ---- NEYMAN ALLOCATION AUDIT (Neyman 1934): the variance-optimal
    // stratified-sampling allocation n_h ∝ N_h·S_h over sources vs the
    // naive proportional N_h share — the design table behind q66's
    // stratified sample (high-variance strata deserve MORE than their
    // proportional share; the delta column says how much the naive
    // design wastes). Exact integer moments per stratum; S_h is the
    // single correctly-rounded sqrt (q175 rule); the allocation weight
    // is floor-quantized ×10³ per stratum BEFORE the integer share
    // division, so no cross-stratum double summation order exists.
    // Shape: one map-side-combining moment aggregate, then a
    // sources-sized frame. ----
    "q346_neyman_allocation" -> { (s, d) =>
      val mom = Tables.documents(s, d)
        .select(col("source"), col("n_chars").cast("bigint").as("x"))
        .groupBy("source")
        .agg(count(lit(1)).as("n"), sum("x").as("s1"),
          sum(expr("x * x")).as("s2"))
        .filter(col("n") >= 2)
      val wq = mom.withColumn("aq",
        floor(col("n").cast("double") *
          sqrt((col("n") * col("s2") - col("s1") * col("s1")).cast("double") /
            (col("n") * (col("n") - 1)).cast("double")) * lit(1e3))
          .cast("bigint"))
      val tot = wq.agg(sum("aq").as("ta"), sum("n").as("tn"))
      val result = wq.crossJoin(broadcast(tot))
        .select(col("source"),
          col("n").cast("bigint").as("n_docs"),
          col("aq").cast("bigint").as("neyman_weight_q"),
          expr("(aq * 1000000) div ta").cast("bigint").as("neyman_ppm"),
          expr("(n * 1000000) div tn").cast("bigint").as("proportional_ppm"),
          (expr("(aq * 1000000) div ta") - expr("(n * 1000000) div tn"))
            .cast("bigint").as("delta_ppm"))
      result.orderBy("source")
    },

    // ---- TWO-SAMPLE KOLMOGOROV–SMIRNOV (Kolmogorov 1933; Smirnov
    // 1939) over every source pair's document-length distribution: the
    // distribution-free drift test next to q112's KL (KL needs binning
    // and is asymmetric; KS is the sup-norm on the empirical CDFs).
    // Exact integers end to end: D·n_a·n_b = max_v |cum_a(v)·n_b −
    // cum_b(v)·n_a| (every term a count product), reported as ×10⁶
    // floor-divided ppm; the α=0.05 decision compares against
    // c(α)·√((n_a+n_b)/(n_a·n_b)) — one sqrt+multiply+floor on exact
    // integer ratios (correctly-rounded IEEE, the q175 rule), so both
    // engines produce the identical bit. Scale shape: the corpus scan
    // collapses to (source, length) counts map-side; the CDF window
    // runs over the LENGTH VOCABULARY per source (bounded, parallel by
    // source — the q148/q193 discipline); pairs are sources²-bounded.
    // int64: cum·n ≤ N² — safe through ~3·10⁹ docs, DECIMAL(38)
    // internally past that. ----
    "q330_ks_statistic" -> { (s, d) =>
      val result = ksPairStats(s, d)
        .select(col("source_a"), col("source_b"),
          col("n_a").cast("bigint").as("n_a"), col("n_b").cast("bigint").as("n_b"),
          expr("(dmax * 1000000) div (n_a * n_b)").cast("bigint").as("d_ppm"),
          floor(lit(1358000.0) *
            sqrt((col("n_a") + col("n_b")).cast("double") /
              (col("n_a") * col("n_b")).cast("double")))
            .cast("bigint").as("crit_ppm"))
        .withColumn("reject", col("d_ppm") > col("crit_ppm"))
      result.orderBy("source_a", "source_b")
    },

    // ---- TWO-SAMPLE CRAMÉR–VON MISES (Anderson 1962, Ann. Math.
    // Stat. 33) over the same source-pair length distributions as
    // q330's KS: where KS reads only the single WORST CDF gap, CvM
    // integrates the SQUARED gap over the whole pooled sample — the
    // companion drift test that catches many-small-deviations shapes a
    // sup-norm misses (the two together are the standard
    // distribution-drift panel). Grid formulation, exact integers:
    // with d_v = cum_a(v)·n_b − cum_b(v)·n_a and pooled weight
    // w_v = c_a + c_b, T = Σ_v w_v·d_v² / (n_a·n_b·(n_a+n_b)²); the
    // sum accumulates in DECIMAL(38,0) ↔ HUGEINT (the q413 lesson —
    // per-term ≤ ~N⁵ but the SUM wraps int64 first) and the single
    // integral division emits T in micro units. α=0.05 compares
    // against the limiting-distribution critical value 0.461
    // (Anderson & Darling's T∞ table) as the literal 461000. Shapes:
    // the same vocabulary-bounded per-source CDF window and
    // sources²×vocab pair frame as q330 — one more aggregate, no new
    // corpus-scale structure. ----
    "q426_cvm_two_sample" -> { (s, d) =>
      val result = ksPairPoints(s, d)
        .groupBy("source_a", "source_b", "n_a", "n_b")
        .agg(sum(expr("CAST(c_a + c_b AS DECIMAL(38,0)) * d * d")).as("sw"))
        .withColumn("t_micro", expr(
          "(sw * 1000000) div (CAST(n_a AS DECIMAL(38,0)) * n_b * " +
            "(n_a + n_b) * (n_a + n_b))"))
        .select(col("source_a"), col("source_b"),
          col("n_a").cast("bigint").as("n_a"),
          col("n_b").cast("bigint").as("n_b"),
          col("t_micro").cast("bigint").as("t_micro"),
          (col("t_micro") > lit(461000L)).as("reject"))
      result.orderBy("source_a", "source_b")
    },

    // ---- TWO-SAMPLE ANDERSON–DARLING (Pettitt 1976, Biometrika 63;
    // Scholz & Stephens 1987 k-sample form at k=2): the TAIL-WEIGHTED
    // member completing the drift panel — KS reads the worst gap
    // (q330), CvM the integrated squared gap (q426), AD reweights that
    // gap by 1/(B·(N−B)) so distribution-tail divergence (where B or
    // N−B is small) counts hardest — the test that flags a corrupted
    // length ceiling or floor the other two dilute. For k=2 the AD
    // numerator N·M_a − n_a·B algebraically REDUCES to the KS
    // numerator d = cum_a·n_b − cum_b·n_a (and the b-side term is its
    // negation), so the whole statistic is A² = Σ_v l_v·d_v² /
    // (n_a·n_b·B_v·(N−B_v)) over the shared per-value pair frame —
    // per-value quotients floor-quantized to micro on DECIMAL(38,0) ↔
    // HUGEINT products, summed as int64 (identical truncation both
    // engines). The max pooled value (B = N) is excluded structurally
    // in both engines (its numerator is identically 0 but the weight
    // denominator is 0 — a 0/0 the engines would disagree on).
    // α=0.05 via the asymptotic critical value 2.492. Same shapes as
    // q330/q426: vocabulary-bounded CDF windows, sources²×vocab pair
    // frame, one aggregate. ----
    "q427_anderson_darling" -> { (s, d) =>
      val result = ksPairPoints(s, d)
        .withColumn("bb", col("cum_a") + col("cum_b"))
        .withColumn("nn", col("n_a") + col("n_b"))
        // the value grid is GLOBAL across sources: rows below the
        // pair's minimum have B = 0 (and the max pooled value B = N) —
        // both are 0/0 weight cells, excluded identically both engines
        .filter(col("bb") > 0 && col("bb") < col("nn"))
        .groupBy("source_a", "source_b", "n_a", "n_b")
        .agg(sum(expr(
          "(CAST(c_a + c_b AS DECIMAL(38,0)) * d * d * 1000000) div " +
            "(CAST(n_a AS DECIMAL(38,0)) * n_b * bb * (nn - bb))")).as("a2s"))
        .select(col("source_a"), col("source_b"),
          col("n_a").cast("bigint").as("n_a"),
          col("n_b").cast("bigint").as("n_b"),
          col("a2s").cast("bigint").as("a2_micro"),
          (col("a2s") > lit(2492000L)).as("reject"))
      result.orderBy("source_a", "source_b")
    },

    // ---- BENJAMINI–HOCHBERG FDR CONTROL (Benjamini & Hochberg 1995)
    // over the q330 family of pairwise KS tests: 20 sources means 190
    // simultaneous tests — per-test α=0.05 expects ~9 false drift
    // alarms on a healthy corpus, so the monitoring decision needs a
    // multiple-testing correction. p-values stay in the LOG DOMAIN to
    // avoid exp() (not correctly rounded, unlike sqrt): the KS tail
    // bound p = 2·exp(−2·D²·n_a·n_b/(n_a+n_b)) becomes ln p = ln 2 −
    // 2·dmax²/(n_a·n_b·(n_a+n_b)) — pure arithmetic on exact integers
    // plus literal constants — and the BH step-up test p(k) ≤ kα/m
    // becomes ln_p ≤ ln k + ln α − ln m, where ln() touches only
    // INTEGER-valued doubles (the NB-scoring qln precedent both
    // engines already agree on bit-exactly). The rank window runs over
    // the sources²-bounded pair frame (q127 rule); reject = rank ≤
    // kmax where kmax is the largest step-up rank that passes. ----
    "q371_ks_fdr" -> { (s, d) =>
      val lnp = ksLogP(s, d)
      // bounded frame: pairs are sources²-bounded, so the global rank
      // window is a q127-class bounded window, not a row-scale sort
      val ranked = lnp
        .withColumn("rk", row_number().over(
          Window.orderBy(col("ln_p_micro"), col("source_a"), col("source_b"))))
        .crossJoin(broadcast(lnp.agg(count(lit(1)).as("m"))))
        .withColumn("bh_micro", expr(
          "cast(floor(1000000.0 * (ln(cast(rk as double)) - " +
            "2.9957322735539909 - ln(cast(m as double)))) as bigint)"))
      val kmax = ranked
        .agg(max(when(col("ln_p_micro") <= col("bh_micro"), col("rk"))
          .otherwise(lit(0))).as("kmax"))
      val result = ranked.crossJoin(broadcast(kmax))
        .select(col("source_a"), col("source_b"), col("d_ppm"),
          col("ln_p_micro"), col("rk").cast("int").as("rk"),
          col("bh_micro").cast("bigint").as("bh_micro"),
          (col("rk") <= col("kmax")).as("reject_fdr"))
      result.orderBy("source_a", "source_b")
    },

    // ---- HOLM STEP-DOWN FWER CONTROL (Holm 1979, Scand. J. Stat.)
    // over the same q330/q371 KS family: where Benjamini–Hochberg
    // bounds the false-discovery RATE (exploration mode), Holm bounds
    // the familywise error — the correction a "halt the pipeline on
    // drift" decision needs, since one false halt is the costly event.
    // Same log-domain discipline as q371 (ln p and ln(α/(m−k+1)) =
    // ln α − ln(m−k+1), ln only on INTEGER-valued doubles), same
    // sources²-bounded rank window; the STEP-DOWN rule rejects the
    // prefix of ranks before the FIRST failure (one min-aggregate),
    // unlike BH's step-up max. Always rejects a subset of q371's
    // (Holm ≤ BH pointwise) — the gate corpus pins both sides of that
    // containment. ----
    "q407_holm_fwer" -> { (s, d) =>
      val lnp = ksLogP(s, d)
      val ranked = lnp
        .withColumn("rk", row_number().over(
          Window.orderBy(col("ln_p_micro"), col("source_a"), col("source_b"))))
        .crossJoin(broadcast(lnp.agg(count(lit(1)).as("m"))))
        .withColumn("holm_micro", expr(
          "cast(floor(1000000.0 * (-2.9957322735539909 - " +
            "ln(cast(m - rk + 1 as double)))) as bigint)"))
        .withColumn("pass", col("ln_p_micro") <= col("holm_micro"))
      val kstop = ranked.agg(
        coalesce(min(when(!col("pass"), col("rk"))),
          max(col("rk")) + 1).as("kstop"))
      val result = ranked.crossJoin(broadcast(kstop))
        .select(col("source_a"), col("source_b"), col("d_ppm"),
          col("ln_p_micro"), col("rk").cast("int").as("rk"),
          col("holm_micro").cast("bigint").as("holm_micro"),
          (col("rk") < col("kstop")).as("reject_fwer"))
      result.orderBy("source_a", "source_b")
    },

    // ---- SORTED-NEIGHBORHOOD RECORD LINKAGE (Hernández & Stolfo,
    // SIGMOD 1995 merge/purge): the OTHER classic blocking strategy
    // next to q113's symmetric-delete index — sort clean ∪ dirty
    // records by the match key and compare only records ≤ w positions
    // apart. The audit reports, per window offset k ∈ {1,2,3}: pair
    // volume, cross-side candidates, DL ≤ 2 matches (the codegen
    // Damerau–Levenshtein kernel), true matches, and CUMULATIVE recall
    // — which exposes the method's textbook failure mode: a corruption
    // in the sort-key PREFIX (here the deliberate char-5 deletion on
    // every 4th record) sorts the record far from its mate and no
    // affordable window recovers it, while late-position transpositions
    // are caught at offset 1. Scale shape: the global sort RANK comes
    // from the distributed two-phase [[graft.functions.PrefixSum]]
    // (plan-REQUIREd — never a single-task row_number), and the
    // neighbor join is k equi-joins on the integer rank, so the whole
    // pipeline is rank-partitioned row-scale work with no all-pairs
    // block. ----
    "q375_sorted_neighborhood" -> { (s, d) =>
      graft.functions.GraftExpressions.ensure(s)
      val clean = Tables.customer(s, d).select(col("c_custkey"), col("c_name"))
      val dirty = clean
        .withColumn("p", expr("cast(10 + c_custkey % 7 as int)"))
        .withColumn("swapped",
          expr("concat(substr(c_name, 1, p - 1), substr(c_name, p + 1, 1), " +
            "substr(c_name, p, 1), substr(c_name, p + 2))"))
        .select(col("c_custkey"),
          expr("CASE WHEN c_custkey % 4 = 0 " +
            "THEN concat(substr(swapped, 1, 4), substr(swapped, 6)) " +
            "ELSE swapped END").as("c_name"))
      val records = clean.withColumn("tag", lit("clean"))
        .unionByName(dirty.withColumn("tag", lit("dirty")))
      val ranked = graft.functions.PrefixSum.inclusive(records,
        Seq(col("c_name"), col("tag"), col("c_custkey")),
        Seq((lit(1L), "rk")))
      val probes = ranked.select(col("c_custkey").as("key_a"),
          col("c_name").as("name_a"), col("tag").as("tag_a"),
          explode(expr("sequence(1, 3)")).as("k"),
          col("rk").as("rk_a"))
        .withColumn("rk_b", col("rk_a") + col("k"))
      val pairs = probes.join(
        ranked.select(col("c_custkey").as("key_b"), col("c_name").as("name_b"),
          col("tag").as("tag_b"), col("rk").as("rk_b")), "rk_b")
        .withColumn("cross", col("tag_a") =!= col("tag_b"))
        .withColumn("dl", graft.functions.GraftExpressions
          .damerauLevenshtein(col("name_a"), col("name_b")).cast("bigint"))
        .withColumn("hit", col("cross") && col("dl") <= 2)
        .withColumn("true_pair", col("hit") && col("key_a") === col("key_b"))
      val perK = warmed(pairs.groupBy("k")
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("cross"), 1L).otherwise(0L)).as("n_cross"),
          sum(when(col("hit"), 1L).otherwise(0L)).as("n_dl2_matches"),
          sum(when(col("true_pair"), 1L).otherwise(0L)).as("n_true_pairs")))
      // cumulative distinct-recall: the true-match set is tiny (≤ one
      // per dirty record), so the per-k distinct roll-up is bounded
      val found = pairs.filter(col("true_pair"))
        .select(col("k"), when(col("tag_a") === "dirty", col("key_a"))
          .otherwise(col("key_b")).as("dk"))
      val ks = perK.select("k")
      val cum = ks.as("x").join(found.as("f"), col("f.k") <= col("x.k"), "left")
        .groupBy(col("x.k").as("k"))
        .agg(countDistinct(col("f.dk")).as("cum_found"))
      val nd = dirty.agg(count(lit(1)).as("n_dirty"))
      val result = perK.join(cum, "k").crossJoin(broadcast(nd))
        .select(col("k").cast("int").as("k"),
          col("n_pairs").cast("bigint").as("n_pairs"),
          col("n_cross").cast("bigint").as("n_cross"),
          col("n_dl2_matches").cast("bigint").as("n_dl2_matches"),
          col("n_true_pairs").cast("bigint").as("n_true_pairs"),
          col("cum_found").cast("bigint").as("cum_found"),
          expr("(cum_found * 1000000) div n_dirty").cast("bigint")
            .as("cum_recall_ppm"))
      // Plan REQUIRE: every window is PrefixSum machinery (no global
      // row_number over the record stream may creep back)
      locally {
        import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
        val wins = result.queryExecution.optimizedPlan.collect { case w: LWindow => w }
        require(wins.forall(w => (w.partitionSpec ++ w.orderSpec)
            .flatMap(_.references.toSeq).exists(_.name == "__pid")),
          "q375: a non-PrefixSum window appeared (row-scale global rank regression)")
      }
      materialized(result, perK).orderBy("k")
    },

    // ---- KENDALL'S TAU-B (Kendall 1938; tie correction Kendall 1945)
    // between bucketed doc length and token count — completing the
    // correlation triple next to Pearson (q396) and Spearman (q334):
    // tau is the probability-scale concordance measure whose pairwise
    // definition (sign agreement over all C(N,2) pairs) looks
    // quadratic but collapses to VALUE-VOCABULARY work on a
    // contingency grid: C = Σ n_xy · F(x-1,y-1) and D = Σ n_xy ·
    // (A(x-1) - F(x-1,y)) where F is the dense grid's 2-D CDF — built
    // by two chained cumsums whose window partitions are each bounded
    // by ONE variable's vocabulary (the q371-oracle discipline), never
    // by corpus size. Values are bucketed (chars/16, tokens/8) to keep
    // the dense grid vocab² small; tau-b of the bucketed variables is
    // the reported statistic (documented, not a hidden approximation).
    // Tie terms n1/n2 are exact row/col-total sums; the final tau is
    // one sqrt+divide+floor on exact int64s (q334's rule). ----
    "q409_kendall_tau" -> { (s, d) =>
      val base = Tables.documents(s, d).select(
          expr("n_chars div 16").cast("bigint").as("x"),
          size(tokens(col("text"))).cast("bigint").as("yt"))
        .select(col("x"), expr("yt div 8").cast("bigint").as("y"))
      val cells = base.groupBy("x", "y").agg(count(lit(1)).as("nc"))
      val xs = cells.select("x").distinct()
      val ys = cells.select("y").distinct()
      val grid = xs.crossJoin(ys).join(cells, Seq("x", "y"), "left")
        .na.fill(0L, Seq("nc"))
      // 2-D CDF by chained vocab-bounded cumsums, then strict prefixes
      // by lags over the DENSE grid (well-defined because every (x,y)
      // vocabulary combination is present)
      val wY = Window.partitionBy("x").orderBy("y")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wXcum = Window.partitionBy("y").orderBy("x")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wXlag = Window.partitionBy("y").orderBy("x")
      val wYlag = Window.partitionBy("x").orderBy("y")
      val f = grid
        .withColumn("cy", sum("nc").over(wY))
        .withColumn("f", sum("cy").over(wXcum))
        .withColumn("f_xm1", coalesce(lag("f", 1).over(wXlag), lit(0L)))
        .withColumn("f_xm1_ym1", coalesce(lag("f_xm1", 1).over(wYlag), lit(0L)))
      val rows0 = base.groupBy("x").agg(count(lit(1)).as("tx"))
      val wXv = Window.orderBy("x") // x-vocabulary frame, bounded
      val arow = rows0.withColumn("a_xm1",
        coalesce(sum("tx").over(wXv.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      val joined = f.join(broadcast(arow.select("x", "a_xm1")), "x")
        .withColumn("cterm", col("nc") * col("f_xm1_ym1"))
        .withColumn("dterm", col("nc") * (col("a_xm1") - col("f_xm1")))
      val cd = joined.agg(sum("cterm").as("c"), sum("dterm").as("d"))
      val n1 = rows0.agg(sum(expr("tx * (tx - 1) div 2")).as("n1"))
      val n2 = base.groupBy("y").agg(count(lit(1)).as("ty"))
        .agg(sum(expr("ty * (ty - 1) div 2")).as("n2"))
      val nn = base.agg(count(lit(1)).as("n"))
      val result = cd.crossJoin(broadcast(n1)).crossJoin(broadcast(n2))
        .crossJoin(broadcast(nn))
        .withColumn("n0", expr("n * (n - 1) div 2"))
        .select(col("n").cast("bigint").as("n_docs"),
          col("c").cast("bigint").as("concordant"),
          col("d").cast("bigint").as("discordant"),
          col("n1").cast("bigint").as("ties_x"),
          col("n2").cast("bigint").as("ties_y"),
          expr("CASE WHEN n0 > n1 AND n0 > n2 THEN " +
            "cast(floor(1000.0 * cast(c - d as double) / " +
            "sqrt(cast(n0 - n1 as double) * cast(n0 - n2 as double))) as bigint) " +
            "ELSE 0 END").as("tau_b_milli"))
      result.orderBy("n_docs")
    },

    // ---- SPEARMAN RANK CORRELATION (Spearman 1904) between document
    // length and lexical diversity (distinct-token count) — the
    // length-vs-TTR confound every length-normalized quality metric
    // (MTLD, root-TTR) exists to correct; measuring it on the corpus
    // is how a curation team decides whether raw TTR is usable as a
    // filter. Tie-aware via DOUBLED midranks over each variable's
    // VALUE VOCABULARY (the q331 machinery — never a per-doc rank
    // window); the Pearson formula on doubled ranks needs n·Σab ≈ 4n⁴
    // — accumulated in DECIMAL(38,0) (q170/q211 discipline), with the
    // final rho as one sqrt+divide+floor on exactly-representable
    // inputs. Shapes: two vocab-bounded rank tables broadcast back
    // onto the doc stream, one power-sum aggregate. ----
    "q334_spearman_len_ttr" -> { (s, d) =>
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars").cast("bigint").as("x"),
          size(tokenSet(col("text"))).cast("bigint").as("y"))
      def rankTab(df: DataFrame, c: String): DataFrame = {
        // global window over the value VOCABULARY (bounded; q330 rule)
        val w = Window.orderBy(col(c))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        df.groupBy(c).agg(count(lit(1)).as("ct"))
          .withColumn("cumt", sum("ct").over(w))
          .select(col(c), (lit(2L) * (col("cumt") - col("ct")) + col("ct") + 1L)
            .as(s"r2_$c"))
      }
      val ranked = base
        .join(rankTab(base, "x"), "x")
        .join(rankTab(base, "y"), "y")
      val sums = ranked.agg(count(lit(1)).as("n"),
        sum("r2_x").as("sa"), sum("r2_y").as("sb"),
        sum(expr("cast(r2_x as decimal(38,0)) * r2_y")).as("sab"),
        sum(expr("cast(r2_x as decimal(38,0)) * r2_x")).as("saa"),
        sum(expr("cast(r2_y as decimal(38,0)) * r2_y")).as("sbb"))
      sums.select(col("n").cast("bigint").as("n_docs"),
        expr("""CAST(floor(1000.0 *
               |  CAST(CAST(n AS DECIMAL(38,0)) * sab - CAST(sa AS DECIMAL(38,0)) * sb AS DOUBLE)
               |  / sqrt(CAST(CAST(n AS DECIMAL(38,0)) * saa - CAST(sa AS DECIMAL(38,0)) * sa AS DOUBLE)
               |       * CAST(CAST(n AS DECIMAL(38,0)) * sbb - CAST(sb AS DECIMAL(38,0)) * sb AS DOUBLE)))
               |AS BIGINT)""".stripMargin).as("rho_milli"))
    },

    // ---- MANN–WHITNEY U (Mann & Whitney 1947) on the q211 experiment
    // assignment: the rank-based A/B test that doesn't assume normal
    // spend (heavy-tailed revenue is exactly where Welch misleads —
    // the two tests ship side by side on the SAME md5 buckets). Exact
    // integers via DOUBLED midranks over the spend-cents value
    // vocabulary: 2r(v) = 2·below(v) + t(v) + 1 (integer even with
    // .5 tie midranks), 2U_A = Σ_v a(v)·2r(v) − n_a(n_a+1); the
    // tie-corrected normal z is the single sqrt+divide+floor on exact
    // int64 inputs (q175 rule). Scale shape: user-grain aggregate →
    // (experiment, cents-value) counts → a cumulative over the VALUE
    // vocabulary (bounded by distinct spend values, parallel per
    // experiment); never a per-user rank window. int64: Σt³ ≤ n³ —
    // exact through ~2M users/arm, DECIMAL(38) internally past that. ----
    "q331_mann_whitney" -> { (s, d) =>
      val assigned = experimentSpend(s, d)
      val byVal = assigned.groupBy("exp_id", "m")
        .agg(sum(when(col("bucket") === 0, 1L).otherwise(0L)).as("ca"),
          count(lit(1)).as("ct"))
      val w = Window.partitionBy("exp_id").orderBy("m")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val ranked = byVal.withColumn("cumt", sum("ct").over(w))
        .withColumn("tr2", lit(2L) * (col("cumt") - col("ct")) + col("ct") + 1L)
      val result = ranked.groupBy("exp_id")
        .agg(sum("ca").as("na"), sum(expr("ct - ca")).as("nb"),
          sum(expr("ca * tr2")).as("r2a"),
          sum(expr("ct * ct * ct - ct")).as("ties"))
        .filter(col("na") > 1 && col("nb") > 1)
        .withColumn("n", col("na") + col("nb"))
        .withColumn("two_u_a", col("r2a") - col("na") * (col("na") + 1L))
        .select(col("exp_id").cast("int").as("exp_id"),
          col("na").cast("bigint").as("na"), col("nb").cast("bigint").as("nb"),
          col("two_u_a").cast("bigint").as("two_u_a"),
          col("ties").cast("bigint").as("tie_term"),
          expr("""CAST(CASE WHEN (n * n * n - n) = ties THEN 0
                 |     ELSE floor(CAST(two_u_a - na * nb AS DOUBLE) * 1000.0
                 |          / (2.0 * sqrt(CAST(na * nb AS DOUBLE)
                 |                        * CAST((n * n * n - n) - ties AS DOUBLE)
                 |                        / CAST(12 * n * (n - 1) AS DOUBLE))))
                 |     END AS BIGINT)""".stripMargin).as("z_milli"))
      result.orderBy("exp_id")
    },

    "q211_welch_ab" -> { (s, d) =>
      val assigned = experimentSpend(s, d)
      val result = assigned.groupBy("exp_id")
        .agg(
          sum(when(col("bucket") === 0, 1L).otherwise(0L)).as("na"),
          sum(when(col("bucket") === 0, col("m")).otherwise(lit(0L))).as("s1a"),
          // Σm² accumulates as DECIMAL(38,0) (q170's discipline): per-user
          // m*m fits int64 (wraps only past ~$30M/user), but the SUM
          // overflows int64 well inside the 100 TB regime — and Spark's
          // non-ANSI bigint sum wraps silently while DuckDB errors.
          // DECIMAL stays internal; outputs remain bigint/double.
          sum(when(col("bucket") === 0, expr("cast(m * m as decimal(38,0))"))
            .otherwise(expr("cast(0 as decimal(38,0))"))).as("s2a"),
          sum(when(col("bucket") === 1, 1L).otherwise(0L)).as("nb"),
          sum(when(col("bucket") === 1, col("m")).otherwise(lit(0L))).as("s1b"),
          sum(when(col("bucket") === 1, expr("cast(m * m as decimal(38,0))"))
            .otherwise(expr("cast(0 as decimal(38,0))"))).as("s2b"))
        .filter(col("na") > 1 && col("nb") > 1)
        .withColumn("mean_diff_q", expr(CleanPack.meanDiffExpr))
        .withColumn("t2_q", expr(CleanPack.welchT2Expr))
        .select(col("exp_id").cast("int").as("exp_id"),
          col("na").cast("bigint").as("na"), col("nb").cast("bigint").as("nb"),
          col("s1a").cast("bigint").as("sum_a_cents"),
          col("s1b").cast("bigint").as("sum_b_cents"),
          col("mean_diff_q"), col("t2_q"))
      result.orderBy("exp_id")
    },

    // ---- t-closeness audit (Li, Li & Venkatasubramanian, ICDE 2007)
    // — the third rung of the privacy ladder after k-anonymity (q182)
    // and l-diversity (q190): how far is each market segment's account-
    // balance DISTRIBUTION from the global one, as the ordered-bins
    // Earth-Mover's Distance EMD = (1/(m−1))·Σ_i |CumP_i − CumQ_i|.
    // Exact int64 by multiplying through both normalizations:
    //   emd_q = (10⁶·Σ_i |cum_g(i)·N − cum_all(i)·n_g|) div (n_g·N·(m−1)).
    // Bins are fixed-width over the exact cents range (global min/max
    // broadcast as one row); the group×bin grid materializes ALL m bins
    // per group (zero bins matter — an absent bin still shifts mass),
    // cumulatives run per group over the m-row bin axis (bounded
    // windows, parallel across groups). int64 bound: cum·N ≤ N² —
    // holds to ~3·10⁹ rows; past that the same grid feeds DECIMAL(38). ----
    "q216_t_closeness" -> { (s, d) =>
      val cust = Tables.customer(s, d)
        .select(col("c_mktsegment").as("seg"),
          expr("cast(cast(c_acctbal as decimal(12,2)) * 100 as bigint)").as("cents"))
      val mm = cust.agg(min("cents").as("mn"), max("cents").as("mx"))
      val binned = cust.crossJoin(broadcast(mm))
        .select(col("seg"),
          expr("((cents - mn) * 10) div (mx - mn + 1)").as("bin"))
        .groupBy("seg", "bin").agg(count(lit(1)).as("c_gb"))
      val segs = binned.groupBy("seg").agg(sum("c_gb").as("n_g"))
      val glob = binned.groupBy("bin").agg(sum("c_gb").as("c_b"))
      val nAll = segs.agg(sum("n_g").as("nn"))
      val grid = segs.crossJoin(broadcast(
          s.range(0, 10).toDF("bin").select(col("bin").cast("bigint").as("bin"))))
        .join(binned, Seq("seg", "bin"), "left_outer")
        .join(broadcast(glob), Seq("bin"), "left_outer")
        .na.fill(0L, Seq("c_gb", "c_b"))
        .crossJoin(broadcast(nAll))
      val wSeg = Window.partitionBy("seg").orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val result = grid
        .withColumn("cum_g", sum("c_gb").over(wSeg))
        .withColumn("cum_all", sum("c_b").over(wSeg))
        .groupBy(col("seg"))
        .agg(max("n_g").as("n_g"), max("nn").as("nn"),
          sum(abs(col("cum_g") * col("nn") - col("cum_all") * col("n_g")))
            .as("raw"))
        .select(col("seg"), col("n_g").cast("bigint").as("n_g"),
          expr("(1000000 * raw) div (n_g * nn * 9)").cast("bigint").as("emd_q"))
      result.orderBy("seg")
    },

    // ---- schema-on-read JSON quarantine: the ingest pattern for a
    // semi-structured feed — parse the props JSON, route unparseable
    // rows to quarantine counts instead of failing the load. The
    // corpus's JSON is all well-formed, so a deterministic corruption
    // lane (event_id % 7 — prefixed to be unambiguously invalid in
    // BOTH parsers) exercises the quarantine path, the q100/q110
    // injection precedent. Valid rows contribute their extracted field
    // to the rollup. Single map stage + one aggregate. ----
    "q181_json_quarantine" -> { (s, d) =>
      val ev = Tables.events(s, d)
        .withColumn("raw",
          when(pmod(col("event_id"), lit(7)) === 0,
            concat(lit("corrupt:"), col("props"))).otherwise(col("props")))
        .withColumn("k",
          from_json(col("raw"), org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("k",
              org.apache.spark.sql.types.LongType)))).getField("k"))
      ev.groupBy("event_type")
        .agg(count(lit(1)).cast("bigint").as("n_rows"),
          sum(when(col("k").isNotNull, 1L).otherwise(0L)).cast("bigint").as("n_valid"),
          sum(when(col("k").isNull, 1L).otherwise(0L)).cast("bigint").as("n_quarantined"),
          coalesce(sum(col("k")), lit(0L)).cast("bigint").as("sum_k"))
        .orderBy("event_type")
    },

    // ---- grouped distribution moments in ONE pass: per-group mean,
    // variance, and skewness derived from exact int64 power sums over
    // cents-quantized values (S1-S3; the sufficient-statistic pattern of
    // q160's OLS). Power sums are LINEAR — they merge across partitions
    // and partial files by addition, so a 100 TB profile is map-side-
    // combined partials, never a second pass (and daily partials
    // re-aggregate like q153's HLL rollup). S1 stays int64 (overflow needs
    // ~1.8e15 rows/group); S2/S3 sums are DECIMAL(38,0) — per-element
    // powers fit int64 but the SUMS overflow int64 near ~3e8 rows/group
    // at cents scale, i.e. below the 100 TB regime this is built for
    // (and Spark's non-ANSI bigint sum would wrap silently while DuckDB
    // errors — a cross-engine divergence, not just a wrong number).
    // S2/S3 are EMITTED as strings (exact at any magnitude): DECIMAL(38,0)
    // is the one output type whose arrow rendering is not canonical across
    // engine versions, and the driver's hash is type-sensitive (r6 judge
    // finding) — registry rule: outputs are BIGINT/DOUBLE/STRING/TIMESTAMP
    // only, DECIMAL stays internal. Derived moments are IEEE doubles from the
    // exact integers with identical formula text in both engines;
    // sqrt() is correctly rounded per IEEE-754 (pow() is NOT, hence
    // var*sqrt(var) instead of var^1.5). ----
    "q170_group_moments" -> { (s, d) =>
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      s.sql("""
        WITH c AS (
          SELECT l_returnflag AS grp,
                 CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT) AS q
          FROM lineitem),
        sums AS (
          SELECT grp, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(q) AS BIGINT) AS s1,
                 CAST(sum(CAST(q * q AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s2,
                 CAST(sum(CAST(q * q * q AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s3
          FROM c GROUP BY grp),
        m AS (
          SELECT *, CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
                 CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) -
                   (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) *
                   (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) AS variance
          FROM sums)
        SELECT grp, n, s1,
               CAST(s2 AS STRING) AS s2, CAST(s3 AS STRING) AS s3,
               mean, variance,
               CASE WHEN variance <= 0.0 THEN 0.0 ELSE
                 (CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE)
                   - 3.0 * mean * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))
                   + 2.0 * mean * mean * mean)
                 / (variance * sqrt(variance)) END AS skewness
        FROM m ORDER BY grp
      """)
    },

    // ---- deterministic Poisson bootstrap (the one-pass uncertainty
    // estimate for massive data — Chamandy et al., Google 2012,
    // "Estimating uncertainty for massive data streams"): 32 bootstrap
    // replicates of the mean tokens-per-document, each doc entering
    // replicate r with weight ~ Poisson(1) — derived NOT from random()
    // but from the doc's own 60-bit md5 id thresholded against
    // floor(CDF_Poisson(1)·2^60) integer constants, so both engines
    // build byte-identical replicates. Scale shape: the token COUNT
    // stream (not the text) explodes ×32 and map-side-combines into 32
    // groups — one scan, constant-size aggregate state, no resampling
    // pass per replicate. The spread of the 32 replicate means IS the
    // sampling distribution of the estimator. ----
    "q167_bootstrap_ci" -> { (s, d) =>
      // warmed: both the overall-mean branch and the 32x-exploded
      // replicate branch scan the token counts — without the cache the
      // corpus tokenizes twice (no shared Exchange for ReuseExchange)
      val nt = warmed(Tables.documents(s, d)
        .select(col("doc_id"), size(tokens(col("text"))).cast("bigint").as("n_tok")))
      val overall = nt.agg(
        (sum(col("n_tok")).cast("double") / count(lit(1)).cast("double"))
          .as("overall_mean"))
      val weighted = nt
        .select(col("doc_id"), col("n_tok"),
          explode(sequence(lit(0), lit(31))).as("r"))
        .withColumn("h", hex64(md5(concat(
          col("doc_id").cast("string"), lit(":"), col("r").cast("string")))))
        .withColumn("w",
          when(col("h") < poissonCdf60(0), 0L)
            .when(col("h") < poissonCdf60(1), 1L)
            .when(col("h") < poissonCdf60(2), 2L)
            .when(col("h") < poissonCdf60(3), 3L)
            .when(col("h") < poissonCdf60(4), 4L)
            .when(col("h") < poissonCdf60(5), 5L)
            .otherwise(6L))
      val result = weighted
        .groupBy("r")
        .agg(sum(col("w")).as("n_eff"),
          sum(col("w") * col("n_tok")).as("sum_tok"))
        .withColumn("mean_tok",
          col("sum_tok").cast("double") / col("n_eff").cast("double"))
        .crossJoin(broadcast(overall))
        .select(col("r").cast("int").as("r"), col("n_eff"), col("sum_tok"),
          col("mean_tok"), col("overall_mean"))
      materialized(result, nt).orderBy("r")
    },

    // ---- k-anonymity audit with a generalization ladder (Sweeney,
    // IJUFKS 2002): how many quasi-identifier equivalence classes have
    // k < 5 members, at three generalization levels (full QI → drop the
    // balance bucket → segment only). The governance gate a dataset
    // passes before release: every level is ONE partial-aggregating
    // groupBy over the QI columns followed by a 6-number summary, so the
    // audit cost is a single shuffle of class keys regardless of row
    // count. ----
    "q182_kanonymity" -> { (s, d) =>
      val base = warmed(Tables.table(s, d, "customer")
        .select(col("c_nationkey"), col("c_mktsegment"),
          // exact cents via decimal, shifted positive so integral
          // division has no sign edge (acctbal ≥ -999.99)
          expr("(cast(cast(c_acctbal as decimal(12,2)) * 100 as bigint) + 100000) div 100000")
            .as("bal_bucket")))
      def level(lv: Int, qi: Seq[String]): DataFrame =
        base.groupBy(qi.map(col): _*).agg(count(lit(1)).as("k"))
          .agg(count(lit(1)).cast("bigint").as("n_classes"),
            sum(when(col("k") < 5, 1L).otherwise(0L)).cast("bigint").as("n_risky"),
            sum(when(col("k") < 5, col("k")).otherwise(0L)).cast("bigint").as("rows_at_risk"),
            min("k").cast("bigint").as("min_k"),
            max("k").cast("bigint").as("max_k"))
          .select(lit(lv).cast("int").as("level"), col("n_classes"),
            col("n_risky"), col("rows_at_risk"), col("min_k"), col("max_k"))
      val result = level(0, Seq("c_nationkey", "c_mktsegment", "bal_bucket"))
        .unionAll(level(1, Seq("c_nationkey", "c_mktsegment")))
        .unionAll(level(2, Seq("c_mktsegment")))
      materialized(result, base).orderBy("level")
    },

    // ---- l-diversity audit (Machanavajjhala et al., ICDE 2006 — the
    // k-anonymity successor): a QI class can be large (k-anonymous) yet
    // leak the sensitive attribute if every member SHARES it. Per
    // (nationkey, mktsegment) class: size k, distinct sensitive values
    // l (the q182 balance bucket as the sensitive attribute), and the
    // l < 3 flag. One groupBy with a single-column distinct aggregate —
    // partial aggregation collapses (class, value) pairs first, so the
    // shuffle carries ≤ classes × buckets rows. ----
    "q190_ldiversity" -> { (s, d) =>
      Tables.table(s, d, "customer")
        .select(col("c_nationkey"), col("c_mktsegment"),
          expr("(cast(cast(c_acctbal as decimal(12,2)) * 100 as bigint) + 100000) div 100000")
            .as("bal_bucket"))
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(count(lit(1)).cast("bigint").as("k"),
          countDistinct(col("bal_bucket")).cast("bigint").as("l"))
        .withColumn("weak", (col("l") < 3).cast("int"))
        .orderBy("c_nationkey", "c_mktsegment")
    },

    // ---- Unicode NFC normalization via the native [[graft.functions
    // .NfcNormalize]] codegen expression — the canonical first transform
    // of a text-cleaning pipeline (one byte sequence per glyph, so
    // hashing and dedup see "é" and "e"+U+0301 as equal). The corpus is
    // ASCII (see QueryPack scaladoc), so the decomposed sequences are
    // CONSTRUCTED deterministically per doc: a combining-acute suffix
    // that NFC must compose, plus the precomposed form it must equal
    // afterwards. Map-only stage; both engines hash the normalized
    // bytes. ----
    "q183_nfc_normalize" -> { (s, d) =>
      graft.functions.GraftExpressions.ensure(s)
      Tables.documents(s, d)
        .select(col("doc_id"),
          // "Cafe" + U+0301 COMBINING ACUTE (decomposed) vs precomposed U+00E9
          // — NFC must map the former onto the latter
          concat(substring(col("text"), 1, 64), lit(" Cafe\u0301")).as("deco"),
          concat(substring(col("text"), 1, 64), lit(" Caf\u00e9")).as("compo"))
        .select(col("doc_id"),
          length(col("deco")).cast("bigint").as("n_dec"),
          length(graft.functions.GraftExpressions.nfc(col("deco")))
            .cast("bigint").as("n_nfc"),
          (graft.functions.GraftExpressions.nfc(col("deco")) =!= col("deco"))
            .cast("int").as("changed"),
          (graft.functions.GraftExpressions.nfc(col("deco")) === col("compo"))
            .cast("int").as("composed_eq"),
          md5(graft.functions.GraftExpressions.nfc(col("deco"))).as("nfc_md5"))
        .orderBy("doc_id")
    },

    // ---- transposition-aware edit distance via the native
    // [[graft.functions.DamerauLevenshtein]] codegen expression
    // (full Lowrance–Wagner DL, validated exactly against DuckDB's
    // damerau_levenshtein on 2000 random pairs): corrupt each customer
    // name with an adjacent swap at a key-derived position (plus a
    // deletion for every third key) and score both metrics. Swapped
    // letters are the dominant human-typo class; DL prices them 1 where
    // plain Levenshtein says 2 — the `gain` column is that correction,
    // row by row. Map-only stage (the linkage JOIN shape is q113/q168's
    // territory; this gates the kernel itself). ----
    "q184_dl_metric" -> { (s, d) =>
      graft.functions.GraftExpressions.ensure(s)
      val result = Tables.table(s, d, "customer")
        .select(col("c_custkey"), col("c_name"))
        .withColumn("p", expr("cast(10 + c_custkey % 7 as int)"))
        .withColumn("swapped",
          expr("concat(substr(c_name, 1, p - 1), substr(c_name, p + 1, 1), " +
            "substr(c_name, p, 1), substr(c_name, p + 2))"))
        .withColumn("dirty",
          expr("CASE WHEN c_custkey % 3 = 0 " +
            "THEN concat(substr(swapped, 1, 4), substr(swapped, 6)) " +
            "ELSE swapped END"))
        .select(col("c_custkey"), col("dirty"),
          levenshtein(col("c_name"), col("dirty")).cast("bigint").as("lev"),
          graft.functions.GraftExpressions
            .damerauLevenshtein(col("c_name"), col("dirty"))
            .cast("bigint").as("dl"))
        .withColumn("gain", (col("lev") - col("dl")).cast("bigint"))
      result.orderBy("c_custkey")
    },

    // ---- JARO–WINKLER SIMILARITY kernel gate (Jaro 1989; Winkler
    // 1990): the prefix-weighted linkage metric next to q184's
    // Damerau–Levenshtein — JW rewards shared prefixes (human-keyed
    // identifiers corrupt at the tail far more often than the head),
    // DL prices raw edits; production matchers threshold both. The
    // native [[graft.functions.JaroWinklerMilli]] computes the whole
    // metric in EXACT integer arithmetic (rational Jaro, integer boost
    // test, half-up ×1000 rounding — no float ever formed) inside
    // whole-stage codegen; DuckDB's independent double-valued
    // jaro_winkler_similarity is the oracle, so two implementations of
    // the published algorithm must agree on every pair. Two lanes:
    // each corrupted name against its own clean mate (high JW) and
    // against the NEXT key's clean name (the serial-number near-miss
    // that separates the metrics). Map-only stage. ----
    "q390_jw_metric" -> { (s, d) =>
      graft.functions.GraftExpressions.ensure(s)
      val c = Tables.table(s, d, "customer").select(col("c_custkey"), col("c_name"))
      val dirty = c
        .withColumn("p", expr("cast(10 + c_custkey % 7 as int)"))
        .withColumn("swapped",
          expr("concat(substr(c_name, 1, p - 1), substr(c_name, p + 1, 1), " +
            "substr(c_name, p, 1), substr(c_name, p + 2))"))
        .select(col("c_custkey"),
          expr("CASE WHEN c_custkey % 3 = 0 " +
            "THEN concat(substr(swapped, 1, 4), substr(swapped, 6)) " +
            "ELSE swapped END").as("dirty"))
      val own = c.join(dirty, "c_custkey").withColumn("lane", lit("own"))
      val nxt = c.select((col("c_custkey") - 1).as("c_custkey"), col("c_name"))
        .join(dirty, "c_custkey").withColumn("lane", lit("next"))
      // Corpus-precondition REQUIRE (enforced, not just documented):
      // the exact-integer kernel and DuckDB's double-valued oracle can
      // only disagree on a pair whose exact similarity sits within
      // double rounding error (~1e-12 milli ≈ 0.001 ppb) of a
      // half-milli boundary. Aggregate the corpus MINIMUM boundary
      // distance and fail loudly if any pair comes within 10 ppb —
      // a new name corpus that straddles a boundary turns into a
      // clear gate error instead of a mysterious hash flake.
      locally {
        val minGap = own.unionByName(nxt)
          .agg(min(graft.functions.GraftExpressions
            .jaroWinklerBoundaryGapPpb(col("c_name"), col("dirty"))).as("g"))
          .head.getLong(0)
        require(minGap >= 10L,
          s"q390 corpus precondition violated: a name pair's exact Jaro-Winkler " +
            s"sits $minGap ppb from a half-milli rounding boundary - the " +
            "double-valued oracle may round it differently")
      }
      val result = own.unionByName(nxt)
        .select(col("c_custkey"), col("lane"),
          graft.functions.GraftExpressions
            .damerauLevenshtein(col("c_name"), col("dirty"))
            .cast("bigint").as("dl"),
          graft.functions.GraftExpressions
            .jaroWinklerMilli(col("c_name"), col("dirty"))
            .cast("bigint").as("jw_milli"))
      result.orderBy("c_custkey", "lane")
    },

    // ---- FELLEGI–SUNTER m/u WEIGHT ESTIMATION (Fellegi & Sunter 1969,
    // JASA 64): the probabilistic-linkage table behind every production
    // record matcher — per comparison field, P(agree | match) from
    // labeled matched pairs and P(agree | nonmatch) from a random-pair
    // sample, and the field's log-odds match weight as their ratio.
    // File B is a deterministic corruption of customer (q184's
    // adjacent-swap + every-3rd deletion, plus every-11th total name
    // replacement, every-5th nation shift, every-7th segment suffix) so
    // ground truth is the shared key. Agreement predicates are EXACT
    // integers cross-engine: Damerau–Levenshtein <= 2 for names (the
    // codegen native; no float similarity near a threshold), equality
    // for nation/segment. The nonmatch sample is the scale-safe part:
    // instead of all-pairs-in-block, pair records whose independent
    // salted 60-bit md5 hashes collide mod n (one-row count frame
    // broadcast to both sides) — an equi-join on ~n buckets of ~1 row
    // each, expected ~n sampled pairs at ANY corpus size, never n².
    // Ratios are integer ppm; the weight is m_ppm*1000 div u_ppm
    // (guarded: -1 when the u-sample never agrees). ----
    "q401_fellegi_sunter" -> { (s, d) =>
      graft.functions.GraftExpressions.ensure(s)
      val a = Tables.customer(s, d).select(col("c_custkey").as("k"),
        col("c_name").as("name"), col("c_nationkey").cast("int").as("nat"),
        col("c_mktsegment").as("seg"))
      val b = a
        .withColumn("p", expr("cast(10 + k % 7 as int)"))
        .withColumn("swapped",
          expr("concat(substr(name, 1, p - 1), substr(name, p + 1, 1), " +
            "substr(name, p, 1), substr(name, p + 2))"))
        .select(col("k"),
          expr("CASE WHEN k % 11 = 0 THEN 'ANONYMOUS' " +
            "WHEN k % 3 = 0 THEN concat(substr(swapped, 1, 4), substr(swapped, 6)) " +
            "ELSE swapped END").as("name_d"),
          expr("CAST(CASE WHEN k % 5 = 0 THEN (nat + 7) % 25 ELSE nat END AS INT)")
            .as("nat_d"),
          expr("CASE WHEN k % 7 = 0 THEN concat(seg, 'X') ELSE seg END").as("seg_d"))
      val nn = a.agg(count(lit(1)).as("r"))
      val m = a.join(b, "k")
      val ua = a.crossJoin(broadcast(nn)).withColumn("hu",
        graft.functions.TextFunctions.hex64(
          md5(concat(lit("fsu:"), col("k").cast("string")))) % col("r")).drop("r")
      val ub = b.crossJoin(broadcast(nn)).withColumn("hv",
        graft.functions.TextFunctions.hex64(
          md5(concat(lit("fsv:"), col("k").cast("string")))) % col("r")).drop("r")
      val u = ua.join(ub.withColumnRenamed("k", "k2"),
        col("hu") === col("hv") && col("k") =!= col("k2"))
      def stats(df: DataFrame) = df.agg(
        count(lit(1)).as("n"),
        sum(when(graft.functions.GraftExpressions
          .damerauLevenshtein(col("name"), col("name_d")) <= 2, 1L)
          .otherwise(0L)).as("name_c"),
        sum(when(col("nat") === col("nat_d"), 1L).otherwise(0L)).as("nat_c"),
        sum(when(col("seg") === col("seg_d"), 1L).otherwise(0L)).as("seg_c"))
      val msf = stats(m).select(col("n").as("n_m"), col("name_c").as("m_name"),
        col("nat_c").as("m_nat"), col("seg_c").as("m_seg"))
      val usf = stats(u).select(col("n").as("n_u"), col("name_c").as("u_name"),
        col("nat_c").as("u_nat"), col("seg_c").as("u_seg"))
      val result = msf.crossJoin(usf)
        .selectExpr(
          "stack(3, 'name', m_name, u_name, 'nation', m_nat, u_nat, " +
            "'segment', m_seg, u_seg) as (field, m_cnt, u_cnt)",
          "n_m", "n_u")
        .select(col("field"), col("m_cnt").cast("bigint").as("m_cnt"),
          col("n_m").cast("bigint").as("n_m"),
          col("u_cnt").cast("bigint").as("u_cnt"),
          col("n_u").cast("bigint").as("n_u"))
        // degenerate-sample guard (r9 ADVICE): if the salted-hash
        // bucket join yields ZERO sampled nonmatch pairs (possible on
        // a tiny corpus), an unguarded division is NULL on Spark but
        // an ERROR on DuckDB — guard BOTH ppm ratios in both engines
        // so the engines fail soft identically.
        .withColumn("m_ppm",
          expr("CASE WHEN n_m > 0 THEN (m_cnt * 1000000) div n_m ELSE 0 END"))
        .withColumn("u_ppm",
          expr("CASE WHEN n_u > 0 THEN (u_cnt * 1000000) div n_u ELSE 0 END"))
        .withColumn("weight_milli",
          expr("CASE WHEN u_ppm > 0 THEN (m_ppm * 1000) div u_ppm ELSE -1 END"))
      result.orderBy("field")
    }
  )

  /** floor(CDF_Poisson(λ=1)(k) · 2^60) for k = 0..5 — the integer
    * thresholds the bootstrap weights compare 60-bit hashes against
    * (identical literals in the DuckDB oracle). */
  private[operators] val poissonCdf60: Array[Long] = Array(
    424136118829305344L, 848272237658610688L, 1060340297073263360L,
    1131029650211480832L, 1148701988496035200L, 1152236456152946048L)

  override def oracle: Map[String, String] = Map(

    // one scalar-subquery pair per FK edge; anti-join as IS NULL
    "q142_fk_audit" ->
      """SELECT * FROM (
        |  SELECT 'customer.nationkey' AS relationship,
        |    (SELECT CAST(count(*) AS BIGINT) FROM customer) AS n_child,
        |    (SELECT CAST(count(*) AS BIGINT) FROM customer c LEFT JOIN nation n ON n.n_nationkey = c.c_nationkey WHERE n.n_nationkey IS NULL) AS n_orphans
        |  UNION ALL
        |  SELECT 'events.user_id',
        |    (SELECT CAST(count(*) AS BIGINT) FROM events),
        |    (SELECT CAST(count(*) AS BIGINT) FROM events e LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c ON c.c_custkey = e.user_id WHERE c.c_custkey IS NULL)
        |  UNION ALL
        |  SELECT 'lineitem.orderkey',
        |    (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
        |    (SELECT CAST(count(*) AS BIGINT) FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o ON o.o_orderkey = l.l_orderkey WHERE o.o_orderkey IS NULL)
        |  UNION ALL
        |  SELECT 'orders.custkey',
        |    (SELECT CAST(count(*) AS BIGINT) FROM orders),
        |    (SELECT CAST(count(*) AS BIGINT) FROM orders o LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c ON c.c_custkey = o.o_custkey WHERE c.c_custkey IS NULL)
        |  UNION ALL
        |  SELECT 'supplier.nationkey',
        |    (SELECT CAST(count(*) AS BIGINT) FROM supplier),
        |    (SELECT CAST(count(*) AS BIGINT) FROM supplier s LEFT JOIN nation n ON n.n_nationkey = s.s_nationkey WHERE n.n_nationkey IS NULL)
        |) t
        |ORDER BY relationship""".stripMargin,

    // same version simulation, same md5 compare, same status precedence
    "q143_corpus_diff" ->
      s"""WITH d0 AS (
        |  SELECT *, ${hex64Sql("md5(CAST(doc_id AS VARCHAR))")} % 10 AS vb
        |  FROM documents),
        |v1 AS (
        |  SELECT doc_id, source, md5(text) AS h1 FROM d0 WHERE vb <> 9),
        |v2 AS (
        |  SELECT doc_id, source AS source2,
        |         md5(CASE WHEN vb = 7 THEN text || ' rev2' ELSE text END) AS h2
        |  FROM d0 WHERE vb <> 3),
        |j AS (
        |  SELECT COALESCE(v1.source, v2.source2) AS source,
        |         CASE WHEN v1.h1 IS NULL THEN 'added'
        |              WHEN v2.h2 IS NULL THEN 'removed'
        |              WHEN v1.h1 <> v2.h2 THEN 'modified'
        |              ELSE 'unchanged' END AS status
        |  FROM v1 FULL OUTER JOIN v2 USING (doc_id))
        |SELECT source, status, CAST(count(*) AS BIGINT) AS n_docs
        |FROM j
        |GROUP BY source, status
        |ORDER BY source, status""".stripMargin,
    "q110_pii_redact" ->
      s"""WITH inj AS (
         |  SELECT doc_id,
         |    CASE doc_id % 3
         |      WHEN 0 THEN text || ' contact user' || doc_id || '@example.com now'
         |      WHEN 1 THEN text || ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' today'
         |      ELSE text || ' from 10.' || doc_id % 200 || '.' || doc_id % 250 || '.' || doc_id % 97 || ' logged'
         |    END AS t FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(t, '$emailPat')) AS BIGINT) AS n_email,
         |  CAST(len(regexp_extract_all(t, '$phonePat')) AS BIGINT) AS n_phone,
         |  CAST(len(regexp_extract_all(t, '$ipPat')) AS BIGINT) AS n_ip,
         |  md5(regexp_replace(regexp_replace(regexp_replace(t,
         |      '$emailPat', '<EMAIL>', 'g'),
         |      '$phonePat', '<PHONE>', 'g'),
         |      '$ipPat', '<IP>', 'g')) AS redacted_md5
         |FROM inj
         |ORDER BY doc_id""".stripMargin,

    "q111_char_entropy" ->
      s"""WITH cc AS (
         |  SELECT doc_id, ch, CAST(count(*) AS BIGINT) AS c
         |  FROM (SELECT doc_id, unnest(regexp_extract_all(text, '[\\s\\S]')) AS ch
         |        FROM documents)
         |  GROUP BY 1, 2),
         |e AS (
         |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n,
         |         CAST(count(*) AS BIGINT) AS n_classes,
         |         CAST(SUM(c * CAST(floor(ln(CAST(c AS DOUBLE)) * 1e6) AS BIGINT)) AS BIGINT) AS sclnc
         |  FROM cc GROUP BY 1)
         |SELECT doc_id, n AS n_chars, n_classes,
         |       n * CAST(floor(ln(CAST(n AS DOUBLE)) * 1e6) AS BIGINT) - sclnc AS ent_q,
         |       (n * CAST(floor(ln(CAST(n AS DOUBLE)) * 1e6) AS BIGINT) - sclnc
         |          BETWEEN n * $entLo AND n * $entHi) AS keep
         |FROM e
         |ORDER BY doc_id""".stripMargin,

    // same per-term ln quantization, same scaled numerators
    "q299_theil_decomposition" ->
      """WITH docs AS (
        |  SELECT source, CAST(n_chars AS BIGINT) AS x
        |  FROM documents WHERE n_chars > 0),
        |src AS (SELECT source, CAST(count(*) AS BIGINT) AS n_s, CAST(sum(x) AS BIGINT) AS xs
        |        FROM docs GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_s) AS BIGINT) AS nn, CAST(sum(xs) AS BIGINT) AS xx FROM src),
        |w AS (
        |  SELECT d.source,
        |         CAST(sum(d.x * (CAST(floor(ln(CAST(d.x AS DOUBLE)) * 1e6) AS BIGINT)
        |                       + CAST(floor(ln(CAST(s.n_s AS DOUBLE)) * 1e6) AS BIGINT)
        |                       - CAST(floor(ln(CAST(s.xs AS DOUBLE)) * 1e6) AS BIGINT))) AS BIGINT) AS within_q
        |  FROM docs d JOIN src s USING (source)
        |  GROUP BY 1)
        |SELECT s.source, s.n_s AS n_docs, s.xs AS sum_chars, w.within_q,
        |       CAST(s.xs * (CAST(floor(ln(CAST(s.xs * t.nn AS DOUBLE)) * 1e6) AS BIGINT)
        |                  - CAST(floor(ln(CAST(t.xx * s.n_s AS DOUBLE)) * 1e6) AS BIGINT)) AS BIGINT) AS between_q
        |FROM src s JOIN w USING (source) CROSS JOIN tot t
        |ORDER BY source""".stripMargin,

    "q112_source_kl" ->
      s"""WITH tok AS (
        |  SELECT source, unnest(${tokensSql("text")}) AS w
        |  FROM documents),
        |sw AS (SELECT source, w, CAST(count(*) AS BIGINT) AS c_sw FROM tok GROUP BY 1, 2),
        |st AS (SELECT source, CAST(SUM(c_sw) AS BIGINT) AS n_s FROM sw GROUP BY 1),
        |cw AS (SELECT w, CAST(SUM(c_sw) AS BIGINT) AS c_w FROM sw GROUP BY 1),
        |tot AS (SELECT CAST(SUM(c_w) AS BIGINT) AS n FROM cw)
        |SELECT sw.source, max(st.n_s) AS n_tokens,
        |       CAST(SUM(c_sw * (CAST(floor(ln(CAST(c_sw AS DOUBLE)) * 1e6) AS BIGINT)
        |                      - CAST(floor(ln(CAST(n_s AS DOUBLE)) * 1e6) AS BIGINT)
        |                      - CAST(floor(ln(CAST(c_w AS DOUBLE)) * 1e6) AS BIGINT)
        |                      + CAST(floor(ln(CAST(n AS DOUBLE)) * 1e6) AS BIGINT))) AS BIGINT) AS kl_q
        |FROM sw JOIN st USING (source) JOIN cw USING (w) CROSS JOIN tot
        |GROUP BY 1
        |ORDER BY source""".stripMargin,

    // same margins-cross-join cell table (zero cells included), same
    // int64 (N·o − r·c)² numerator and the identical one-division
    // double expression floor-quantized per cell
    "q206_chi2_independence" ->
      """WITH obs AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS o
        |             FROM documents GROUP BY 1, 2),
        |rl AS (SELECT lang, CAST(sum(o) AS BIGINT) AS r FROM obs GROUP BY 1),
        |cs AS (SELECT source, CAST(sum(o) AS BIGINT) AS c FROM obs GROUP BY 1),
        |tot AS (SELECT CAST(sum(o) AS BIGINT) AS nn FROM obs),
        |nl AS (SELECT CAST(count(*) AS BIGINT) AS n_langs FROM rl),
        |ns AS (SELECT CAST(count(*) AS BIGINT) AS n_sources FROM cs),
        |cells AS (
        |  SELECT rl.lang, cs.source, rl.r, cs.c, COALESCE(obs.o, 0) AS o, tot.nn
        |  FROM rl CROSS JOIN cs
        |  LEFT JOIN obs ON obs.lang = rl.lang AND obs.source = cs.source
        |  CROSS JOIN tot),
        |terms AS (
        |  SELECT CAST(floor(CAST(nn * o - r * c AS DOUBLE) * CAST(nn * o - r * c AS DOUBLE) * 1e6
        |                    / CAST(nn * r * c AS DOUBLE)) AS BIGINT) AS term_q,
        |         nn
        |  FROM cells)
        |SELECT CAST(sum(term_q) AS BIGINT) AS chi2_q,
        |       CAST(max((n_langs - 1) * (n_sources - 1)) AS BIGINT) AS dof,
        |       CAST(count(*) AS BIGINT) AS n_cells,
        |       CAST(max(nn) AS BIGINT) AS n_docs
        |FROM terms CROSS JOIN nl CROSS JOIN ns
        |ORDER BY chi2_q""".stripMargin,

    "q115_mad_outliers" ->
      """WITH c AS (
        |  SELECT c_nationkey, c_custkey,
        |         CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        |  FROM customer),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY c_nationkey ORDER BY cents, c_custkey) AS rn,
        |         count(*) OVER (PARTITION BY c_nationkey) AS cnt
        |  FROM c),
        |m AS (
        |  SELECT c_nationkey,
        |         CAST(SUM(CASE WHEN rn = (cnt + 1) // 2 OR rn = (cnt + 2) // 2 THEN cents END)
        |              * (max(cnt) % 2 + 1) AS BIGINT) AS med2
        |  FROM r GROUP BY c_nationkey),
        |dev AS (
        |  SELECT c.c_nationkey, c.c_custkey, c.cents, m.med2,
        |         abs(2 * c.cents - m.med2) AS dev2
        |  FROM c JOIN m ON c.c_nationkey = m.c_nationkey),
        |r2 AS (
        |  SELECT *, row_number() OVER (PARTITION BY c_nationkey ORDER BY dev2, c_custkey) AS rn,
        |         count(*) OVER (PARTITION BY c_nationkey) AS cnt
        |  FROM dev),
        |m2 AS (
        |  SELECT c_nationkey,
        |         CAST(SUM(CASE WHEN rn = (cnt + 1) // 2 OR rn = (cnt + 2) // 2 THEN dev2 END)
        |              * (max(cnt) % 2 + 1) AS BIGINT) AS mad2
        |  FROM r2 GROUP BY c_nationkey)
        |SELECT dev.c_nationkey, dev.c_custkey, dev.cents, dev.med2, dev.dev2, m2.mad2,
        |       (2 * dev.dev2 > 3 * m2.mad2) AS is_outlier
        |FROM dev JOIN m2 ON dev.c_nationkey = m2.c_nationkey
        |ORDER BY dev.c_nationkey, dev.c_custkey""".stripMargin,

    "q113_fuzzy_match" ->
      """WITH clean AS (SELECT c_custkey, c_name FROM customer),
        |dirty AS (
        |  SELECT c_custkey AS dirty_key,
        |         substr(c_name, 1, CAST(9 + c_custkey % 8 AS INT)) ||
        |         substr(c_name, CAST(11 + c_custkey % 8 AS INT)) AS dirty_name
        |  FROM customer),
        |var AS (
        |  SELECT c_custkey, c_name,
        |         unnest(list_transform(generate_series(1, length(c_name)),
        |                i -> substr(c_name, 1, i - 1) || substr(c_name, i + 1))) AS variant
        |  FROM clean),
        |cand AS (
        |  SELECT DISTINCT d.dirty_key, d.dirty_name, v.c_custkey, v.c_name
        |  FROM var v JOIN dirty d ON v.variant = d.dirty_name)
        |SELECT dirty_key, dirty_name, c_custkey AS matched_key,
        |       c_name AS matched_name,
        |       CAST(levenshtein(c_name, dirty_name) AS BIGINT) AS lev
        |FROM cand
        |WHERE levenshtein(c_name, dirty_name) <= 1
        |QUALIFY row_number() OVER (PARTITION BY dirty_key
        |                           ORDER BY lev, matched_key) = 1
        |ORDER BY dirty_key""".stripMargin,

    // identical md5 buckets and integer chi-square
    "q180_ab_srm_check" ->
      s"""WITH a AS (
        |  SELECT c_custkey, g.e AS exp_id,
        |         ${hex64Sql("md5('exp' || CAST(g.e AS VARCHAR) || ':' || CAST(c_custkey AS VARCHAR))")} AS h
        |  FROM customer, UNNEST(generate_series(1, 3)) AS g(e)),
        |b AS (
        |  SELECT exp_id,
        |         CASE WHEN exp_id < 3 THEN h % 2
        |              ELSE CASE WHEN h % 100 < 45 THEN 0 ELSE 1 END END AS bucket
        |  FROM a),
        |c AS (
        |  SELECT exp_id, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(CASE WHEN bucket = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |         CAST(sum(CASE WHEN bucket = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
        |  FROM b GROUP BY exp_id)
        |SELECT CAST(exp_id AS INT) AS exp_id, n, n_a, n_b,
        |       CAST(((n_a - n_b) * (n_a - n_b) * 1000000) // n AS BIGINT) AS chi2_micro,
        |       ((n_a - n_b) * (n_a - n_b) * 1000000) // n > 3841459 AS srm_flag
        |FROM c ORDER BY exp_id""".stripMargin,

    // same md5 assignment and power sums (Σm² as internal
    // DECIMAL(38,0), q170's discipline); the t² expression is
    // the SAME string Spark evaluates (welchT2Expr/meanDiffExpr)
    // same vocabulary medians, integer |x−med| moments, per-source
    // floor-quantized F terms, identical final double ratio
    "q350_brown_forsythe" ->
      """WITH docs AS (SELECT source, CAST(n_chars AS BIGINT) AS x FROM documents),
        |cnt AS (SELECT source, x, CAST(count(*) AS BIGINT) AS ct FROM docs GROUP BY 1, 2),
        |cum AS (SELECT source, x,
        |               CAST(SUM(ct) OVER (PARTITION BY source ORDER BY x
        |                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |        FROM cnt),
        |ns AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM docs GROUP BY 1),
        |med AS (SELECT c.source, CAST(MIN(c.x) AS BIGINT) AS med
        |        FROM cum c JOIN ns USING (source)
        |        WHERE c.cum * 2 >= ns.n GROUP BY c.source),
        |per AS (SELECT d.source, CAST(MAX(m.med) AS BIGINT) AS med,
        |               CAST(count(*) AS BIGINT) AS n,
        |               CAST(SUM(abs(d.x - m.med)) AS BIGINT) AS sz,
        |               CAST(SUM(abs(d.x - m.med) * abs(d.x - m.med)) AS BIGINT) AS qz
        |        FROM docs d JOIN med m USING (source) GROUP BY d.source),
        |gl AS (SELECT CAST(SUM(n) AS BIGINT) AS nn, CAST(SUM(sz) AS BIGINT) AS ss,
        |                CAST(count(*) AS BIGINT) AS k FROM per),
        |terms AS (
        |  SELECT p.source, p.med, p.n, p.sz, p.qz, g.nn, g.k,
        |         CAST(floor(CAST(p.n AS DOUBLE)
        |              * (CAST(p.sz AS DOUBLE) / CAST(p.n AS DOUBLE) - CAST(g.ss AS DOUBLE) / CAST(g.nn AS DOUBLE))
        |              * (CAST(p.sz AS DOUBLE) / CAST(p.n AS DOUBLE) - CAST(g.ss AS DOUBLE) / CAST(g.nn AS DOUBLE)))
        |              AS BIGINT) AS bf_term_q,
        |         CAST(floor(CAST(p.qz AS DOUBLE)
        |              - CAST(p.sz AS DOUBLE) * CAST(p.sz AS DOUBLE) / CAST(p.n AS DOUBLE)) AS BIGINT) AS within_term_q
        |  FROM per p CROSS JOIN gl g),
        |fs AS (SELECT CAST(SUM(bf_term_q) AS BIGINT) AS sb,
        |              CAST(SUM(within_term_q) AS BIGINT) AS sw,
        |              CAST(MAX(nn) AS BIGINT) AS nn, CAST(MAX(k) AS BIGINT) AS k
        |       FROM terms)
        |SELECT t.source, t.n AS n_docs, t.med AS median_len, t.sz AS sum_absdev,
        |       t.bf_term_q, t.within_term_q,
        |       CAST(CASE WHEN f.sw = 0 THEN 0
        |            ELSE floor(1000.0 * CAST((f.nn - f.k) AS DOUBLE) * CAST(f.sb AS DOUBLE)
        |                 / (CAST((f.k - 1) AS DOUBLE) * CAST(f.sw AS DOUBLE)))
        |            END AS BIGINT) AS f_milli
        |FROM terms t CROSS JOIN fs f
        |ORDER BY t.source""".stripMargin,

    // same integer moments, single sqrt, ×10³ per-stratum quantization
    // before the integer share division
    "q346_neyman_allocation" ->
      """WITH mom AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n,
        |         CAST(SUM(x) AS BIGINT) AS s1, CAST(SUM(x * x) AS BIGINT) AS s2
        |  FROM (SELECT source, CAST(n_chars AS BIGINT) AS x FROM documents)
        |  GROUP BY source HAVING count(*) >= 2),
        |wq AS (
        |  SELECT source, n,
        |         CAST(floor(CAST(n AS DOUBLE)
        |              * sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)
        |                     / CAST(n * (n - 1) AS DOUBLE)) * 1e3) AS BIGINT) AS aq
        |  FROM mom),
        |tot AS (SELECT CAST(SUM(aq) AS BIGINT) AS ta, CAST(SUM(n) AS BIGINT) AS tn FROM wq)
        |SELECT w.source, w.n AS n_docs, w.aq AS neyman_weight_q,
        |       CAST((w.aq * 1000000) // t.ta AS BIGINT) AS neyman_ppm,
        |       CAST((w.n * 1000000) // t.tn AS BIGINT) AS proportional_ppm,
        |       CAST((w.aq * 1000000) // t.ta - (w.n * 1000000) // t.tn AS BIGINT) AS delta_ppm
        |FROM wq w CROSS JOIN tot t
        |ORDER BY source""".stripMargin,

    // same length-vocabulary CDF grid, exact count-product sup norm,
    // identical one-sqrt critical value
    "q330_ks_statistic" ->
      """WITH cnt AS (
        |  SELECT source, n_chars, CAST(count(*) AS BIGINT) AS c
        |  FROM documents GROUP BY 1, 2),
        |grid AS (SELECT DISTINCT n_chars FROM cnt),
        |srcn AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM cnt GROUP BY 1),
        |full0 AS (
        |  SELECT s.source, s.n, g.n_chars, COALESCE(c.c, 0) AS c
        |  FROM srcn s CROSS JOIN grid g
        |  LEFT JOIN cnt c ON c.source = s.source AND c.n_chars = g.n_chars),
        |cum AS (
        |  SELECT source, n, n_chars,
        |         CAST(SUM(c) OVER (PARTITION BY source ORDER BY n_chars
        |                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM full0),
        |pd AS (
        |  SELECT a.source AS source_a, b.source AS source_b, a.n AS n_a, b.n AS n_b,
        |         abs(a.cum * b.n - b.cum * a.n) AS dnum
        |  FROM cum a JOIN cum b ON a.n_chars = b.n_chars AND a.source < b.source),
        |mx AS (SELECT source_a, source_b, n_a, n_b, CAST(MAX(dnum) AS BIGINT) AS dmax
        |       FROM pd GROUP BY 1, 2, 3, 4)
        |SELECT source_a, source_b, n_a, n_b,
        |       CAST((dmax * 1000000) // (n_a * n_b) AS BIGINT) AS d_ppm,
        |       CAST(floor(1358000.0 * sqrt(CAST(n_a + n_b AS DOUBLE) / CAST(n_a * n_b AS DOUBLE))) AS BIGINT) AS crit_ppm,
        |       CAST((dmax * 1000000) // (n_a * n_b) AS BIGINT)
        |         > CAST(floor(1358000.0 * sqrt(CAST(n_a + n_b AS DOUBLE) / CAST(n_a * n_b AS DOUBLE))) AS BIGINT) AS reject
        |FROM mx
        |ORDER BY source_a, source_b""".stripMargin,

    // same per-value pair frame; per-value micro-quantized weighted
    // quotients on HUGEINT products, max pooled value excluded (B = N)
    "q427_anderson_darling" ->
      """WITH cnt AS (
        |  SELECT source, n_chars, CAST(count(*) AS BIGINT) AS c
        |  FROM documents GROUP BY 1, 2),
        |grid AS (SELECT DISTINCT n_chars FROM cnt),
        |srcn AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM cnt GROUP BY 1),
        |full0 AS (
        |  SELECT s.source, s.n, g.n_chars, COALESCE(c.c, 0) AS c
        |  FROM srcn s CROSS JOIN grid g
        |  LEFT JOIN cnt c ON c.source = s.source AND c.n_chars = g.n_chars),
        |cum AS (
        |  SELECT source, n, n_chars, c,
        |         CAST(SUM(c) OVER (PARTITION BY source ORDER BY n_chars
        |                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM full0),
        |pd AS (
        |  SELECT a.source AS source_a, b.source AS source_b, a.n AS n_a, b.n AS n_b,
        |         a.c AS c_a, b.c AS c_b, a.cum AS cum_a, b.cum AS cum_b,
        |         a.cum * b.n - b.cum * a.n AS d
        |  FROM cum a JOIN cum b ON a.n_chars = b.n_chars AND a.source < b.source),
        |terms AS (
        |  SELECT source_a, source_b, n_a, n_b,
        |         CAST((CAST(c_a + c_b AS HUGEINT) * d * d * 1000000)
        |              // (CAST(n_a AS HUGEINT) * n_b * (cum_a + cum_b)
        |                  * (n_a + n_b - cum_a - cum_b)) AS BIGINT) AS t
        |  FROM pd
        |  WHERE cum_a + cum_b > 0 AND cum_a + cum_b < n_a + n_b),
        |agg AS (
        |  SELECT source_a, source_b, n_a, n_b, CAST(SUM(t) AS BIGINT) AS a2_micro
        |  FROM terms GROUP BY 1, 2, 3, 4)
        |SELECT source_a, source_b, n_a, n_b, a2_micro, a2_micro > 2492000 AS reject
        |FROM agg
        |ORDER BY source_a, source_b""".stripMargin,

    // same per-value pair frame as q330's oracle; the squared-gap sum
    // in HUGEINT (mirrors Spark's DECIMAL(38,0)), one integral division
    "q426_cvm_two_sample" ->
      """WITH cnt AS (
        |  SELECT source, n_chars, CAST(count(*) AS BIGINT) AS c
        |  FROM documents GROUP BY 1, 2),
        |grid AS (SELECT DISTINCT n_chars FROM cnt),
        |srcn AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM cnt GROUP BY 1),
        |full0 AS (
        |  SELECT s.source, s.n, g.n_chars, COALESCE(c.c, 0) AS c
        |  FROM srcn s CROSS JOIN grid g
        |  LEFT JOIN cnt c ON c.source = s.source AND c.n_chars = g.n_chars),
        |cum AS (
        |  SELECT source, n, n_chars, c,
        |         CAST(SUM(c) OVER (PARTITION BY source ORDER BY n_chars
        |                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM full0),
        |pd AS (
        |  SELECT a.source AS source_a, b.source AS source_b, a.n AS n_a, b.n AS n_b,
        |         a.c AS c_a, b.c AS c_b,
        |         a.cum * b.n - b.cum * a.n AS d
        |  FROM cum a JOIN cum b ON a.n_chars = b.n_chars AND a.source < b.source),
        |agg AS (
        |  SELECT source_a, source_b, n_a, n_b,
        |         SUM(CAST(c_a + c_b AS HUGEINT) * d * d) AS sw
        |  FROM pd GROUP BY 1, 2, 3, 4),
        |fin AS (
        |  SELECT source_a, source_b, n_a, n_b,
        |         CAST((sw * 1000000) // (CAST(n_a AS HUGEINT) * n_b * (n_a + n_b) * (n_a + n_b)) AS BIGINT) AS t_micro
        |  FROM agg)
        |SELECT source_a, source_b, n_a, n_b, t_micro, t_micro > 461000 AS reject
        |FROM fin
        |ORDER BY source_a, source_b""".stripMargin,

    // same exact dmax frame, same log-domain tail bound (ln 2 and
    // ln 0.05 as full-precision literals; ln() only on integer-valued
    // doubles), same bounded-frame step-up rank
    "q371_ks_fdr" ->
      """WITH cnt AS (
        |  SELECT source, n_chars, CAST(count(*) AS BIGINT) AS c
        |  FROM documents GROUP BY 1, 2),
        |grid AS (SELECT DISTINCT n_chars FROM cnt),
        |srcn AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM cnt GROUP BY 1),
        |full0 AS (
        |  SELECT s.source, s.n, g.n_chars, COALESCE(c.c, 0) AS c
        |  FROM srcn s CROSS JOIN grid g
        |  LEFT JOIN cnt c ON c.source = s.source AND c.n_chars = g.n_chars),
        |cum AS (
        |  SELECT source, n, n_chars,
        |         CAST(SUM(c) OVER (PARTITION BY source ORDER BY n_chars
        |                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM full0),
        |pd AS (
        |  SELECT a.source AS source_a, b.source AS source_b, a.n AS n_a, b.n AS n_b,
        |         abs(a.cum * b.n - b.cum * a.n) AS dnum
        |  FROM cum a JOIN cum b ON a.n_chars = b.n_chars AND a.source < b.source),
        |mx AS (SELECT source_a, source_b, n_a, n_b, CAST(MAX(dnum) AS BIGINT) AS dmax
        |       FROM pd GROUP BY 1, 2, 3, 4),
        |lp AS (
        |  SELECT source_a, source_b,
        |         CAST((dmax * 1000000) // (n_a * n_b) AS BIGINT) AS d_ppm,
        |         CAST(floor(1000000.0 * (0.6931471805599453 - 2.0 * CAST(dmax AS DOUBLE) * CAST(dmax AS DOUBLE) / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) * (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))))) AS BIGINT) AS ln_p_micro
        |  FROM mx),
        |rnk AS (
        |  SELECT *, row_number() OVER (ORDER BY ln_p_micro, source_a, source_b) AS rk,
        |         CAST(count(*) OVER () AS BIGINT) AS m
        |  FROM lp),
        |bh AS (
        |  SELECT *, CAST(floor(1000000.0 * (ln(CAST(rk AS DOUBLE)) - 2.9957322735539909 - ln(CAST(m AS DOUBLE)))) AS BIGINT) AS bh_micro
        |  FROM rnk),
        |km AS (SELECT CAST(MAX(CASE WHEN ln_p_micro <= bh_micro THEN rk ELSE 0 END) AS BIGINT) AS kmax FROM bh)
        |SELECT b.source_a, b.source_b, b.d_ppm, b.ln_p_micro,
        |       CAST(b.rk AS INT) AS rk, b.bh_micro,
        |       b.rk <= km.kmax AS reject_fdr
        |FROM bh b CROSS JOIN km
        |ORDER BY b.source_a, b.source_b""".stripMargin,

    // same KS pair frame and log-domain p's as q371; Holm threshold
    // ln α − ln(m−k+1), step-down prefix via the first-failure min
    "q407_holm_fwer" ->
      """WITH cnt AS (
        |  SELECT source, n_chars, CAST(count(*) AS BIGINT) AS c
        |  FROM documents GROUP BY 1, 2),
        |grid AS (SELECT DISTINCT n_chars FROM cnt),
        |srcn AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM cnt GROUP BY 1),
        |full0 AS (
        |  SELECT s.source, s.n, g.n_chars, COALESCE(c.c, 0) AS c
        |  FROM srcn s CROSS JOIN grid g
        |  LEFT JOIN cnt c ON c.source = s.source AND c.n_chars = g.n_chars),
        |cum AS (
        |  SELECT source, n, n_chars,
        |         CAST(SUM(c) OVER (PARTITION BY source ORDER BY n_chars
        |                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM full0),
        |pd AS (
        |  SELECT a.source AS source_a, b.source AS source_b, a.n AS n_a, b.n AS n_b,
        |         abs(a.cum * b.n - b.cum * a.n) AS dnum
        |  FROM cum a JOIN cum b ON a.n_chars = b.n_chars AND a.source < b.source),
        |mx AS (SELECT source_a, source_b, n_a, n_b, CAST(MAX(dnum) AS BIGINT) AS dmax
        |       FROM pd GROUP BY 1, 2, 3, 4),
        |lp AS (
        |  SELECT source_a, source_b,
        |         CAST((dmax * 1000000) // (n_a * n_b) AS BIGINT) AS d_ppm,
        |         CAST(floor(1000000.0 * (0.6931471805599453 - 2.0 * CAST(dmax AS DOUBLE) * CAST(dmax AS DOUBLE) / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) * (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))))) AS BIGINT) AS ln_p_micro
        |  FROM mx),
        |rnk AS (
        |  SELECT *, row_number() OVER (ORDER BY ln_p_micro, source_a, source_b) AS rk,
        |         CAST(count(*) OVER () AS BIGINT) AS m
        |  FROM lp),
        |hm AS (
        |  SELECT *, CAST(floor(1000000.0 * (-2.9957322735539909 - ln(CAST(m - rk + 1 AS DOUBLE)))) AS BIGINT) AS holm_micro
        |  FROM rnk),
        |ks AS (SELECT CAST(COALESCE(MIN(CASE WHEN ln_p_micro > holm_micro THEN rk END), MAX(rk) + 1) AS BIGINT) AS kstop FROM hm)
        |SELECT h.source_a, h.source_b, h.d_ppm, h.ln_p_micro,
        |       CAST(h.rk AS INT) AS rk, h.holm_micro,
        |       h.rk < ks.kstop AS reject_fwer
        |FROM hm h CROSS JOIN ks
        |ORDER BY h.source_a, h.source_b""".stripMargin,

    // same corruption text, same (name, tag, key) total sort order
    // (the oracle's row_number replays the distributed prefix-sum
    // rank), same native-DL-vs-duckdb damerau_levenshtein verify
    "q375_sorted_neighborhood" ->
      """WITH clean AS (SELECT c_custkey, c_name FROM customer),
        |d0 AS (SELECT c_custkey, CAST(10 + c_custkey % 7 AS INT) AS p, c_name FROM customer),
        |sw AS (SELECT c_custkey,
        |              concat(substr(c_name, 1, p - 1), substr(c_name, p + 1, 1), substr(c_name, p, 1), substr(c_name, p + 2)) AS swapped
        |       FROM d0),
        |dirty AS (SELECT c_custkey,
        |                 CASE WHEN c_custkey % 4 = 0 THEN concat(substr(swapped, 1, 4), substr(swapped, 6)) ELSE swapped END AS c_name
        |          FROM sw),
        |records AS (
        |  SELECT c_custkey, c_name, 'clean' AS tag FROM clean
        |  UNION ALL
        |  SELECT c_custkey, c_name, 'dirty' AS tag FROM dirty),
        |ranked AS (SELECT *, CAST(row_number() OVER (ORDER BY c_name, tag, c_custkey) AS BIGINT) AS rk FROM records),
        |pairs AS (
        |  SELECT g.k, a.tag AS tag_a, b.tag AS tag_b,
        |         a.c_custkey AS key_a, b.c_custkey AS key_b,
        |         CAST(damerau_levenshtein(a.c_name, b.c_name) AS BIGINT) AS dl
        |  FROM ranked a, UNNEST(generate_series(1, 3)) AS g(k)
        |  JOIN ranked b ON b.rk = a.rk + g.k),
        |ann AS (SELECT *, (tag_a <> tag_b AND dl <= 2) AS hit,
        |               (tag_a <> tag_b AND dl <= 2 AND key_a = key_b) AS tp
        |        FROM pairs),
        |perk AS (SELECT k, CAST(count(*) AS BIGINT) AS n_pairs,
        |                CAST(SUM(CASE WHEN tag_a <> tag_b THEN 1 ELSE 0 END) AS BIGINT) AS n_cross,
        |                CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_dl2_matches,
        |                CAST(SUM(CASE WHEN tp THEN 1 ELSE 0 END) AS BIGINT) AS n_true_pairs
        |         FROM ann GROUP BY k),
        |found AS (SELECT k, CASE WHEN tag_a = 'dirty' THEN key_a ELSE key_b END AS dk
        |          FROM ann WHERE tp),
        |cum AS (SELECT p.k, CAST(count(DISTINCT f.dk) AS BIGINT) AS cum_found
        |        FROM perk p LEFT JOIN found f ON f.k <= p.k GROUP BY p.k),
        |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_dirty FROM customer)
        |SELECT CAST(p.k AS INT) AS k, p.n_pairs, p.n_cross, p.n_dl2_matches,
        |       p.n_true_pairs, c.cum_found,
        |       CAST((c.cum_found * 1000000) // nd.n_dirty AS BIGINT) AS cum_recall_ppm
        |FROM perk p JOIN cum c USING (k) CROSS JOIN nd
        |ORDER BY k""".stripMargin,

    // same bucketing, same dense grid, same chained vocab-bounded
    // cumsums and strict-prefix lags, identical sqrt/divide/floor text
    "q409_kendall_tau" ->
      s"""WITH base AS (
        |  SELECT n_chars // 16 AS x,
        |         CAST(len(${tokensSql("text")}) AS BIGINT) // 8 AS y
        |  FROM documents),
        |cells AS (SELECT x, y, CAST(count(*) AS BIGINT) AS nc FROM base GROUP BY 1, 2),
        |xs AS (SELECT DISTINCT x FROM cells),
        |ys AS (SELECT DISTINCT y FROM cells),
        |grid AS (SELECT xs.x, ys.y, COALESCE(c.nc, 0) AS nc
        |         FROM xs CROSS JOIN ys LEFT JOIN cells c ON c.x = xs.x AND c.y = ys.y),
        |f0 AS (SELECT x, y, nc,
        |              CAST(SUM(nc) OVER (PARTITION BY x ORDER BY y ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cy
        |       FROM grid),
        |f1 AS (SELECT *, CAST(SUM(cy) OVER (PARTITION BY y ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS f
        |       FROM f0),
        |f2 AS (SELECT *, COALESCE(lag(f, 1) OVER (PARTITION BY y ORDER BY x), 0) AS f_xm1 FROM f1),
        |f3 AS (SELECT *, COALESCE(lag(f_xm1, 1) OVER (PARTITION BY x ORDER BY y), 0) AS f_xm1_ym1 FROM f2),
        |rows0 AS (SELECT x, CAST(count(*) AS BIGINT) AS tx FROM base GROUP BY x),
        |arow AS (SELECT x, CAST(COALESCE(SUM(tx) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS a_xm1 FROM rows0),
        |j AS (SELECT f3.*, arow.a_xm1 FROM f3 JOIN arow USING (x)),
        |cd AS (SELECT CAST(SUM(nc * f_xm1_ym1) AS BIGINT) AS c,
        |              CAST(SUM(nc * (a_xm1 - f_xm1)) AS BIGINT) AS d
        |       FROM j),
        |t1 AS (SELECT CAST(SUM(tx * (tx - 1) // 2) AS BIGINT) AS n1 FROM rows0),
        |t2 AS (SELECT CAST(SUM(ty * (ty - 1) // 2) AS BIGINT) AS n2
        |       FROM (SELECT y, CAST(count(*) AS BIGINT) AS ty FROM base GROUP BY y)),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base),
        |fin AS (SELECT n, c, d, n1, n2, n * (n - 1) // 2 AS n0
        |        FROM cd CROSS JOIN t1 CROSS JOIN t2 CROSS JOIN nn)
        |SELECT n AS n_docs, c AS concordant, d AS discordant,
        |       n1 AS ties_x, n2 AS ties_y,
        |       CASE WHEN n0 > n1 AND n0 > n2
        |            THEN CAST(floor(1000.0 * CAST(c - d AS DOUBLE) / sqrt(CAST(n0 - n1 AS DOUBLE) * CAST(n0 - n2 AS DOUBLE))) AS BIGINT)
        |            ELSE 0 END AS tau_b_milli
        |FROM fin ORDER BY n_docs""".stripMargin,

    // same doubled-midrank vocabularies; HUGEINT mirrors the Spark
    // side's DECIMAL(38,0) products (equal integers → identical doubles)
    "q334_spearman_len_ttr" ->
      s"""WITH base AS (
        |  SELECT doc_id, CAST(n_chars AS BIGINT) AS x,
        |         CAST(len(list_distinct(${tokensSql("text")})) AS BIGINT) AS y
        |  FROM documents),
        |rx AS (SELECT x, 2 * (CAST(SUM(ct) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - ct) + ct + 1 AS r2_x
        |       FROM (SELECT x, CAST(count(*) AS BIGINT) AS ct FROM base GROUP BY x)),
        |ry AS (SELECT y, 2 * (CAST(SUM(ct) OVER (ORDER BY y ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - ct) + ct + 1 AS r2_y
        |       FROM (SELECT y, CAST(count(*) AS BIGINT) AS ct FROM base GROUP BY y)),
        |j AS (SELECT b.doc_id, rx.r2_x, ry.r2_y
        |      FROM base b JOIN rx USING (x) JOIN ry USING (y)),
        |sums AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |                CAST(SUM(r2_x) AS BIGINT) AS sa, CAST(SUM(r2_y) AS BIGINT) AS sb,
        |                CAST(SUM(CAST(r2_x AS HUGEINT) * r2_y) AS HUGEINT) AS sab,
        |                CAST(SUM(CAST(r2_x AS HUGEINT) * r2_x) AS HUGEINT) AS saa,
        |                CAST(SUM(CAST(r2_y AS HUGEINT) * r2_y) AS HUGEINT) AS sbb
        |         FROM j)
        |SELECT n AS n_docs,
        |       CAST(floor(1000.0 *
        |         CAST(CAST(n AS HUGEINT) * sab - CAST(sa AS HUGEINT) * sb AS DOUBLE)
        |         / sqrt(CAST(CAST(n AS HUGEINT) * saa - CAST(sa AS HUGEINT) * sa AS DOUBLE)
        |              * CAST(CAST(n AS HUGEINT) * sbb - CAST(sb AS HUGEINT) * sb AS DOUBLE)))
        |       AS BIGINT) AS rho_milli
        |FROM sums""".stripMargin,

    // same md5 buckets, same doubled-midrank value-vocabulary scan,
    // identical tie-corrected single-sqrt z
    "q331_mann_whitney" ->
      s"""WITH spend AS (
        |  SELECT user_id, CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
        |  FROM events GROUP BY user_id),
        |a0 AS (
        |  SELECT c.c_custkey, g.e AS exp_id,
        |         ${hex64Sql("md5('exp' || CAST(g.e AS VARCHAR) || ':' || CAST(c.c_custkey AS VARCHAR))")} % 2 AS bucket
        |  FROM customer c, UNNEST(generate_series(1, 2)) AS g(e)),
        |a AS (
        |  SELECT a0.exp_id, a0.bucket, COALESCE(s.cents, 0) AS m
        |  FROM a0 LEFT JOIN spend s ON s.user_id = a0.c_custkey),
        |bv AS (
        |  SELECT exp_id, m,
        |         CAST(sum(CASE WHEN bucket = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |         CAST(count(*) AS BIGINT) AS ct
        |  FROM a GROUP BY exp_id, m),
        |rk AS (
        |  SELECT exp_id, ca, ct,
        |         2 * (CAST(SUM(ct) OVER (PARTITION BY exp_id ORDER BY m
        |                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - ct)
        |           + ct + 1 AS tr2
        |  FROM bv),
        |ag AS (
        |  SELECT exp_id,
        |         CAST(SUM(ca) AS BIGINT) AS na,
        |         CAST(SUM(ct - ca) AS BIGINT) AS nb,
        |         CAST(SUM(ca * tr2) AS BIGINT) AS r2a,
        |         CAST(SUM(ct * ct * ct - ct) AS BIGINT) AS ties
        |  FROM rk GROUP BY exp_id),
        |fin AS (
        |  SELECT exp_id, na, nb, na + nb AS n,
        |         r2a - na * (na + 1) AS two_u_a, ties
        |  FROM ag WHERE na > 1 AND nb > 1)
        |SELECT CAST(exp_id AS INT) AS exp_id, na, nb, two_u_a, ties AS tie_term,
        |       CAST(CASE WHEN (n * n * n - n) = ties THEN 0
        |            ELSE floor(CAST(two_u_a - na * nb AS DOUBLE) * 1000.0
        |                 / (2.0 * sqrt(CAST(na * nb AS DOUBLE)
        |                               * CAST((n * n * n - n) - ties AS DOUBLE)
        |                               / CAST(12 * n * (n - 1) AS DOUBLE))))
        |            END AS BIGINT) AS z_milli
        |FROM fin
        |ORDER BY exp_id""".stripMargin,

    "q211_welch_ab" ->
      s"""WITH spend AS (
         |  SELECT user_id, CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
         |  FROM events GROUP BY user_id),
         |a0 AS (
         |  SELECT c.c_custkey, g.e AS exp_id,
         |         ${hex64Sql("md5('exp' || CAST(g.e AS VARCHAR) || ':' || CAST(c.c_custkey AS VARCHAR))")} % 2 AS bucket
         |  FROM customer c, UNNEST(generate_series(1, 2)) AS g(e)),
         |a AS (
         |  SELECT a0.exp_id, a0.bucket, COALESCE(s.cents, 0) AS m
         |  FROM a0 LEFT JOIN spend s ON s.user_id = a0.c_custkey),
         |sums AS (
         |  SELECT exp_id,
         |         CAST(sum(CASE WHEN bucket = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
         |         CAST(sum(CASE WHEN bucket = 0 THEN m ELSE 0 END) AS BIGINT) AS s1a,
         |         CAST(sum(CASE WHEN bucket = 0 THEN CAST(m * m AS DECIMAL(38,0)) ELSE 0 END) AS DECIMAL(38,0)) AS s2a,
         |         CAST(sum(CASE WHEN bucket = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb,
         |         CAST(sum(CASE WHEN bucket = 1 THEN m ELSE 0 END) AS BIGINT) AS s1b,
         |         CAST(sum(CASE WHEN bucket = 1 THEN CAST(m * m AS DECIMAL(38,0)) ELSE 0 END) AS DECIMAL(38,0)) AS s2b
         |  FROM a GROUP BY exp_id)
         |SELECT CAST(exp_id AS INT) AS exp_id, na, nb,
         |       s1a AS sum_a_cents, s1b AS sum_b_cents,
         |       $meanDiffExpr AS mean_diff_q,
         |       $welchT2Expr AS t2_q
         |FROM sums WHERE na > 1 AND nb > 1
         |ORDER BY exp_id""".stripMargin,

    // same power sums, same per-group floor quantization before the sum
    "q250_anova_decomposition" ->
      s"""WITH per AS (
        |  SELECT source,
        |         CAST(count(*) AS BIGINT) AS ng,
        |         CAST(sum(y) AS BIGINT) AS s1g,
        |         CAST(sum(y * y) AS BIGINT) AS s2g
        |  FROM (SELECT source,
        |               CAST(len(${tokensSql("text")}) AS BIGINT) AS y
        |        FROM documents) t
        |  GROUP BY source),
        |q AS (SELECT ng, s1g, s2g, (1000000 * s1g * s1g) // ng AS tb_q FROM per),
        |agg AS (SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(ng) AS BIGINT) AS n,
        |               CAST(sum(s1g) AS BIGINT) AS s1, CAST(sum(s2g) AS BIGINT) AS s2,
        |               CAST(sum(tb_q) AS BIGINT) AS tb
        |        FROM q),
        |f AS (SELECT n, k,
        |             1000000 * s2 - (1000000 * s1 * s1) // n AS sst_q,
        |             greatest(tb - (1000000 * s1 * s1) // n, 0) AS ssb_q
        |      FROM agg)
        |SELECT n, k AS k_sources, CAST(sst_q AS BIGINT) AS sst_q,
        |       CAST(ssb_q AS BIGINT) AS ssb_q,
        |       CAST(sst_q - ssb_q AS BIGINT) AS ssw_q,
        |       CAST((1000000 * ssb_q) // sst_q AS BIGINT) AS eta2_micro
        |FROM f""".stripMargin,

    // same value histogram, clamped-interval trim, and micro division
    "q244_trimmed_mean" ->
      """WITH c AS (
        |  SELECT l_returnflag AS grp,
        |         CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT) AS q
        |  FROM lineitem),
        |vals AS (SELECT grp, q, CAST(count(*) AS BIGINT) AS cnt FROM c GROUP BY 1, 2),
        |tot AS (SELECT grp, CAST(sum(cnt) AS BIGINT) AS n FROM vals GROUP BY grp),
        |cum AS (SELECT v.grp, v.q, v.cnt, t.n, t.n // 10 AS k,
        |               CAST(sum(v.cnt) OVER (PARTITION BY v.grp ORDER BY v.q
        |                                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |        FROM vals v JOIN tot t USING (grp)),
        |con AS (SELECT grp, n, k,
        |               q * greatest(least(cum, n - k) - greatest(cum - cnt, k), 0) AS contrib
        |        FROM cum)
        |SELECT grp, CAST(max(n) AS BIGINT) AS n,
        |       CAST(max(k) AS BIGINT) AS n_trimmed_each_side,
        |       CAST((1000000 * CAST(sum(contrib) AS BIGINT)) // (max(n) - 2 * max(k)) AS BIGINT) AS trimmed_mean_micro
        |FROM con GROUP BY grp
        |ORDER BY grp""".stripMargin,

    // same md5-residue version buckets, full-count ppm per version,
    // and |Δppm| rank with the token tie-break
    "q232_vocab_drift" ->
      s"""WITH docs AS (
        |  SELECT doc_id, text,
        |         ${hex64Sql("md5(CAST(doc_id AS VARCHAR))")} % 10 AS vb
        |  FROM documents),
        |v1t AS (SELECT unnest(${tokensSql("text")}) AS w
        |        FROM docs WHERE vb <> 9),
        |v2d AS (SELECT CASE WHEN vb = 7 THEN text || ' rev2' ELSE text END AS text
        |        FROM docs WHERE vb <> 3),
        |v2t AS (SELECT unnest(${tokensSql("text")}) AS w
        |        FROM v2d),
        |f1 AS (SELECT w, CAST(count(*) AS BIGINT) AS c1 FROM v1t GROUP BY w),
        |f2 AS (SELECT w, CAST(count(*) AS BIGINT) AS c2 FROM v2t GROUP BY w),
        |t1 AS (SELECT CAST(sum(c1) AS BIGINT) AS tot1 FROM f1),
        |t2 AS (SELECT CAST(sum(c2) AS BIGINT) AS tot2 FROM f2),
        |j AS (SELECT COALESCE(f1.w, f2.w) AS w,
        |             COALESCE(c1, 0) AS c1, COALESCE(c2, 0) AS c2
        |      FROM f1 FULL OUTER JOIN f2 ON f2.w = f1.w),
        |p AS (SELECT w, c1, c2,
        |             (1000000 * c1) // tot1 AS ppm1,
        |             (1000000 * c2) // tot2 AS ppm2
        |      FROM j CROSS JOIN t1 CROSS JOIN t2)
        |SELECT CAST(row_number() OVER (ORDER BY abs(ppm2 - ppm1) DESC, w) AS INT) AS rk,
        |       w AS token, c1, c2,
        |       CAST(ppm1 AS BIGINT) AS ppm1, CAST(ppm2 AS BIGINT) AS ppm2,
        |       CAST(ppm2 - ppm1 AS BIGINT) AS delta_ppm
        |FROM p
        |QUALIFY rk <= 20
        |ORDER BY rk""".stripMargin,

    // same 60-bit content hashes, same DECIMAL accumulation, same
    // ROLLUP total row, same 2^60 fold
    "q226_set_checksum" ->
      s"""WITH docs AS (
        |  SELECT source,
        |         ${hex64Sql("md5(text)")} AS h,
        |         ${hex64Sql("md5('half:' || CAST(doc_id AS VARCHAR))")} % 2 = 0 AS even
        |  FROM documents),
        |agg AS (
        |  SELECT COALESCE(source, '__ALL__') AS source,
        |         CAST(count(*) AS BIGINT) AS n_docs,
        |         CAST(sum(CAST(h AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s_all,
        |         CAST(sum(CASE WHEN even THEN CAST(h AS DECIMAL(38,0)) ELSE 0 END) AS DECIMAL(38,0)) AS s_even
        |  FROM docs GROUP BY ROLLUP(source))
        |SELECT source, n_docs,
        |       CAST(s_all % 1152921504606846976 AS BIGINT) AS checksum,
        |       CAST(s_even % 1152921504606846976 AS BIGINT) AS checksum_even,
        |       CAST((s_all - s_even) % 1152921504606846976 AS BIGINT) AS checksum_odd,
        |       (CAST(s_even % 1152921504606846976 AS BIGINT) + CAST((s_all - s_even) % 1152921504606846976 AS BIGINT)) % 1152921504606846976
        |         = CAST(s_all % 1152921504606846976 AS BIGINT) AS additivity_ok
        |FROM agg
        |ORDER BY source""".stripMargin,

    // same fixed-width bins over the exact cents range, same zero-bin
    // grid, and the identical multiplied-through integer EMD
    "q216_t_closeness" ->
      """WITH cust AS (
        |  SELECT c_mktsegment AS seg,
        |         CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        |  FROM customer),
        |mm AS (SELECT min(cents) AS mn, max(cents) AS mx FROM cust),
        |binned AS (
        |  SELECT seg, ((cents - mn) * 10) // (mx - mn + 1) AS bin,
        |         CAST(count(*) AS BIGINT) AS c_gb
        |  FROM cust CROSS JOIN mm GROUP BY 1, 2),
        |segs AS (SELECT seg, CAST(sum(c_gb) AS BIGINT) AS n_g FROM binned GROUP BY 1),
        |gtot AS (SELECT bin, CAST(sum(c_gb) AS BIGINT) AS c_b FROM binned GROUP BY 1),
        |na AS (SELECT CAST(sum(n_g) AS BIGINT) AS nn FROM segs),
        |grid AS (
        |  SELECT s.seg, s.n_g, g.b AS bin,
        |         COALESCE(bn.c_gb, 0) AS c_gb, COALESCE(gl.c_b, 0) AS c_b, na.nn
        |  FROM segs s
        |  CROSS JOIN (SELECT unnest(generate_series(0, 9)) AS b) g
        |  LEFT JOIN binned bn ON bn.seg = s.seg AND bn.bin = g.b
        |  LEFT JOIN gtot gl ON gl.bin = g.b
        |  CROSS JOIN na),
        |cums AS (
        |  SELECT seg, n_g, nn,
        |         sum(c_gb) OVER (PARTITION BY seg ORDER BY bin
        |                         ROWS UNBOUNDED PRECEDING) AS cum_g,
        |         sum(c_b) OVER (PARTITION BY seg ORDER BY bin
        |                        ROWS UNBOUNDED PRECEDING) AS cum_all
        |  FROM grid)
        |SELECT seg, CAST(max(n_g) AS BIGINT) AS n_g,
        |       CAST((1000000 * sum(abs(cum_g * nn - cum_all * n_g)))
        |            // (max(n_g) * max(nn) * 9) AS BIGINT) AS emd_q
        |FROM cums GROUP BY seg
        |ORDER BY seg""".stripMargin,

    // json_valid gates the extraction; the corruption lane is invalid
    // in both parsers by construction
    "q181_json_quarantine" ->
      """WITH ev AS (
        |  SELECT event_type,
        |         CASE WHEN event_id % 7 = 0 THEN 'corrupt:' || props ELSE props END AS raw
        |  FROM events),
        |p AS (
        |  SELECT event_type,
        |         CASE WHEN json_valid(raw)
        |              THEN TRY_CAST(json_extract_string(raw, '$.k') AS BIGINT)
        |              ELSE NULL END AS k
        |  FROM ev)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(CASE WHEN k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
        |       CAST(sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_quarantined,
        |       CAST(coalesce(sum(k), 0) AS BIGINT) AS sum_k
        |FROM p GROUP BY event_type ORDER BY event_type""".stripMargin,

    // identical sums and identical derived-moment formula text
    "q170_group_moments" ->
      """WITH c AS (
        |  SELECT l_returnflag AS grp,
        |         CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT) AS q
        |  FROM lineitem),
        |sums AS (
        |  SELECT grp, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(q) AS BIGINT) AS s1,
        |         CAST(sum(CAST(q * q AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s2,
        |         CAST(sum(CAST(q * q * q AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s3
        |  FROM c GROUP BY grp),
        |m AS (
        |  SELECT *, CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
        |         CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) -
        |           (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) *
        |           (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) AS variance
        |  FROM sums)
        |SELECT grp, n, s1,
        |       CAST(s2 AS VARCHAR) AS s2, CAST(s3 AS VARCHAR) AS s3,
        |       mean, variance,
        |       CASE WHEN variance <= 0.0 THEN 0.0 ELSE
        |         (CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE)
        |           - 3.0 * mean * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))
        |           + 2.0 * mean * mean * mean)
        |         / (variance * sqrt(variance)) END AS skewness
        |FROM m ORDER BY grp""".stripMargin,

    // same rank-selection formula; `div` is `//` (both truncate toward
    // zero — operands here are non-negative)
    "q166_winsorize" ->
      """WITH c AS (SELECT source, doc_id, n_chars FROM documents),
        |r AS (SELECT *, row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rn,
        |             count(*) OVER (PARTITION BY source) AS cnt FROM c),
        |b AS (SELECT source,
        |             max(CASE WHEN rn = ((cnt - 1) * 5) // 100 + 1 THEN n_chars END) AS lo_val,
        |             max(CASE WHEN rn = ((cnt - 1) * 95) // 100 + 1 THEN n_chars END) AS hi_val,
        |             max(cnt) AS n
        |      FROM r GROUP BY source),
        |w AS (SELECT c.source, c.n_chars, b.lo_val, b.hi_val, b.n,
        |             least(greatest(c.n_chars, b.lo_val), b.hi_val) AS wchars
        |      FROM c JOIN b ON b.source = c.source)
        |SELECT source, CAST(max(n) AS BIGINT) AS n,
        |       max(lo_val) AS lo_val, max(hi_val) AS hi_val,
        |       CAST(sum(n_chars) AS BIGINT) AS raw_sum,
        |       CAST(sum(wchars) AS BIGINT) AS win_sum,
        |       CAST(sum(CASE WHEN n_chars < lo_val THEN 1 ELSE 0 END) AS BIGINT) AS n_clamp_lo,
        |       CAST(sum(CASE WHEN n_chars > hi_val THEN 1 ELSE 0 END) AS BIGINT) AS n_clamp_hi,
        |       CAST(sum(wchars) AS DOUBLE) / CAST(max(n) AS DOUBLE) AS win_mean
        |FROM w GROUP BY source ORDER BY source""".stripMargin,

    // identical 60-bit hash and integer CDF thresholds; the replicate
    // means divide the same exact int64 pairs
    "q167_bootstrap_ci" -> {
      val t = poissonCdf60
      s"""WITH nt AS (
         |  SELECT doc_id,
         |         CAST(len(${tokensSql("text")}) AS BIGINT) AS n_tok
         |  FROM documents),
         |overall AS (SELECT CAST(sum(n_tok) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS overall_mean FROM nt),
         |rep AS (
         |  SELECT doc_id, n_tok, g.r,
         |         ${hex64Sql("md5(CAST(doc_id AS VARCHAR) || ':' || CAST(g.r AS VARCHAR))")} AS h
         |  FROM nt, UNNEST(generate_series(0, 31)) AS g(r)),
         |wtd AS (
         |  SELECT r, n_tok,
         |         CASE WHEN h < ${t(0)} THEN 0 WHEN h < ${t(1)} THEN 1
         |              WHEN h < ${t(2)} THEN 2 WHEN h < ${t(3)} THEN 3
         |              WHEN h < ${t(4)} THEN 4 WHEN h < ${t(5)} THEN 5
         |              ELSE 6 END AS w
         |  FROM rep),
         |agg AS (
         |  SELECT r, CAST(sum(w) AS BIGINT) AS n_eff, CAST(sum(w * n_tok) AS BIGINT) AS sum_tok
         |  FROM wtd GROUP BY r)
         |SELECT CAST(r AS INT) AS r, n_eff, sum_tok,
         |       CAST(sum_tok AS DOUBLE) / CAST(n_eff AS DOUBLE) AS mean_tok,
         |       overall_mean
         |FROM agg, overall
         |ORDER BY r""".stripMargin
    },

    // same decimal-exact cents bucketing, same k<5 threshold per level
    "q182_kanonymity" ->
      """WITH base AS (
        |  SELECT c_nationkey, c_mktsegment,
        |         (CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) + 100000) // 100000 AS bal_bucket
        |  FROM customer),
        |l0 AS (SELECT count(*) AS k FROM base GROUP BY c_nationkey, c_mktsegment, bal_bucket),
        |l1 AS (SELECT count(*) AS k FROM base GROUP BY c_nationkey, c_mktsegment),
        |l2 AS (SELECT count(*) AS k FROM base GROUP BY c_mktsegment)
        |SELECT CAST(0 AS INT) AS level, CAST(count(*) AS BIGINT) AS n_classes,
        |       CAST(sum(CASE WHEN k < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_risky,
        |       CAST(sum(CASE WHEN k < 5 THEN k ELSE 0 END) AS BIGINT) AS rows_at_risk,
        |       CAST(min(k) AS BIGINT) AS min_k, CAST(max(k) AS BIGINT) AS max_k
        |FROM l0
        |UNION ALL
        |SELECT CAST(1 AS INT), CAST(count(*) AS BIGINT),
        |       CAST(sum(CASE WHEN k < 5 THEN 1 ELSE 0 END) AS BIGINT),
        |       CAST(sum(CASE WHEN k < 5 THEN k ELSE 0 END) AS BIGINT),
        |       CAST(min(k) AS BIGINT), CAST(max(k) AS BIGINT)
        |FROM l1
        |UNION ALL
        |SELECT CAST(2 AS INT), CAST(count(*) AS BIGINT),
        |       CAST(sum(CASE WHEN k < 5 THEN 1 ELSE 0 END) AS BIGINT),
        |       CAST(sum(CASE WHEN k < 5 THEN k ELSE 0 END) AS BIGINT),
        |       CAST(min(k) AS BIGINT), CAST(max(k) AS BIGINT)
        |FROM l2
        |ORDER BY level""".stripMargin,

    // same class/sensitive construction, same l<3 flag
    "q190_ldiversity" ->
      """SELECT c_nationkey, c_mktsegment,
        |       CAST(count(*) AS BIGINT) AS k,
        |       CAST(count(DISTINCT (CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) + 100000) // 100000) AS BIGINT) AS l,
        |       CAST(CASE WHEN count(DISTINCT (CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) + 100000) // 100000) < 3
        |                 THEN 1 ELSE 0 END AS INT) AS weak
        |FROM customer
        |GROUP BY c_nationkey, c_mktsegment
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin,

    // identical constructed suffixes (chr(769) = U+0301 combining acute,
    // chr(233) = U+00E9); DuckDB's nfc_normalize is the same
    // Unicode-standard NFC the JDK Normalizer implements
    "q183_nfc_normalize" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         substring(text, 1, 64) || ' Cafe' || chr(769) AS deco,
        |         substring(text, 1, 64) || ' Caf' || chr(233) AS compo
        |  FROM documents)
        |SELECT doc_id,
        |       CAST(length(deco) AS BIGINT) AS n_dec,
        |       CAST(length(nfc_normalize(deco)) AS BIGINT) AS n_nfc,
        |       CAST(CASE WHEN nfc_normalize(deco) <> deco THEN 1 ELSE 0 END AS INT) AS changed,
        |       CAST(CASE WHEN nfc_normalize(deco) = compo THEN 1 ELSE 0 END AS INT) AS composed_eq,
        |       md5(nfc_normalize(deco)) AS nfc_md5
        |FROM t ORDER BY doc_id""".stripMargin,

    // same key-derived swap + deletion corruption; DuckDB's
    // damerau_levenshtein is the same full (unrestricted) DL the native
    // kernel implements
    "q184_dl_metric" ->
      """WITH c AS (
        |  SELECT c_custkey, c_name, CAST(10 + c_custkey % 7 AS INT) AS p FROM customer),
        |sw AS (
        |  SELECT c_custkey, c_name,
        |         concat(substr(c_name, 1, p - 1), substr(c_name, p + 1, 1),
        |                substr(c_name, p, 1), substr(c_name, p + 2)) AS swapped
        |  FROM c),
        |dd AS (
        |  SELECT c_custkey, c_name,
        |         CASE WHEN c_custkey % 3 = 0
        |              THEN concat(substr(swapped, 1, 4), substr(swapped, 6))
        |              ELSE swapped END AS dirty
        |  FROM sw)
        |SELECT c_custkey, dirty,
        |       CAST(levenshtein(c_name, dirty) AS BIGINT) AS lev,
        |       CAST(damerau_levenshtein(c_name, dirty) AS BIGINT) AS dl,
        |       CAST(levenshtein(c_name, dirty) - damerau_levenshtein(c_name, dirty) AS BIGINT) AS gain
        |FROM dd ORDER BY c_custkey""".stripMargin,

    // DuckDB's own jaro_winkler_similarity (double) vs the native
    // exact-integer kernel — independent implementations of the
    // published algorithm; half-up milli rounding on both sides
    "q390_jw_metric" ->
      """WITH c AS (
        |  SELECT c_custkey, c_name, CAST(10 + c_custkey % 7 AS INT) AS p FROM customer),
        |sw AS (
        |  SELECT c_custkey,
        |         concat(substr(c_name, 1, p - 1), substr(c_name, p + 1, 1),
        |                substr(c_name, p, 1), substr(c_name, p + 2)) AS swapped
        |  FROM c),
        |dd AS (
        |  SELECT c_custkey,
        |         CASE WHEN c_custkey % 3 = 0
        |              THEN concat(substr(swapped, 1, 4), substr(swapped, 6))
        |              ELSE swapped END AS dirty
        |  FROM sw),
        |u AS (
        |  SELECT c.c_custkey, 'own' AS lane, c.c_name, dd.dirty
        |  FROM customer c JOIN dd ON dd.c_custkey = c.c_custkey
        |  UNION ALL
        |  SELECT c.c_custkey - 1 AS c_custkey, 'next' AS lane, c.c_name, dd.dirty
        |  FROM customer c JOIN dd ON dd.c_custkey = c.c_custkey - 1)
        |SELECT c_custkey, lane,
        |       CAST(damerau_levenshtein(c_name, dirty) AS BIGINT) AS dl,
        |       CAST(round(jaro_winkler_similarity(c_name, dirty) * 1000) AS BIGINT) AS jw_milli
        |FROM u ORDER BY c_custkey, lane""".stripMargin,

    // same corruption, same truth join, same salted-hash nonmatch
    // sample, same exact-integer agreement predicates and ppm ratios
    "q401_fellegi_sunter" ->
      s"""WITH a AS (
        |  SELECT c_custkey AS k, c_name AS name,
        |         CAST(c_nationkey AS INT) AS nat, c_mktsegment AS seg
        |  FROM customer),
        |b0 AS (SELECT k, name, CAST(10 + k % 7 AS INT) AS p, nat, seg FROM a),
        |sw AS (SELECT k,
        |              concat(substr(name, 1, p - 1), substr(name, p + 1, 1),
        |                     substr(name, p, 1), substr(name, p + 2)) AS swapped,
        |              nat, seg
        |       FROM b0),
        |b AS (SELECT k,
        |             CASE WHEN k % 11 = 0 THEN 'ANONYMOUS'
        |                  WHEN k % 3 = 0 THEN concat(substr(swapped, 1, 4), substr(swapped, 6))
        |                  ELSE swapped END AS name_d,
        |             CAST(CASE WHEN k % 5 = 0 THEN (nat + 7) % 25 ELSE nat END AS INT) AS nat_d,
        |             CASE WHEN k % 7 = 0 THEN seg || 'X' ELSE seg END AS seg_d
        |      FROM sw),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS r FROM a),
        |m AS (SELECT a.name, b.name_d, a.nat, b.nat_d, a.seg, b.seg_d
        |      FROM a JOIN b ON b.k = a.k),
        |u AS (SELECT a.name, b.name_d, a.nat, b.nat_d, a.seg, b.seg_d
        |      FROM a, b, nn
        |      WHERE a.k <> b.k
        |        AND ${hex64Sql("md5('fsu:' || CAST(a.k AS VARCHAR))")} % nn.r
        |          = ${hex64Sql("md5('fsv:' || CAST(b.k AS VARCHAR))")} % nn.r),
        |ms AS (SELECT CAST(count(*) AS BIGINT) AS n_m,
        |              CAST(SUM(CASE WHEN damerau_levenshtein(name, name_d) <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS m_name,
        |              CAST(SUM(CASE WHEN nat = nat_d THEN 1 ELSE 0 END) AS BIGINT) AS m_nat,
        |              CAST(SUM(CASE WHEN seg = seg_d THEN 1 ELSE 0 END) AS BIGINT) AS m_seg
        |       FROM m),
        |us AS (SELECT CAST(count(*) AS BIGINT) AS n_u,
        |              CAST(SUM(CASE WHEN damerau_levenshtein(name, name_d) <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS u_name,
        |              CAST(SUM(CASE WHEN nat = nat_d THEN 1 ELSE 0 END) AS BIGINT) AS u_nat,
        |              CAST(SUM(CASE WHEN seg = seg_d THEN 1 ELSE 0 END) AS BIGINT) AS u_seg
        |       FROM u),
        |rows0 AS (
        |  SELECT 'name' AS field, ms.m_name AS m_cnt, ms.n_m, us.u_name AS u_cnt, us.n_u FROM ms, us
        |  UNION ALL
        |  SELECT 'nation', ms.m_nat, ms.n_m, us.u_nat, us.n_u FROM ms, us
        |  UNION ALL
        |  SELECT 'segment', ms.m_seg, ms.n_m, us.u_seg, us.n_u FROM ms, us),
        |rows1 AS (
        |  SELECT field, m_cnt, n_m, u_cnt, n_u,
        |         CASE WHEN n_m > 0 THEN (m_cnt * 1000000) // n_m ELSE 0 END AS m_ppm,
        |         CASE WHEN n_u > 0 THEN (u_cnt * 1000000) // n_u ELSE 0 END AS u_ppm
        |  FROM rows0)
        |SELECT field, m_cnt, n_m, u_cnt, n_u, m_ppm, u_ppm,
        |       CASE WHEN u_ppm > 0 THEN (m_ppm * 1000) // u_ppm ELSE -1 END AS weight_milli
        |FROM rows1
        |ORDER BY field""".stripMargin
  )
}
