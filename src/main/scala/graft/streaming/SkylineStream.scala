package graft.streaming

import scala.annotation.unused

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.core.Tables
import StreamRunner.{drain, fileStream}

/** Streaming incremental SKYLINE — the live twin of the batch q399
  * Pareto frontier (minimize price, maximize size), the "maintain the
  * best-value catalog view as parts arrive" operator.
  *
  * Sharding: `flatMapGroupsWithState` keyed by PRICE BAND (cents div
  * 100000), never by a constant key — each band maintains its own
  * local frontier, so state per group is bounded by the SIZE VOCABULARY
  * (a 2-D frontier holds at most one point per distinct size value,
  * ≤ 50 here), and bands parallelize across the state store. A point
  * is emitted exactly once, the first time it enters its band's
  * frontier; dominance is monotone (a point dominated once is dominated
  * forever, by transitivity through whatever later dominates its
  * dominator), so the emitted stream is a SUPERSET of the final global
  * skyline that append mode can serve without retractions.
  *
  * The batch-side finisher is q399's own machinery verbatim — per-price
  * max + the distributed [[graft.functions.PrefixSum.exclusiveMax]]
  * scan over the (tiny) emitted candidate set — which both merges
  * across bands and drops candidates dominated by later arrivals. The
  * oracle is q399's, shared verbatim: stream ≡ batch.
  */
object SkylineStream {

  case class Pt(p_partkey: Long, cents: Long, size: Long)
  case class Frontier(pts: List[(Long, Long)])

  private def dominates(ac: Long, as_ : Long, bc: Long, bs: Long): Boolean =
    ac <= bc && as_ >= bs && (ac < bc || as_ > bs)

  private[graft] def update(@unused band: Long, it: Iterator[Pt],
                            state: GroupState[Frontier]): Iterator[Pt] = {
    var f = state.getOption.map(_.pts).getOrElse(Nil)
    val out = scala.collection.mutable.ListBuffer.empty[Pt]
    // deterministic in-batch order: a batch is folded the same way on
    // every replay, so the emitted candidate set is reproducible
    for (p <- it.toSeq.sortBy(p => (p.cents, -p.size, p.p_partkey))) {
      if (!f.exists { case (fc, fs) => dominates(fc, fs, p.cents, p.size) }) {
        out += p
        // prune frontier points the newcomer dominates; keep at most
        // one (cents, size) entry per distinct pair
        f = ((p.cents, p.size) ::
          f.filterNot { case (fc, fs) => dominates(p.cents, p.size, fc, fs) }).distinct
      }
    }
    state.update(Frontier(f))
    out.iterator
  }

  def run(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pts = fileStream(s, dir, "part.parquet", Tables.part(s, dir).schema)
      .selectExpr("p_partkey",
        "CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents",
        "CAST(p_size AS BIGINT) AS size")
      .as[Pt]
    val cand = pts.groupByKey(_.cents / 100000L)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(update)
    // batch finisher = q399's merge over the emitted candidates
    // (localCheckpoint: the candidate set is frontier-bounded and the
    // memory-sink view otherwise feeds two plan branches)
    val p = drain(cand, "append", "skyline")().localCheckpoint()
    val g = p.groupBy("cents").agg(max("size").as("gmax"))
    val scanned = graft.functions.PrefixSum.exclusiveMax(
      g, Seq(col("cents")), col("gmax"), "prevmax", -1L)
    p.join(scanned, "cents")
      .filter(col("size") === col("gmax") && col("gmax") > col("prevmax"))
      .select(col("p_partkey"), col("cents").as("price_cents"), col("size"))
      .orderBy("price_cents", "p_partkey")
  }
}
