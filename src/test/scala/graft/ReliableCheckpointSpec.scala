package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.PipelinePack

/** Every pin ([[graft.core.Pin]]) cuts lineage onto executor-local blocks
  * by default — fast, but lossy under executor failure on a real
  * cluster. A checkpoint dir on the context is the production form: each
  * cut is parked there as reliable files. This spec runs the BSP loops
  * and one whole registered query with a dir set and asserts (a) results
  * are identical to the run without one, (b) state actually landed in
  * the dir, and (c) the dir is cleared again afterwards, so no later
  * suite checkpoints reliably by accident.
  */
class ReliableCheckpointSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  // a 3-chain, a 2-chain, a self-contained pair and an isolated-ish tail:
  // multi-round convergence (diameter > 1) so >1 round checkpoints
  private def edges = {
    import spark.implicits._
    Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 21L), (21L, 22L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .toDF("v", "u")
  }

  /** Runs `body` with a fresh checkpoint dir set on the context; returns
    * its value and the number of files written under the dir. */
  private def reliably[T](body: => T): (T, Long) = {
    val dir = Files.createTempDirectory("graft_reliable")
    val sc = spark.sparkContext
    sc.setCheckpointDir(dir.toString)
    val out = try body finally sc.setCheckpointDir(null)
    assert(sc.getCheckpointDir.isEmpty, "the checkpoint dir must be cleared after the run")
    (out, Files.walk(dir).filter(Files.isRegularFile(_)).count())
  }

  private def pairs(rows: Array[org.apache.spark.sql.Row]) =
    rows.map(r => (r.getLong(0), r.getLong(1))).toSet

  test("connectedComponents: reliable mode matches local mode and writes round state") {
    val local = pairs(PipelinePack.connectedComponents(edges).collect())
    val (reliable, written) = reliably(pairs(PipelinePack.connectedComponents(edges).collect()))
    assert(reliable == local)
    assert(reliable.nonEmpty && reliable.forall { case (n, l) => l <= n })
    assert(written > 0, "no reliable checkpoint files written")
  }

  test("pageRank: reliable mode matches local mode bit-for-bit") {
    val local = pairs(PipelinePack.pageRank(edges, rounds = 5).collect())
    val (reliable, _) = reliably(pairs(PipelinePack.pageRank(edges, rounds = 5).collect()))
    assert(reliable == local)
  }

  test("q414_dbscan: a checkpoint dir makes its warms, CC rounds and result reliable") {
    val q = SparkEntry.queries("q414_dbscan")
    val local = q(spark, SparkTestSession.sfDir).collect().toSeq
    val (reliable, written) = reliably(q(spark, SparkTestSession.sfDir).collect().toSeq)
    assert(reliable == local)
    assert(local.nonEmpty)
    assert(written > 0, "q414 wrote no reliable checkpoint files")
  }
}
