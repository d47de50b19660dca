package org.apache.spark.graftpin {
  import org.apache.spark.SparkContext

  /** Waits until every queued listener event has been delivered. */
  object ListenerDrain {
    def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
  }
}

package graft {
  import org.apache.spark.graftpin.ListenerDrain
  import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.execution.LogicalRDD
  import org.apache.spark.storage.StorageLevel
  import org.scalatest.funsuite.AnyFunSuite
  import graft.core.{Pin, QueryPack}

  /** The pin contract every query relies on: how many actions each pin runs,
    * what it leaves cached, and where a lineage cut lands. */
  class PinSpec extends AnyFunSuite {
    private lazy val spark = SparkTestSession.spark

    private def frame: DataFrame = spark.range(0, 1000).selectExpr("id", "id % 7 AS k")

    /** Actions run while `body` runs: the distinct SQL executions its
      * jobs belong to. (Under AQE one action is several jobs: a `count()`
      * of a cached frame runs a cache-build, a shuffle-map and a result
      * job.) */
    private def actionsOf[T](body: => T): (T, Int) = {
      val sc = spark.sparkContext
      val roots = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
      val l = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          roots.add(String.valueOf(e.properties.getProperty("spark.sql.execution.root.id")))
      }
      ListenerDrain(sc)
      sc.addSparkListener(l)
      try {
        val out = body
        ListenerDrain(sc)
        (out, roots.size)
      } finally sc.removeSparkListener(l)
    }

    /** The RDD a lineage cut left as the frame's whole logical plan. */
    private def cutRdd(df: DataFrame) = df.queryExecution.logical match {
      case r: LogicalRDD => r.rdd
      case p => fail(s"expected a checkpointed scan, got:\n$p")
    }

    test("warmed runs exactly one action and leaves the frame MEMORY_AND_DISK") {
      val (w, actions) = actionsOf(Pin.warmed(frame))
      try {
        assert(actions == 1)
        assert(w.storageLevel == StorageLevel.MEMORY_AND_DISK)
      } finally w.unpersist()
    }

    test("persisted runs no action") {
      val (p, actions) = actionsOf(Pin.persisted(frame))
      try {
        assert(actions == 0)
        assert(p.storageLevel == StorageLevel.MEMORY_AND_DISK)
      } finally p.unpersist()
    }

    test("materialized cuts the result and unpersists its release frames") {
      val hot = Pin.warmed(frame)
      val out = Pin.materialized(hot.groupBy("k").count(), hot)
      assert(hot.storageLevel == StorageLevel.NONE)
      cutRdd(out)
      assert(out.count() == 7)
    }

    test("planDumpMode: materialized returns the input plan, checkpointed still cuts") {
      val hot = Pin.warmed(frame)
      val result = hot.groupBy("k").count()
      QueryPack.planDumpMode = true
      try {
        assert(Pin.materialized(result, hot) eq result)
        assert(hot.storageLevel == StorageLevel.MEMORY_AND_DISK, "dump mode releases nothing")
        cutRdd(Pin.checkpointed(result))
      } finally {
        QueryPack.planDumpMode = false
        hot.unpersist()
      }
    }

    test("with no checkpoint dir, a cut is executor-local and writes no file") {
      assert(spark.sparkContext.getCheckpointDir.isEmpty)
      val (out, actions) = actionsOf(Pin.checkpointed(frame))
      assert(actions == 1)
      assert(cutRdd(out).getCheckpointFile.isEmpty)
    }
  }
}
