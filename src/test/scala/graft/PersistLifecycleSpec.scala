package graft

import org.scalatest.funsuite.AnyFunSuite

/** r10 (VERDICT r9 #7): the three r9 persists (geo_cluster's signup frame,
  * xcorr's count dim + moment grid, series-lsh's udb) are never unpersisted
  * by their builders — a builder returns a LAZY frame, so it cannot
  * unpersist without recomputing for the consumer. The documented ownership
  * protocol is SESSION-level: every repeated-invocation caller in this repo
  * (Bench, Verify, Dev) consumes each query through `LocalSpark.consume`,
  * which calls `spark.catalog.clearCache()` after it. This spec pins that
  * the protocol actually reclaims the blocks — repeated invocations under the protocol do NOT
  * grow the persisted-RDD set — so a long-lived session (GraftApp-style
  * driver loop) following it cannot leak cache blocks across invocations.
  */
class PersistLifecycleSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.spark
  private val sf = SparkTest.sf

  private def persistedCount: Int = spark.sparkContext.getPersistentRDDs.size

  test("clearCache() protocol reclaims every per-query persist across repeated invocations") {
    spark.catalog.clearCache()
    assert(persistedCount == 0, "pre-condition: clean cache")
    // the three rows VERDICT r9 flagged, run twice each under the protocol
    val rows = Seq("geo_cluster", "ev_xcorr", "ev_series_lsh")
    (1 to 2).foreach { _ =>
      rows.foreach { name =>
        LocalSpark.consume(spark) {
          SparkEntry.queries(name)(spark, sf).count()
          assert(persistedCount > 0,
            s"$name should persist at least one frame while consuming")
        }
        assert(persistedCount == 0,
          s"$name left persisted RDDs after clearCache() — the documented " +
            "session-ownership protocol would leak in a long-lived session")
      }
    }
  }

  test("graft.Dev plan and time leave the shared session running and uncached") {
    val out = java.nio.file.Files.createTempDirectory("graft_dev_plan")
    Dev.plan(spark, sf, out.toString, Some(Set("q1_agg")))
    Dev.time(spark, sf, Seq("q1_agg"))
    val plan = java.nio.file.Files.readString(out.resolve("q1_agg.txt"))
    assert(plan.contains("== Physical Plan =="), plan)
    assert(!spark.sparkContext.isStopped && spark.range(3).count() == 3,
      "a Dev mode must not stop the session it is given")
    assert(persistedCount == 0)
  }
}
