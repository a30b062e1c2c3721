package graft

import org.scalatest.funsuite.AnyFunSuite

/** ann_ivf_pq — the FAISS-IVFPQ composite: coarse probe bounds WHICH
  * vectors are touched, PQ ADC bounds the bytes per touched vector. */
class IvfPqSpec extends AnyFunSuite {
  import SparkTest._

  test("ivfPq results are PQ-scored members of the probed lists only") {
    val got = sim.Similarity.ivfPqTopK(spark, sf).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cand")) ->
        r.getAs[Double]("pq_score")).toMap
    assert(got.nonEmpty)
    // every emitted (qid, cand) carries the SAME score the plain-PQ path
    // assigns that pair — the composition changes the candidate set, never
    // the scoring math
    val pqAll = sim.Similarity.pqTopK(spark, sf).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cand")) ->
        r.getAs[Double]("pq_score")).toMap
    val shared = got.keySet.intersect(pqAll.keySet)
    shared.foreach { k => assert(got(k) == pqAll(k), s"score drift at $k") }
    // and the IVF restriction is real: for at least one query the probed
    // top-3 differs from the all-corpus PQ top-3 (nprobe=2 of 32 lists)
    val perQ = got.keySet.groupBy(_._1)
    val pqPerQ = pqAll.keySet.groupBy(_._1)
    assert(perQ.keys.forall(q => perQ(q).size <= 3))
    assert(perQ.exists { case (q, ks) => pqPerQ.get(q).exists(_ != ks) } ||
      shared.size < pqAll.size,
      "IVF probing restricted nothing — nprobe covers the whole corpus?")
  }

  test("ivfPq plan: LUT and probes broadcast; no full-precision corpus x queries scan") {
    spark.catalog.clearCache()
    val plan = sim.Similarity.ivfPqTopK(spark, sf).queryExecution.executedPlan.toString
    // the only corpus x constant-dim crosses are the two O(n*K) assignment
    // passes (centroids, PQ codebook explode) — both against broadcast
    // constant-size dims, never corpus x queries at full precision
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      plan.take(600))
    assert(!plan.contains("SortMergeJoin"),
      "all dims are bounded and must broadcast:\n" + plan.take(900))
    assert(!plan.contains("CartesianProduct"), plan.take(600))
  }
}
