package graft

import org.scalatest.funsuite.AnyFunSuite

class SamplingSpec extends AnyFunSuite {
  import SparkTest._

  test("stratified sample is deterministic and respects per-stratum rates") {
    val a = sample.Sampling.stratified(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted
    val b = sample.Sampling.stratified(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted
    assert(a.sameElements(b), "hash sampling must be run-stable")
    // kept fraction tracks the configured rate (hash-uniformity tolerance)
    val total = Tables(spark, sf).documents.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = a.groupBy(_._2).view.mapValues(_.length).toMap
    sample.Sampling.rates.foreach { case (lang, rate) =>
      val frac = kept.getOrElse(lang, 0).toDouble / total(lang)
      assert(math.abs(frac - rate / 100.0) < 0.25, s"$lang kept $frac vs rate $rate%")
    }
  }

  test("reservoir keeps exactly K per stratum with contiguous ranks") {
    val rows = sample.Sampling.reservoir(spark, sf).collect()
    val byLang = rows.groupBy(_.getString(1))
    assert(byLang.keySet == sample.Sampling.rates.map(_._1).toSet)
    byLang.values.foreach { rs =>
      assert(rs.length == sample.Sampling.reservoirK)
      assert(rs.map(_.getLong(2)).sorted.sameElements(1L to sample.Sampling.reservoirK))
    }
  }

  test("st_reservoir keeps exactly K per stratum with contiguous ranks " +
      "and matches the batch hash order") {
    val rows = streaming.StreamOps.stReservoir(spark, sf).collect()
    val byLang = rows.groupBy(_.getAs[String]("lang"))
    byLang.values.foreach { rs =>
      assert(rs.length == streaming.StreamOps.stReservoirK)
      assert(rs.map(_.getAs[Long]("rn")).sorted
        .sameElements(1L to streaming.StreamOps.stReservoirK.toLong))
    }
  }

  test("samp_split partitions the corpus: every doc in exactly one split, " +
      "all three splits populated, zero shuffles") {
    val rows = sample.Sampling.split(spark, sf).collect()
    val total = Tables(spark, sf).documents.count()
    assert(rows.length == total, "split must cover every doc exactly once")
    val bySplit = rows.groupBy(_.getAs[String]("split")).view.mapValues(_.length).toMap
    assert(bySplit.keySet == Set("train", "valid", "test"), bySplit.toString)
    // train holds the bulk (90% nominal; hash-uniformity tolerance)
    assert(bySplit("train").toDouble / total > 0.75, bySplit.toString)
    val plan = sample.Sampling.split(spark, sf).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), "split must be map-side math:\n" + plan.take(600))
  }

  test("dd_source_matrix conserves the candidate pairs and canonicalizes") {
    val cells = dedup.Dedup.sourceMatrix(spark, sf).collect()
    val nPairs = dedup.Dedup.minhashLsh(spark, sf).count()
    assert(cells.map(_.getAs[Long]("n_dup_pairs")).sum == nPairs,
      "matrix cells must sum to the candidate pair count")
    cells.foreach { r =>
      assert(r.getAs[String]("source_a") <= r.getAs[String]("source_b"), r.toString)
    }
  }

  test("samp_dsir: weights positive; target-domain docs average higher weight") {
    import org.apache.spark.sql.functions._
    val w = sample.Sampling.dsir(spark, sf)
    val rows = w.collect()
    assert(rows.length == Tables(spark, sf).documents.count())
    rows.foreach(r => assert(r.getAs[Double]("dsir_weight") > 0.0))
    // the estimator's point: documents FROM the target sources must score
    // higher under the target LM than the rest of the corpus on average
    val bySrc = w.join(Tables(spark, sf).documents.select("doc_id", "source"), "doc_id")
      .withColumn("is_target",
        col("source").isin(sample.Sampling.dsirTargetSources: _*))
      .groupBy(col("is_target")).agg(avg(col("dsir_weight")).as("mw"))
      .collect().map(r => (r.getAs[Boolean]("is_target"), r.getAs[Double]("mw"))).toMap
    assert(bySrc(true) > bySrc(false),
      s"target mean ${bySrc(true)} must exceed non-target ${bySrc(false)}")
  }

  test("samp_cluster: exact-K quota per semantic cluster, small clusters survive whole") {
    import spark.implicits._
    val k = sim.Similarity.clusterSampleK
    val rows = sim.Similarity.clusterSample(spark, sf).collect()
      .map(r => (r.getAs[Long]("cid"), r.getAs[Long]("vec_id"),
        r.getAs[Long]("cluster_size"), r.getAs[Long]("rank")))
    assert(rows.nonEmpty)
    val byCluster = rows.groupBy(_._1)
    byCluster.foreach { case (cid, members) =>
      val size = members.head._3
      assert(members.forall(_._3 == size), s"cluster $cid size disagreement")
      // kept count: whole cluster when under quota, exactly K otherwise
      assert(members.length == math.min(size, k.toLong), s"cluster $cid quota")
      // ranks are dense 1..kept — the quota is a rank cut, not a filter scan
      assert(members.map(_._4).sorted.toSeq == (1L to members.length).toSeq)
    }
    // the quota must actually bite somewhere on the corpus
    assert(byCluster.values.exists(_.head._3 > k))
    // every sf0.01 cluster is over quota, so the under-quota branch needs a
    // crafted assignment: cluster 1 has 3 members (< K, survives whole),
    // cluster 2 has K+12 (cut to exactly K)
    val crafted = ((1 to 3).map(i => (1L, i.toLong)) ++
      (1 to k + 12).map(i => (2L, 100L + i))).toDF("cid", "vec_id")
    val quota = sim.Similarity.quotaSample(crafted, k).collect()
      .map(r => (r.getAs[Long]("cid"), r.getAs[Long]("vec_id")))
    assert(quota.count(_._1 == 1L) == 3, "under-quota cluster must survive whole")
    assert(quota.filter(_._1 == 1L).map(_._2).toSet == Set(1L, 2L, 3L))
    assert(quota.count(_._1 == 2L) == k, "over-quota cluster cut to exactly K")
  }

  test("tx_pii redacts every detected email and ip") {
    val rows = text.TextOps.pii(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val red = r.getAs[String]("redacted")
      assert(r.getAs[Long]("n_emails") >= 1 && red.contains("<EMAIL>"))
      assert(r.getAs[Long]("n_ips") >= 1 && red.contains("<IP>"))
      assert(!red.matches(".*[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+.*"), s"email survived: $red")
    }
  }

  test("samp_leakage: pair mass conserved; cross-split rows are the leaks") {
    val pairs = dedup.Dedup.minhashLsh(spark, sf).count()
    val rows = sample.Sampling.leakage(spark, sf).collect()
    assert(rows.nonEmpty)
    // every candidate pair lands in exactly one (split_lo, split_hi) cell
    assert(rows.map(_.getAs[Long]("n_pairs")).sum == pairs)
    rows.foreach { r =>
      val (lo, hi) = (r.getString(0), r.getString(1))
      assert(lo <= hi, "cells must be canonicalized")
      assert(r.getAs[Boolean]("leaky") == (lo != hi))
    }
    // the 90/5/5 split over a near-dup-rich corpus should exhibit at least
    // one real leak — otherwise the audit never exercises its reason to exist
    assert(rows.exists(r => r.getAs[Boolean]("leaky") && r.getAs[Long]("n_pairs") > 0))
  }

  test("samp_upsample: copies bracketed by floor/ceil of the boost; fully deterministic") {
    val boosts = sample.Sampling.temperature(spark, sf).collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Double]("boost")).toMap
    def run() = sample.Sampling.upsample(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1)
    val r1 = run()
    assert(r1.nonEmpty)
    r1.foreach { case (src, nOrig, nKept, nRows, _) =>
      val b = boosts(src)
      assert(nRows >= math.floor(b).toLong * nOrig && nRows <= math.ceil(b).toLong * nOrig,
        s"$src: $nRows copies outside [floor, ceil]*$nOrig for boost $b")
      assert(nKept <= nOrig)
    }
    // the hash gate makes the materialization run-invariant
    assert(run().sameElements(r1))
  }
}
