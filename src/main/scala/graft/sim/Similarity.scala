package graft.sim

import graft.Tables
import graft.functions.Portable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over `embeddings` (SURVEY §2d) + embedding near-dup
  * (§2c #26).
  *
  * Cosines are ordered folds over double arrays; outputs are rounded to 6dp
  * because engine summation order differs at the 1e-16 level. Scale shapes:
  *  - brute force: query set broadcast against the corpus scan — O(n·q) map
  *    work, one shuffle for the per-query top-k (partial top-k per
  *    partition via window over a small rank domain).
  *  - LSH: 4 anchor hyperplanes → 16 sign buckets; candidates only join
  *    within a bucket. Anchors are corpus rows (deterministic, portable);
  *    production swaps in learned/random hyperplanes + multi-probe.
  */
object Similarity {

  private def emb(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables(spark, sfDir).embeddings
      .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("v"))
    // norms once per row; every cosine is then one VectorDot + one divide.
    // Zero-norm vectors have no direction and are EXCLUDED here (mirrored
    // in embCte): without the shared guard a 0/0 cosine is NULL in Spark
    // but NaN in DuckDB — and DuckDB sorts NaN above every value, so one
    // zero vector would top every oracle top-k while vanishing from the
    // engine's (quantTopK guards its own path; this covers the other nine)
    base.withColumn("nrm", sqrt(graft.plans.VectorDot(col("v"), col("v"))))
      .filter(col("nrm") > 0)
  }

  private val embCte: String =
    """e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      |      WHERE list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)) > 0)""".stripMargin

  val numAnchors = 4

  /** Sign-pattern bucket of `v` against the first 4 corpus vectors. */
  private def bucketed(spark: SparkSession, sfDir: String): DataFrame = {
    val e = emb(spark, sfDir)
    val anchors = e.filter(col("vec_id") < numAnchors)
      .select(col("vec_id").as("aid"), col("v").as("av"))
    e.crossJoin(broadcast(anchors))
      .groupBy(col("vec_id"), col("label"))
      .agg(sum(when(graft.plans.VectorDot(col("v"), col("av")) > 0,
        pow(lit(2.0), col("aid")).cast("long")).otherwise(0L)).as("bucket"))
  }

  private val bucketedCte: String =
    s"""anchors AS (SELECT vec_id AS aid, v AS av FROM e WHERE vec_id < $numAnchors),
       |buckets AS (
       |  SELECT e.vec_id, e.label,
       |    sum(CASE WHEN ${Portable.cosineSql("e.v", "av")} > 0
       |      THEN CAST(2 ** aid AS BIGINT) ELSE 0 END) AS bucket
       |  FROM e CROSS JOIN anchors GROUP BY 1, 2)""".stripMargin

  // NB: bucket sign uses cosine (not raw dot) on the SQL side and dot on the
  // Spark side — identical signs since norms are positive. Kept as cosine in
  // SQL to reuse the helper.

  // ---- #27 brute-force top-k ----------------------------------------------

  val topK = 5
  val numQueries = 10

  def bruteTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val e = emb(spark, sfDir)
    val q = e.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qnrm"))
    val scored = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cand"),
        round(graft.plans.VectorDot(col("v"), col("qv")) / (col("nrm") * col("qnrm")), 6).as("cos"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cand").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= topK)
  }

  val bruteTopKSql: String =
    s"""WITH $embCte,
       |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < $numQueries),
       |scored AS (
       |  SELECT qid, e.vec_id AS cand,
       |    round(${Portable.cosineSql("e.v", "qv")}, 6) AS cos
       |  FROM e CROSS JOIN q WHERE e.vec_id <> qid)
       |SELECT qid, cand, cos, rank FROM (
       |  SELECT qid, cand, cos,
       |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cand ASC) AS rank
       |  FROM scored) t
       |WHERE rank <= $topK""".stripMargin

  // ---- #28 LSH-bucketed top-k ---------------------------------------------

  def lshTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val e = emb(spark, sfDir)
    val b = bucketed(spark, sfDir).select(col("vec_id"), col("bucket"))
    val eb = e.join(b, "vec_id").persist() // feeds query side + candidate side
    val q = eb.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qnrm"),
        col("bucket").as("qb"))
    val scored = eb.join(broadcast(q),
        col("bucket") === col("qb") && col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cand"),
        round(graft.plans.VectorDot(col("v"), col("qv")) / (col("nrm") * col("qnrm")), 6).as("cos"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cand").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= 3)
  }

  val lshTopKSql: String =
    s"""WITH $embCte,
       |$bucketedCte,
       |eb AS (SELECT e.vec_id, e.v, b.bucket FROM e JOIN buckets b ON e.vec_id = b.vec_id),
       |q AS (SELECT vec_id AS qid, v AS qv, bucket AS qb FROM eb WHERE vec_id < $numQueries),
       |scored AS (
       |  SELECT qid, eb.vec_id AS cand,
       |    round(${Portable.cosineSql("eb.v", "qv")}, 6) AS cos
       |  FROM eb JOIN q ON eb.bucket = qb AND eb.vec_id <> qid)
       |SELECT qid, cand, cos, rank FROM (
       |  SELECT qid, cand, cos,
       |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cand ASC) AS rank
       |  FROM scored) t
       |WHERE rank <= 3""".stripMargin

  // ---- multi-table quantized-projection LSH (self-join candidate gen) -----

  /** Self-join candidate generation for near-dup / kNN over the whole
    * corpus. Sign buckets from a constant anchor count don't scale: 4
    * anchors is 16 buckets forever, so per-bucket self-join work degrades
    * toward O(n²/16). Instead:
    *  - `numTables` OR-ed hash tables, each keyed by `projPerTable`
    *    QUANTIZED cosine projections (floor(cos/quantW)) against its own
    *    anchors — ~(2/quantW)^projPerTable ≈ 1600 key values per table,
    *    two orders beyond sign-bucketing, and occupied-bucket count grows
    *    with the corpus's spread;
    *  - a per-bucket membership cap (`bucketCap`, the `maxDf` pattern from
    *    n-gram dedup): buckets keep their first `bucketCap` members by
    *    vec_id, so candidate work is bounded O(n·tables·cap) under ANY key
    *    distribution — skew cannot reintroduce the quadratic blowup.
    * Pairs found by several tables dedupe through one `distinct` (the
    * dd_minhash contract). */
  val numTables = 4
  val projPerTable = 2
  val quantW = 0.05
  val bucketCap = 512

  /** (vec_id, tbl, bkey) rows after the cap: ≤ numTables rows per vector,
    * ≤ bucketCap rows per (tbl, bkey). */
  private[graft] def quantKeyed(spark: SparkSession, sfDir: String): DataFrame = {
    val e = emb(spark, sfDir)
    val anchors = e.filter(col("vec_id") < numTables * projPerTable)
      .select(col("vec_id").as("aid"), col("v").as("av"), col("nrm").as("anrm"))
    // per (vector, table): pack the table's quantized projections into one
    // int key — slot i multiplier 4096^i, +32 offset keeps slots positive
    val keyed = e.crossJoin(broadcast(anchors))
      .select(col("vec_id"),
        expr(s"CAST(aid DIV $projPerTable AS INT)").as("tbl"),
        ((floor(round(graft.plans.VectorDot(col("v"), col("av"))
            / (col("nrm") * col("anrm")), 6) / quantW) + 32L)
          * when(pmod(col("aid"), lit(projPerTable)) === 0, 1L).otherwise(4096L))
          .as("slot"))
      .groupBy(col("vec_id"), col("tbl"))
      .agg(sum(col("slot")).as("bkey"))
    val wCap = Window.partitionBy(col("tbl"), col("bkey")).orderBy(col("vec_id"))
    keyed.withColumn("rn", row_number().over(wCap))
      .filter(col("rn") <= bucketCap)
      .select(col("vec_id"), col("tbl"), col("bkey"))
  }

  private val quantKeyedCte: String =
    s"""anchors AS (SELECT vec_id AS aid, v AS av FROM e
       |  WHERE vec_id < ${numTables * projPerTable}),
       |keyed AS (
       |  SELECT e.vec_id, CAST(aid // $projPerTable AS INT) AS tbl,
       |    sum((floor(round(${Portable.cosineSql("e.v", "av")}, 6) / $quantW) + 32)
       |        * CASE WHEN aid % $projPerTable = 0 THEN 1 ELSE 4096 END) AS bkey
       |  FROM e CROSS JOIN anchors GROUP BY 1, 2),
       |capped AS (
       |  SELECT vec_id, tbl, bkey FROM keyed
       |  QUALIFY row_number() OVER (PARTITION BY tbl, bkey ORDER BY vec_id)
       |    <= $bucketCap)""".stripMargin

  /** Undirected candidate pairs (id_a < id_b) from any shared (tbl, bkey). */
  def selfJoinCandidates(spark: SparkSession, sfDir: String): DataFrame = {
    // persist: both self-join sides read ONE materialization of the keyed
    // table (the dd_minhash/dd_spans convention) — without it the whole
    // anchor cross-join + cap window runs twice, once per side
    val k = quantKeyed(spark, sfDir).persist()
    k.as("a").join(k.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.bkey") === col("b.bkey") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
      .distinct()
  }

  private val candidatesCte: String =
    s"""$quantKeyedCte,
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM capped a JOIN capped b
       |    ON a.tbl = b.tbl AND a.bkey = b.bkey AND a.vec_id < b.vec_id)""".stripMargin

  // ---- #26 embedding-cosine near-dup (capped multi-table LSH) -------------

  def embedNearDup(spark: SparkSession, sfDir: String): DataFrame = {
    val e = emb(spark, sfDir).select(col("vec_id"), col("v"), col("nrm")).persist()
    selfJoinCandidates(spark, sfDir)
      .join(e.select(col("vec_id").as("id_a"), col("v").as("va"), col("nrm").as("na")), "id_a")
      .join(e.select(col("vec_id").as("id_b"), col("v").as("vb"), col("nrm").as("nb")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(graft.plans.VectorDot(col("va"), col("vb")) / (col("na") * col("nb")), 6)
          .as("cos"))
      .filter(col("cos") >= 0.3)
  }

  val embedNearDupSql: String =
    s"""WITH $embCte,
       |$candidatesCte
       |SELECT id_a, id_b,
       |  round(${Portable.cosineSql("a.v", "b.v")}, 6) AS cos
       |FROM cand JOIN e a ON a.vec_id = id_a JOIN e b ON b.vec_id = id_b
       |WHERE round(${Portable.cosineSql("a.v", "b.v")}, 6) >= 0.3""".stripMargin

  // ---- IVF-style ANN: coarse quantize to centroids, probe nearest lists ---

  val nprobe = 2

  /** IVF coarse-quantizer size: a CONSTANT independent of corpus size, so
    * centroid assignment stays O(n·K) — real IVF trains K=Θ(√n_target)
    * centroids once and holds them fixed as the corpus grows; deriving
    * centroid count from the corpus (e.g. every 50th row) would make
    * assignment O(n²/50), asymptotically worse than brute force. */
  val numCentroids = 32

  private def centroids(spark: SparkSession, sfDir: String): DataFrame =
    emb(spark, sfDir).filter(col("vec_id") < numCentroids)
      .select(col("vec_id").as("cid"), col("v").as("cv"), col("nrm").as("cnrm"))

  /** Every vector assigned to its max-cosine centroid: (vec_id, v, nrm,
    * cid). One O(n·K) broadcast pass + a per-vector argmax window — the
    * coarse-quantization step shared by IVF probing and SemDeDup. */
  private def assignedLists(spark: SparkSession, sfDir: String): DataFrame =
    assignedListsWith(spark, sfDir, centroids(spark, sfDir))

  private def assignedListsWith(spark: SparkSession, sfDir: String,
      cents: DataFrame): DataFrame = {
    val e = emb(spark, sfDir)
    val simToCent = e.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("v"), col("nrm"), col("cid"),
        round(graft.plans.VectorDot(col("v"), col("cv")) / (col("nrm") * col("cnrm")), 6)
          .as("ccos"))
    // argmax as a partial-aggregable max_by (the kmAssign move): the K
    // candidate rows per vector are map-local, so the exchange carries n
    // rows and nothing sorts; ties (ccos desc, cid asc) via struct order
    simToCent.groupBy(col("vec_id"))
      .agg(max_by(struct(col("v"), col("nrm"), col("cid")),
        struct(col("ccos"), (-col("cid")).as("nc"))).as("best"))
      .select(col("vec_id"), col("best.v").as("v"), col("best.nrm").as("nrm"),
        col("best.cid").as("cid"))
  }

  /** sims→assigned→lists over a coarse-quantizer CTE named `cents(cid,
    * cv)` — shared verbatim by the first-N and trained-centroid oracles, so
    * a probe-logic fix cannot drift between them (mirrors the Scala
    * factoring: [[assignedListsWith]] is quantizer-agnostic). */
  private val assignChainCte: String =
    s"""sims AS (
       |  SELECT e.vec_id, cid,
       |    round(${Portable.cosineSql("e.v", "cv")}, 6) AS ccos
       |  FROM e CROSS JOIN cents),
       |assigned AS (
       |  SELECT vec_id, cid, ccos,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid ASC) AS crn
       |  FROM sims),
       |lists AS (
       |  SELECT a.vec_id, e.v, a.cid FROM assigned a JOIN e ON a.vec_id = e.vec_id
       |  WHERE a.crn = 1)""".stripMargin

  private val assignedCte: String =
    s"""cents AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < $numCentroids),
       |$assignChainCte""".stripMargin

  /** IVF without the training step: the first `numCentroids` corpus vectors
    * serve as centroids ("trained" centroids drop in identically). Vectors
    * are assigned to their max-cosine centroid (one shuffle on cluster_id);
    * queries probe the `nprobe` nearest centroid lists only — the candidate
    * set shrinks by ~n_clusters/nprobe vs brute force, the classic
    * recall/throughput dial. */
  def ivfTopK(spark: SparkSession, sfDir: String): DataFrame =
    ivfTopKWith(spark, sfDir, centroids(spark, sfDir))

  /** The shared probe-and-score stage over an arbitrary coarse quantizer
    * `(cid, cv, cnrm)`: every (query, probed-list candidate) exact cosine
    * — the top-k cut (ivf_topk) and the radius cut (ann_radius) are two
    * consumers of this one frame. */
  private def probedScoresWith(spark: SparkSession, sfDir: String,
      cents: DataFrame): DataFrame = {
    val e = emb(spark, sfDir)
    val wAssign = Window.partitionBy(col("vec_id")).orderBy(col("ccos").desc, col("cid").asc)
    val lists = assignedListsWith(spark, sfDir, cents).persist()
    // probe assignment depends only on the query row itself — recompute it
    // on just the `numQueries` rows instead of re-running the corpus-wide
    // assignment window a second time
    val probes = e.filter(col("vec_id") < numQueries).crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cid"),
        round(graft.plans.VectorDot(col("v"), col("cv")) / (col("nrm") * col("cnrm")), 6)
          .as("ccos"))
      .withColumn("crn", row_number().over(wAssign))
      .filter(col("crn") <= nprobe)
      .select(col("vec_id").as("qid"), col("cid").as("pcid"))
    val q = lists.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qnrm"))
      .join(probes, "qid")
    lists.join(broadcast(q),
        col("cid") === col("pcid") && col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cand"),
        round(graft.plans.VectorDot(col("v"), col("qv")) / (col("nrm") * col("qnrm")), 6)
          .as("cos"))
  }

  /** The probe pipeline over an arbitrary coarse quantizer `(cid, cv,
    * cnrm)` — the first-N default and the k-means-trained table run the
    * identical plan. */
  def ivfTopKWith(spark: SparkSession, sfDir: String, cents: DataFrame): DataFrame = {
    val scored = probedScoresWith(spark, sfDir, cents)
    val wRank = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cand").asc)
    scored.withColumn("rank", row_number().over(wRank)).filter(col("rank") <= 3)
  }

  /** IVF index-health audit — the readout a production vector deployment
    * monitors between rebuilds: per centroid, its inverted-list occupancy
    * (skewed lists are the IVF failure mode — probe latency is the MAX
    * list touched, so one hot list throttles every query routed to it),
    * its share of the corpus, the load factor vs perfect balance, and the
    * assignment-quality cosines (a list whose members barely cohere to
    * their centroid is a retrain signal). Numerics are order-proof: each
    * member's centroid cosine is already rounded to 6dp; the mean
    * aggregates them as EXACT 1e6-scaled BIGINTs (sum order invariant)
    * with ONE double division at the end; min/max need no sums at all.
    * Scale shape: rides the same O(n·K) assignment pass as ann_ivf_topk,
    * then one K-row aggregation. */
  def ivfStats(spark: SparkSession, sfDir: String): DataFrame = {
    val cents = centroids(spark, sfDir)
    val e = emb(spark, sfDir)
    val assigned = e.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cid"),
        round(graft.plans.VectorDot(col("v"), col("cv")) / (col("nrm") * col("cnrm")), 6)
          .as("ccos"))
      .groupBy(col("vec_id"))
      .agg(max_by(struct(col("cid"), col("ccos")),
        struct(col("ccos"), (-col("cid")).as("nc"))).as("best"))
      .select(col("vec_id"), col("best.cid").as("cid"), col("best.ccos").as("ccos"))
    val lists = assigned.groupBy(col("cid"))
      .agg(count(lit(1)).as("n_vecs"),
        min(col("ccos")).as("min_cos"), max(col("ccos")).as("max_cos"),
        sum(round(col("ccos") * 1e6).cast("long")).as("sum_e6"))
    val total = lists.agg(sum(col("n_vecs")).as("total"))
    lists.crossJoin(broadcast(total))
      .select(col("cid"), col("n_vecs"),
        round(col("n_vecs").cast("double") / col("total"), 6).as("share"),
        round(col("n_vecs").cast("double") * numCentroids / col("total"), 6)
          .as("load_factor"),
        col("min_cos"), col("max_cos"),
        round(col("sum_e6").cast("double") / col("n_vecs") / 1e6, 6).as("mean_cos"))
  }

  val ivfStatsSql: String =
    s"""WITH $embCte,
       |$assignedCte,
       |lsts AS (
       |  SELECT cid, CAST(count(*) AS BIGINT) AS n_vecs,
       |    min(ccos) AS min_cos, max(ccos) AS max_cos,
       |    CAST(sum(CAST(round(ccos * 1e6) AS BIGINT)) AS BIGINT) AS sum_e6
       |  FROM assigned WHERE crn = 1 GROUP BY cid),
       |tot AS (SELECT CAST(sum(n_vecs) AS BIGINT) AS total FROM lsts)
       |SELECT cid, n_vecs,
       |  round(CAST(n_vecs AS DOUBLE) / total, 6) AS share,
       |  round(CAST(n_vecs AS DOUBLE) * $numCentroids / total, 6) AS load_factor,
       |  min_cos, max_cos,
       |  round(CAST(sum_e6 AS DOUBLE) / n_vecs / 1e6, 6) AS mean_cos
       |FROM lsts CROSS JOIN tot""".stripMargin

  /** Radius threshold for [[radiusSearch]]. */
  val radiusTau = 0.25

  /** RANGE (radius) search — the similarity-search dual of top-k (FAISS
    * `range_search`): every probed candidate with cosine ≥ [[radiusTau]],
    * however many or few that is per query. This is the retrieval shape
    * dedup gates and near-duplicate filters actually want — "everything
    * at least this similar", where a fixed k either truncates a dense
    * neighborhood or pads a sparse one with junk. Rides the identical
    * IVF probe stage as ann_ivf_topk (O(n·K) assignment, nprobe lists
    * per query, exact re-score on candidates only); the cut is a
    * codegen'd filter instead of a rank window — no per-query sort at
    * all, so output cost is exactly the matching rows. */
  def radiusSearch(spark: SparkSession, sfDir: String): DataFrame =
    probedScoresWith(spark, sfDir, centroids(spark, sfDir))
      .filter(col("cos") >= radiusTau)

  /** probes→q→scored over the [[assignChainCte]] names — the SQL twin of
    * [[probedScoresWith]], shared by the top-k and radius selects. */
  private val probeScoredCte: String =
    s"""probes AS (
       |  SELECT vec_id AS qid, cid AS pcid FROM assigned
       |  WHERE vec_id < $numQueries AND crn <= $nprobe),
       |q AS (
       |  SELECT l.vec_id AS qid, l.v AS qv, p.pcid
       |  FROM lists l JOIN probes p ON l.vec_id = p.qid
       |  WHERE l.vec_id < $numQueries),
       |scored AS (
       |  SELECT q.qid, l.vec_id AS cand,
       |    round(${Portable.cosineSql("l.v", "qv")}, 6) AS cos
       |  FROM lists l JOIN q ON l.cid = q.pcid AND l.vec_id <> q.qid)""".stripMargin

  /** probes→q→scored + final top-3 cut over the [[assignChainCte]] names —
    * the second quantizer-agnostic half of the shared probe pipeline. */
  private val probeSelectSql: String =
    s"""$probeScoredCte
       |SELECT qid, cand, cos, rank FROM (
       |  SELECT qid, cand, cos,
       |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cand ASC) AS rank
       |  FROM scored) t
       |WHERE rank <= 3""".stripMargin

  val radiusSearchSql: String =
    s"""WITH $embCte,
       |$assignedCte,
       |$probeScoredCte
       |SELECT qid, cand, cos FROM scored WHERE cos >= $radiusTau""".stripMargin

  val ivfTopKSql: String =
    s"""WITH $embCte,
       |$assignedCte,
       |$probeSelectSql""".stripMargin

  // ---- SemDeDup: cluster-bucketed semantic dedup --------------------------

  /** Cosine threshold above which two same-cluster vectors count as
    * semantic duplicates (SemDeDup, Abbas et al. 2023). Kept low for the
    * near-uniform synthetic embeddings; production corpora run 0.9+. */
  val semDupTau = 0.3

  /** SemDeDup: coarse k-means bucketing, then pairwise cosine ONLY within a
    * cluster; a vector is dropped when a lower-id cluster-mate sits within
    * `semDupTau` (min-id keeper — deterministic, no transitive chaining).
    * Exactly the paper's shape re-expressed as one assignment pass
    * (O(n·K), centroids broadcast) + one shuffle on cluster_id + a
    * within-cluster self-join. Cluster sizes bound the pair work: K is
    * Θ(n/target_cluster_size) in production (constant here so the oracle is
    * deterministic), and the `bucketCap` pattern from the LSH tables drops
    * in unchanged if a degenerate corpus piles into one centroid. */
  def semDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val lists = assignedLists(spark, sfDir).persist()
    val pairs = lists.as("a").join(lists.as("b"),
        col("a.cid") === col("b.cid") && col("a.vec_id") < col("b.vec_id"))
      .select(col("b.vec_id").as("vec_id"),
        round(graft.plans.VectorDot(col("a.v"), col("b.v"))
          / (col("a.nrm") * col("b.nrm")), 6).as("cos"))
      .filter(col("cos") >= semDupTau)
    val dups = pairs.groupBy(col("vec_id")).agg(count(lit(1)).as("n_dups"))
    lists.select(col("vec_id"), col("cid"))
      .join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"),
        when(coalesce(col("n_dups"), lit(0L)) > 0, "drop").otherwise("keep").as("verdict"))
  }

  val semDedupSql: String =
    s"""WITH $embCte,
       |$assignedCte,
       |pairs AS (
       |  SELECT b.vec_id,
       |    round(${Portable.cosineSql("a.v", "b.v")}, 6) AS cos
       |  FROM lists a JOIN lists b ON a.cid = b.cid AND a.vec_id < b.vec_id),
       |dups AS (
       |  SELECT vec_id, count(*) AS n_dups FROM pairs
       |  WHERE cos >= $semDupTau GROUP BY 1)
       |SELECT l.vec_id, l.cid, coalesce(d.n_dups, 0) AS n_dups,
       |  CASE WHEN coalesce(d.n_dups, 0) > 0 THEN 'drop' ELSE 'keep' END AS verdict
       |FROM lists l LEFT JOIN dups d ON d.vec_id = l.vec_id""".stripMargin

  // ---- kNN join: every vector → its top-3 bucket neighbors ----------------

  /** Full kNN self-join (the "link every training example to its nearest
    * neighbors" pass used for near-dup audit and hard-negative mining):
    * the same capped multi-table candidate generation as [[embedNearDup]]
    * (candidate work O(n·tables·cap), never O(n²)); each undirected pair is
    * scored once, mirrored to both directions, and the per-vector top-3 is
    * a window over the candidate scores only. */
  def knnJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val e = emb(spark, sfDir).select(col("vec_id"), col("v"), col("nrm")).persist()
    val scored = selfJoinCandidates(spark, sfDir)
      .join(e.select(col("vec_id").as("id_a"), col("v").as("va"), col("nrm").as("na")), "id_a")
      .join(e.select(col("vec_id").as("id_b"), col("v").as("vb"), col("nrm").as("nb")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(graft.plans.VectorDot(col("va"), col("vb")) / (col("na") * col("nb")), 6)
          .as("cos"))
    val directed = scored.select(col("id_a").as("id"), col("id_b").as("nbr"), col("cos"))
      .unionAll(scored.select(col("id_b").as("id"), col("id_a").as("nbr"), col("cos")))
    val w = Window.partitionBy(col("id")).orderBy(col("cos").desc, col("nbr").asc)
    directed.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
  }

  val knnJoinSql: String =
    s"""WITH $embCte,
       |$candidatesCte,
       |scored AS (
       |  SELECT id_a, id_b,
       |    round(${Portable.cosineSql("a.v", "b.v")}, 6) AS cos
       |  FROM cand JOIN e a ON a.vec_id = id_a JOIN e b ON b.vec_id = id_b),
       |directed AS (
       |  SELECT id_a AS id, id_b AS nbr, cos FROM scored
       |  UNION ALL SELECT id_b, id_a, cos FROM scored)
       |SELECT id, nbr, cos, rank FROM (
       |  SELECT id, nbr, cos,
       |    row_number() OVER (PARTITION BY id ORDER BY cos DESC, nbr ASC) AS rank
       |  FROM directed) t
       |WHERE rank <= 3""".stripMargin

  // ---- top principal direction (power iteration) ---------------------------

  /** Power-iteration rounds for [[pca]] — fixed, like [[kmIters]]. */
  val pcaIters = 3

  /** Top principal direction of the (uncentered) embedding matrix by power
    * iteration — the rank-1 energy analysis under every whitening /
    * dimensionality-reduction / "is this embedding space collapsed?"
    * audit (a share → 1 means the embeddings have degenerated onto one
    * axis — the representation-collapse symptom): v ← Aᵥ/‖Aᵥ‖ with
    * A = ΣxxᵀV applied WITHOUT materializing A — each round is one
    * broadcast dot per row (s = x·v) and one per-dim sum (u_d = Σ x_d·s),
    * the standard distributed matvec that scales to any corpus at
    * O(n·dim) per round with dim-sized driver state. Determinism across
    * engines: v₀ = 1/8 exactly, and each round's normalized vector is
    * rounded to 6dp BEFORE the next round, so both engines fold
    * bit-identical inputs every round (the kmeansSql move); the final
    * eigenvalue is the last ‖Aᵥ‖ (the Rayleigh estimate) and
    * share = λ / trace(A) = λ / Σ‖x‖². Fixed-round contract, like
    * [[kmIters]]: rounds are a constant, not a convergence test — on a
    * spiked real-embedding spectrum 3 rounds land on the top direction;
    * on this synthetic near-flat spectrum the output is the deterministic
    * 3-round energy-ascent direction (each round provably increases ‖Aᵥ‖,
    * pinned in Round7OpsSpec), which is exactly what both engines
    * reproduce. */
  def pca(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = emb(spark, sfDir).select(col("v")).persist()
    var v: Seq[Double] = Seq.fill(64)(0.125)
    var lam = 0.0
    for (_ <- 0 until pcaIters) {
      val u = e
        .select(col("v"), graft.plans.VectorDot(col("v"), typedlit(v)).as("s"))
        .select(posexplode(col("v")).as(Seq("dim", "x")), col("s"))
        .groupBy(col("dim")).agg(sum(col("x") * col("s")).as("u"))
        .collect().map(r => r.getAs[Int]("dim") -> r.getAs[Double]("u"))
        .sortBy(_._1).map(_._2)
      lam = math.sqrt(u.map(x => x * x).sum)
      v = u.map(x => BigDecimal(x / lam)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble).toSeq
    }
    val trace = e.select(graft.plans.VectorDot(col("v"), col("v")).as("sq"))
      .agg(sum(col("sq"))).head().getDouble(0)
    val share = BigDecimal(lam / trace)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val lamOut = BigDecimal(lam).setScale(3, BigDecimal.RoundingMode.HALF_UP)
      .toDouble
    v.zipWithIndex
      .map { case (c, d) => (d.toLong, c, lamOut, share) }
      .toDF("dim", "pc", "eig", "share")
  }

  /** The same rounds unrolled as CTEs (the kmeansSql pattern). */
  val pcaSql: String = {
    val rounds = (1 to pcaIters).map { k =>
      val prev = s"v${k - 1}"
      s"""s$k AS (SELECT vec_id, sum(x * c) AS s
         |  FROM ev JOIN $prev USING (dim) GROUP BY 1),
         |u$k AS (SELECT ev.dim, sum(x * s) AS u
         |  FROM ev JOIN s$k USING (vec_id) GROUP BY 1),
         |n$k AS (SELECT sqrt(sum(u * u)) AS nn FROM u$k),
         |v$k AS (SELECT dim, round(u / nn, 6) AS c FROM u$k, n$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH $embCte,
       |ev AS (SELECT vec_id, i - 1 AS dim, v[i] AS x
       |  FROM e, LATERAL unnest(range(1, len(v) + 1)) t(i)),
       |v0 AS (SELECT CAST(i AS BIGINT) AS dim, 0.125 AS c
       |  FROM range(0, 64) t(i)),
       |$rounds,
       |tr AS (SELECT sum(x * x) AS tr FROM ev)
       |SELECT dim, c AS pc, round(nn, 3) AS eig, round(nn / tr, 6) AS share
       |FROM v$pcaIters, n$pcaIters, tr""".stripMargin
  }

  // ---- k-means training (Lloyd iterations) --------------------------------

  val kmK = 8
  val kmIters = 2

  /** One Lloyd assignment pass: every vector → its max-cosine centroid.
    * Centroids broadcast (K rows); ties broken (cos desc, cid asc) after
    * 6dp rounding so both engines agree. */
  private def kmAssign(e: DataFrame, cents: DataFrame): DataFrame = {
    val scored = e.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("v"), col("cid"),
        round(graft.plans.VectorDot(col("v"), col("cv")) / (col("nrm") * col("cnrm")), 6)
          .as("ccos"))
    // argmax as a PARTIAL-AGGREGABLE max_by (ties (ccos desc, cid asc) via
    // lexicographic struct order, identical to the former row_number cut):
    // the K candidate rows per vector are map-local (born of a broadcast
    // against co-located e rows), so the partial agg collapses n·K → n
    // BEFORE the exchange and nothing ever sorts
    scored.groupBy(col("vec_id"))
      .agg(max_by(col("cid"), struct(col("ccos"), (-col("cid")).as("nc")))
        .as("cid"))
  }

  /** Per-cluster mean vectors of an assignment, repacked as ordered arrays
    * (6dp-rounded per dimension — the mean is the only non-ordered fold in
    * the pipeline, and 1e-13 sum-order noise is far below the rounding).
    * Empty clusters vanish (standard Lloyd's with drop-empty policy). */
  private def kmMeans(e: DataFrame, assigned: DataFrame): DataFrame =
    // r9 OPT (guide §2.3/§2.4): one vector_mean aggregate replaces
    // posexplode + per-dim avg + collect_list repack — the 64× row
    // explosion and one of the two exchanges per Lloyd iteration are gone;
    // the 6dp per-dim rounding is applied to the same
    // (partial-aggregation-ordered) float mean as before.
    e.join(assigned, "vec_id")
      .groupBy(col("cid"))
      .agg(graft.plans.VectorMean.vectorMean(col("v")).as("mraw"))
      .select(col("cid"), transform(col("mraw"), x => round(x, 6)).as("cv"))
      .withColumn("cnrm", sqrt(graft.plans.VectorDot(col("cv"), col("cv"))))

  /** K-means centroid training (Lloyd's): the step the IVF and SemDeDup
    * docs defer to ("trained centroids drop in identically"). Each
    * iteration is one O(n·K) broadcast assignment + one per-dimension mean
    * — no pairwise work anywhere; K and the iteration count are constants,
    * so the whole training pass is a fixed number of linear scans at any
    * corpus size. Output: the iteration-`kmIters` centroid means (one row
    * per cluster × dimension) with final membership counts. */
  /** The Lloyd loop itself: (final centroids (cid, cv, cnrm), final
    * assignment) — shared by the declared long-format row below and the
    * IVF-over-trained-centroids probe (which previously re-collected the
    * arrays back OUT of the exploded row format). */
  private def kmeansFit(spark: SparkSession, sfDir: String): (DataFrame, DataFrame) = {
    val e = emb(spark, sfDir).select(col("vec_id"), col("v"), col("nrm")).persist()
    val seeds = e.filter(col("vec_id") < kmK)
      .select(col("vec_id").as("cid"), col("v").as("cv"), col("nrm").as("cnrm"))
    var cents = seeds
    var assigned: DataFrame = null
    for (_ <- 0 until kmIters) {
      val prev = assigned
      assigned = kmAssign(e, cents).persist()
      // materialize THIS iterate, then drop the previous one: without the
      // eager cut every iteration's n-row assignment stays pinned for the
      // whole query (kmIters × n rows of dead cache — the round-8 advice);
      // with it live cache is bounded at 2 iterates and total compute is
      // unchanged (each assignment was computed exactly once either way)
      assigned.count()
      if (prev != null) prev.unpersist()
      cents = kmMeans(e, assigned)
    }
    (cents, assigned)
  }

  def kmeans(spark: SparkSession, sfDir: String): DataFrame = {
    val (cents, assigned) = kmeansFit(spark, sfDir)
    val counts = assigned.groupBy(col("cid")).agg(count(lit(1)).as("n_members"))
    cents.select(col("cid"), posexplode(col("cv")))
      .select(col("cid"), col("pos").cast("long").as("dim"), col("col").as("m"))
      .join(counts, "cid")
      .select(col("cid"), col("n_members"), col("dim"), col("m"))
  }

  /** One rn=1 assignment cut over a scored CTE — shared SQL shape. */
  private def assignCutCte(scored: String) =
    s"""(SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid ASC) AS rn
       |    FROM $scored) t WHERE rn = 1)""".stripMargin

  /** The Lloyd-iteration CTE chain (seeds → assign → means, ×2) over the
    * CTE named `src` with seed predicate `seedPred` — shared by the
    * ann_kmeans / ann_ivf_trained oracles (src = the whole corpus) and the
    * ann_incremental oracle (src = the base split only). */
  private def kmeansCtesOn(src: String, seedPred: String): String =
    s"""c0 AS (SELECT vec_id AS cid, v AS cv FROM $src WHERE $seedPred),
       |s0 AS (SELECT $src.vec_id, c0.cid,
       |  round(${Portable.cosineSql(s"$src.v", "cv")}, 6) AS ccos FROM $src CROSS JOIN c0),
       |a0 AS ${assignCutCte("s0")},
       |ev AS (SELECT vec_id, i - 1 AS dim, v[i] AS x
       |  FROM $src, LATERAL unnest(range(1, len(v) + 1)) t(i)),
       |m1 AS (SELECT cid, dim, round(avg(x), 6) AS m
       |  FROM ev JOIN a0 USING (vec_id) GROUP BY 1, 2),
       |c1 AS (SELECT cid, list(m ORDER BY dim) AS cv FROM m1 GROUP BY 1),
       |s1 AS (SELECT $src.vec_id, c1.cid,
       |  round(${Portable.cosineSql(s"$src.v", "cv")}, 6) AS ccos FROM $src CROSS JOIN c1),
       |a1 AS ${assignCutCte("s1")},
       |m2 AS (SELECT cid, dim, round(avg(x), 6) AS m
       |  FROM ev JOIN a1 USING (vec_id) GROUP BY 1, 2)""".stripMargin

  private val kmeansCtes: String = kmeansCtesOn("e", s"vec_id < $kmK")

  val kmeansSql: String =
    s"""WITH $embCte,
       |$kmeansCtes,
       |counts AS (SELECT cid, count(*) AS n_members FROM a1 GROUP BY 1)
       |SELECT m2.cid, n_members, dim, m FROM m2 JOIN counts USING (cid)""".stripMargin

  // ---- IVF over TRAINED centroids -----------------------------------------

  /** The k-means centroids in the `(cid, cv, cnrm)` coarse-quantizer shape
    * the IVF probe consumes — the SAME [[kmeansFit]] arrays the declared
    * ann_kmeans row explodes (identical values by construction; the r9
    * optimization dropped the explode→collect_list representation
    * round-trip this used to pay to re-derive them from the row format).
    * Persisted: three probe-path references must not re-run the Lloyd
    * iterations. */
  private def trainedCentroids(spark: SparkSession, sfDir: String): DataFrame =
    // r9 OPT: consume the Lloyd loop's centroid arrays directly — the
    // previous form ran the declared row's posexplode + membership join and
    // then collect_list'd the arrays straight back (two aggregates and a
    // join for a representation round-trip). Same values by construction.
    kmeansFit(spark, sfDir)._1.persist()

  /** IVF with the training step: identical probe plan to [[ivfTopK]], coarse
    * quantizer swapped for the k-means-trained centroids. */
  def ivfTrainedTopK(spark: SparkSession, sfDir: String): DataFrame =
    ivfTopKWith(spark, sfDir, trainedCentroids(spark, sfDir))

  /** Same [[assignChainCte]]+[[probeSelectSql]] chain; only the `cents`
    * quantizer differs (k-means means from `m2` instead of first-N rows). */
  val ivfTrainedSql: String =
    s"""WITH $embCte,
       |$kmeansCtes,
       |cents AS (SELECT cid, list(m ORDER BY dim) AS cv FROM m2 GROUP BY 1),
       |$assignChainCte,
       |$probeSelectSql""".stripMargin

  // ---- incremental index maintenance ---------------------------------------

  /** Delta membership: every 5th vector "arrives late" — scale-free and
    * deterministic at any corpus size. */
  private val incrDeltaPred = "vec_id % 5 = 0"

  /** Incremental ANN index maintenance — the production question after
    * ann_ivf_trained ships: new vectors arrive daily; RETRAINING the coarse
    * quantizer over 100 TB per refresh is off the table. The standard
    * answer (FAISS `add` semantics): FREEZE the trained centroids and
    * assign only the delta — each refresh costs O(delta·K), not
    * O(corpus·K·iters), and the standing per-list stats update by merging
    * delta counts (the ev_incr_agg/q_incr_join mergeable-partial strategy
    * applied to a vector index). The report is the index-balance readout an
    * operator watches after a merge: per list, standing size, delta
    * arrivals, merged total, delta share (drift of the incoming
    * distribution against the trained quantizer). Training runs on the
    * BASE split only — the delta provably never influences the centroids,
    * which is what makes the frozen-index claim checkable. */
  def incrementalIndex(spark: SparkSession, sfDir: String): DataFrame = {
    val e = emb(spark, sfDir).select(col("vec_id"), col("v"), col("nrm")).persist()
    val base = e.filter(expr(s"NOT ($incrDeltaPred)")).persist()
    val delta = e.filter(expr(incrDeltaPred))
    // seed on the first 8 BASE ids (ids < 10 minus the delta residue class)
    var cents = base.filter(col("vec_id") < 10)
      .select(col("vec_id").as("cid"), col("v").as("cv"), col("nrm").as("cnrm"))
    for (_ <- 0 until kmIters) {
      val assigned = kmAssign(base, cents)
      cents = kmMeans(base, assigned)
    }
    val frozen = cents.persist()
    val nBase = kmAssign(base, frozen)
      .groupBy(col("cid")).agg(count(lit(1)).as("n_base"))
    val nDelta = kmAssign(delta, frozen)
      .groupBy(col("cid")).agg(count(lit(1)).as("n_delta"))
    nBase.join(nDelta, Seq("cid"), "full_outer")
      .select(col("cid"),
        coalesce(col("n_base"), lit(0L)).as("n_base"),
        coalesce(col("n_delta"), lit(0L)).as("n_delta"))
      .select(col("cid"), col("n_base"), col("n_delta"),
        (col("n_base") + col("n_delta")).as("n_total"),
        round(col("n_delta").cast("double")
          / (col("n_base") + col("n_delta")).cast("double"), 6).as("delta_share"))
  }

  val incrementalIndexSql: String =
    s"""WITH $embCte,
       |eb AS (SELECT * FROM e WHERE NOT ($incrDeltaPred)),
       |ed AS (SELECT * FROM e WHERE $incrDeltaPred),
       |${kmeansCtesOn("eb", "vec_id < 10")},
       |cents AS (SELECT cid, list(m ORDER BY dim) AS cv FROM m2 GROUP BY 1),
       |sb AS (SELECT eb.vec_id, cents.cid,
       |  round(${Portable.cosineSql("eb.v", "cv")}, 6) AS ccos
       |  FROM eb CROSS JOIN cents),
       |ab AS ${assignCutCte("sb")},
       |sd AS (SELECT ed.vec_id, cents.cid,
       |  round(${Portable.cosineSql("ed.v", "cv")}, 6) AS ccos
       |  FROM ed CROSS JOIN cents),
       |ad AS ${assignCutCte("sd")},
       |nb AS (SELECT cid, CAST(count(*) AS BIGINT) AS n_base FROM ab GROUP BY 1),
       |nd AS (SELECT cid, CAST(count(*) AS BIGINT) AS n_delta FROM ad GROUP BY 1)
       |SELECT CAST(coalesce(nb.cid, nd.cid) AS BIGINT) AS cid,
       |  coalesce(n_base, 0) AS n_base,
       |  coalesce(n_delta, 0) AS n_delta,
       |  coalesce(n_base, 0) + coalesce(n_delta, 0) AS n_total,
       |  round(CAST(coalesce(n_delta, 0) AS DOUBLE)
       |    / CAST(coalesce(n_base, 0) + coalesce(n_delta, 0) AS DOUBLE), 6)
       |    AS delta_share
       |FROM nb FULL OUTER JOIN nd ON nb.cid = nd.cid""".stripMargin

  // ---- int8-quantized ANN (the storage/bandwidth path) --------------------

  /** Brute-force top-k over INT8-QUANTIZED vectors — the memory-bandwidth
    * optimization of every at-scale embedding store (4× smaller vectors,
    * integer dot products): per-vector symmetric quantization
    * `q_i = round(127·v_i / max|v|)`. Cosine over quantized vectors cancels
    * the scales, so the score is integer sums (ORDER-INDEPENDENT — exact on
    * both engines, products ≤ 127² and sums ≪ 2^53 in doubles) with one
    * final sqrt division. Reuses the VectorDot primitive on the quantized
    * arrays. */
  def quantTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables(spark, sfDir).embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    // fused one-pass quantization (see Int8Quantize: the HOF formulation
    // re-ran the max-abs fold per element after CollapseProject inlining)
    val e = base
      .withColumn("q", graft.plans.Int8Quantize(col("v")))
      .withColumn("qnrm", sqrt(graft.plans.VectorDot(col("q"), col("q"))))
      .filter(col("qnrm") > 0)
      .select(col("vec_id"), col("q"), col("qnrm"))
    val qs = e.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("qid"), col("q").as("qq"), col("qnrm").as("qqnrm"))
    val scored = e.crossJoin(broadcast(qs))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cand"),
        round(graft.plans.VectorDot(col("q"), col("qq")) / (col("qnrm") * col("qqnrm")), 6)
          .as("qcos"))
    val w = Window.partitionBy(col("qid")).orderBy(col("qcos").desc, col("cand").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= 3)
  }

  val quantTopKSql: String = {
    val qDef = "list_transform(v, x -> CAST(round(x / amax * 127.0) AS DOUBLE))"
    s"""WITH base AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |    greatest(list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))), 1e-30) AS amax
       |  FROM embeddings),
       |e AS (
       |  SELECT vec_id, q, qnrm FROM (
       |    SELECT vec_id, $qDef AS q,
       |      sqrt(list_sum(list_transform($qDef, x -> x * x))) AS qnrm
       |    FROM base) t0
       |  WHERE qnrm > 0),
       |qs AS (SELECT vec_id AS qid, q AS qq, qnrm AS qqnrm FROM e WHERE vec_id < $numQueries),
       |scored AS (
       |  SELECT qid, e.vec_id AS cand,
       |    round(list_sum(list_transform(list_zip(e.q, qq), p -> p[1] * p[2]))
       |      / (e.qnrm * qqnrm), 6) AS qcos
       |  FROM e CROSS JOIN qs WHERE e.vec_id <> qid)
       |SELECT qid, cand, qcos, rank FROM (
       |  SELECT qid, cand, qcos,
       |    row_number() OVER (PARTITION BY qid ORDER BY qcos DESC, cand ASC) AS rank
       |  FROM scored) t
       |WHERE rank <= 3""".stripMargin
  }

  val rerankR = 20 // coarse candidates per query fed to the exact stage

  /** Two-stage retrieval — the production ANN serving shape: a COARSE pass
    * over the int8-quantized corpus (4× the memory bandwidth of doubles;
    * the scan a vector engine runs SIMD) keeps top-`rerankR` candidates per
    * query, then the EXACT cosine re-scores only those q×R rows and emits
    * top-`topK`. Quantization error can reorder neighbors; reranking
    * restores exact order among the survivors — recall loss is confined to
    * candidates the coarse stage dropped entirely. At 100 TB the exact
    * vectors are fetched for ~q·R rows instead of scanning the corpus at
    * full precision. Both stages break ties by (score DESC, cand ASC). */
  def rerank(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables(spark, sfDir).embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val eq = base
      .withColumn("q", graft.plans.Int8Quantize(col("v")))
      .withColumn("qnrm", sqrt(graft.plans.VectorDot(col("q"), col("q"))))
      .filter(col("qnrm") > 0)
      .select(col("vec_id"), col("q"), col("qnrm"))
    val qsq = eq.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("qid"), col("q").as("qq"), col("qnrm").as("qqnrm"))
    val wc = Window.partitionBy(col("qid")).orderBy(col("qcos").desc, col("cand").asc)
    val coarse = eq.crossJoin(broadcast(qsq))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cand"),
        round(graft.plans.VectorDot(col("q"), col("qq")) / (col("qnrm") * col("qqnrm")), 6)
          .as("qcos"))
      .withColumn("crank", row_number().over(wc))
      .filter(col("crank") <= rerankR)
      .select(col("qid"), col("cand"))
    val ex = emb(spark, sfDir).select(col("vec_id"), col("v"), col("nrm"))
    val qsx = ex.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("xqid"), col("v").as("qv"), col("nrm").as("qnrm2"))
    val wr = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cand").asc)
    coarse
      .join(ex, col("cand") === col("vec_id"))
      .join(broadcast(qsx), col("qid") === col("xqid"))
      .select(col("qid"), col("cand"),
        round(graft.plans.VectorDot(col("v"), col("qv")) / (col("nrm") * col("qnrm2")), 6)
          .as("cos"))
      .withColumn("rank", row_number().over(wr))
      .filter(col("rank") <= topK)
  }

  val rerankSql: String = {
    val qDef = "list_transform(v, x -> CAST(round(x / amax * 127.0) AS DOUBLE))"
    s"""WITH base AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |    greatest(list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))), 1e-30) AS amax
       |  FROM embeddings),
       |eq AS (
       |  SELECT vec_id, q, qnrm FROM (
       |    SELECT vec_id, $qDef AS q,
       |      sqrt(list_sum(list_transform($qDef, x -> x * x))) AS qnrm
       |    FROM base) t0
       |  WHERE qnrm > 0),
       |qsq AS (SELECT vec_id AS qid, q AS qq, qnrm AS qqnrm FROM eq WHERE vec_id < $numQueries),
       |coarse AS (
       |  SELECT qid, cand FROM (
       |    SELECT qid, eq.vec_id AS cand,
       |      row_number() OVER (PARTITION BY qid ORDER BY
       |        round(list_sum(list_transform(list_zip(eq.q, qq), p -> p[1] * p[2]))
       |          / (eq.qnrm * qqnrm), 6) DESC, eq.vec_id ASC) AS crank
       |    FROM eq CROSS JOIN qsq WHERE eq.vec_id <> qid) t
       |  WHERE crank <= $rerankR),
       |$embCte,
       |qsx AS (SELECT vec_id AS xqid, v AS qv FROM e WHERE vec_id < $numQueries)
       |SELECT qid, cand, cos, rank FROM (
       |  SELECT qid, cand, cos,
       |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cand ASC) AS rank
       |  FROM (
       |    SELECT qid, cand,
       |      round(${Portable.cosineSql("e.v", "qv")}, 6) AS cos
       |    FROM coarse
       |    JOIN e ON cand = e.vec_id
       |    JOIN qsx ON qid = xqid) s) t
       |WHERE rank <= $topK""".stripMargin
  }

  // ---- product-quantization ANN (codes + ADC lookup table) ----------------

  val pqSub = 4 // subspaces (embeddings are 64-d → 16 dims each)
  val pqDimPer = 16
  val pqK = 8 // codewords per subspace
  val pqStride = 17 // hash-picked codeword source rows: vec_id = c·stride

  /** PQ codebook dim: `pqK` codewords per subspace, sliced from hash-picked
    * corpus rows (vec_id = c·pqStride) — a CONSTANT, corpus-independent
    * count, the same rule that fixed ann_ivf_topk's centroid scaling; a
    * production deployment swaps in k-means-trained codewords (ann_kmeans)
    * without touching the pipeline. `cwn2` = ‖cw‖² rides along so
    * reconstruction norms are one lookup, not a re-dot. */
  private[graft] def pqCodebook(spark: SparkSession, sfDir: String): DataFrame =
    emb(spark, sfDir)
      .filter(col("vec_id") % pqStride === 0 && col("vec_id") < pqK * pqStride)
      .select(expr(s"vec_id DIV $pqStride").as("c"),
        explode(array((0 until pqSub).map { s =>
          struct(lit(s).as("s"), slice(col("v"), s * pqDimPer + 1, pqDimPer).as("cw"))
        }: _*)).as("k"))
      .select(col("c"), col("k.s").as("s"), col("k.cw").as("cw"))
      .withColumn("cwn2", graft.plans.VectorDot(col("cw"), col("cw")))

  /** The corpus split into per-subspace subvectors: (vec_id, s, sub). */
  private[graft] def subVectors(spark: SparkSession, sfDir: String): DataFrame =
    emb(spark, sfDir).select(col("vec_id"),
        explode(array((0 until pqSub).map { s =>
          struct(lit(s).as("s"), slice(col("v"), s * pqDimPer + 1, pqDimPer).as("sub"))
        }: _*)).as("k"))
      .select(col("vec_id"), col("k.s").as("s"), col("k.sub").as("sub"))

  /** One PQ assignment pass under any codebook: l2² argmin via the
    * packed-int arg-min (partial-aggregable, no window). */
  private def pqAssignWith(sub: DataFrame, cb: DataFrame): DataFrame = {
    val d2i = round((graft.plans.VectorDot(col("sub"), col("sub"))
        - lit(2.0) * graft.plans.VectorDot(col("sub"), col("cw"))
        + col("cwn2")) * 1e6, 0).cast("long")
    sub.join(broadcast(cb), "s")
      .groupBy(col("vec_id"), col("s"))
      .agg(min(d2i * pqK + col("c")).as("packed"))
      .select(col("vec_id"), col("s"), (col("packed") % pqK).as("c"))
  }

  /** PQ code assignment: (vec_id, subspace, code). Package-visible so specs
    * can assert the self-assignment invariant (a codeword-source row encodes
    * to its own codeword — its l2² is exactly 0). */
  private[graft] def pqCodes(spark: SparkSession, sfDir: String): DataFrame =
    pqAssignWith(subVectors(spark, sfDir), pqCodebook(spark, sfDir))

  // ---- trained PQ codebooks (per-subspace k-means, the FAISS step) ---------

  val pqTrainIters = 2

  /** K-means-TRAINED PQ codebook — what FAISS's PQ training actually does
    * (per-subspace Lloyd's over the subvectors) where [[pqCodebook]]
    * hash-picks corpus slices. Seeds = the hash-picked codebook, so the
    * trained path is a strict refinement; each Lloyd iteration trains ALL
    * [[pqSub]] subspaces in the same two passes (the subspace id rides
    * every key — one O(n·K) broadcast assignment + one per-(s, c, dim)
    * mean, the ann_kmeans posture applied per subspace). Means rounded
    * 6dp per dimension (the kmMeans convention — the only non-ordered
    * fold, 1e-13 sum noise far below the rounding); empty codewords
    * vanish (drop-empty Lloyd's). Output shape = [[pqCodebook]]'s
    * (s, c, cw, cwn2), so it drops into [[pqTopKWith]] unchanged —
    * ann_ivf_trained's "trained quantizer drops in" claim, now proven for
    * the PQ tier too; ann_recall grades it against the hash-picked
    * baseline. */
  private[graft] def pqTrainedCodebook(spark: SparkSession, sfDir: String): DataFrame = {
    val sub = subVectors(spark, sfDir).persist()
    var cb = pqCodebook(spark, sfDir)
    var prevPinned: DataFrame = null
    for (_ <- 0 until pqTrainIters) {
      val codes = pqAssignWith(sub, cb)
      // r9 OPT: one vector_mean aggregate per (s, c) — see kmMeans
      cb = sub.join(codes, Seq("vec_id", "s"))
        .groupBy(col("s"), col("c"))
        .agg(graft.plans.VectorMean.vectorMean(col("sub")).as("mraw"))
        .select(col("s"), col("c"), transform(col("mraw"), x => round(x, 6)).as("cw"))
        .withColumn("cwn2", graft.plans.VectorDot(col("cw"), col("cw")))
        .persist() // 32 rows; pin each iteration so plans don't nest
      // eager cut (round-8 advice): materialize this iterate, drop the
      // previous — live cache is bounded at the final codebook + sub
      cb.count()
      if (prevPinned != null) prevPinned.unpersist()
      prevPinned = cb
    }
    // training is done and the final codebook is materialized — the n-row
    // subvector frame has no remaining consumer in the returned plan
    sub.unpersist()
    cb
  }

  /** Product-quantization ANN — the memory-bound path at 100 TB: each
    * vector is stored as `pqSub` small codes (here 4×3 bits vs 64×8 bytes,
    * a ~170× compression of the scan), and query scoring never touches the
    * raw vectors — an ADC (asymmetric distance computation) LOOKUP TABLE of
    * q·pqSub·pqK partial dots is broadcast and scoring is pure adds over
    * the code stream.
    *
    * Stages: (1) assignment — subvectors × broadcast codebook, l2² argmin
    * via the packed-int arg-min (dd_chunks' pattern: `min(d2µ·K + c)` is
    * partial-aggregable, so no window shuffle); (2) reconstruction norms
    * from codebook lookups; (3) ADC — codes join the broadcast LUT, one
    * sum per (query, candidate); top-3 by approximate cosine. The
    * per-(query, candidate) fold over the 4 LUT parts (and the 4
    * reconstruction-norm terms) runs as per-subspace conditional sums
    * added in WRITTEN order — each conditional sum has exactly one
    * non-null addend, so the float result is aggregation-order
    * independent, not merely round-guarded. */
  def pqTopK(spark: SparkSession, sfDir: String): DataFrame =
    pqTopKWith(spark, sfDir, pqCodebook(spark, sfDir))

  /** PQ scoring over the hash-picked codebook swapped for a TRAINED one —
    * identical pipeline, better codewords ([[pqTrainedCodebook]]). */
  def pqTrainedTopK(spark: SparkSession, sfDir: String): DataFrame =
    pqTopKWith(spark, sfDir, pqTrainedCodebook(spark, sfDir))

  /** The PQ pipeline over any (s, c, cw, cwn2) codebook. */
  private def pqTopKWith(spark: SparkSession, sfDir: String, cb: DataFrame): DataFrame = {
    val e = emb(spark, sfDir)
    val codes = pqAssignWith(subVectors(spark, sfDir), cb)
      .persist() // feeds reconstruction norms AND ADC scoring
    val recon = pqRecon(codes, cb)
    val lut = pqLut(e, cb)
    val adcParts = (0 until pqSub).map(s =>
      sum(when(col("s") === s, col("part"))).as(s"p$s")) :+ max(col("qnrm")).as("qnrm")
    val adc = codes.join(broadcast(lut), Seq("s", "c"))
      .filter(col("vec_id") =!= col("qid"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(adcParts.head, adcParts.tail: _*)
      .select(col("qid"), col("vec_id"), col("qnrm"),
        (0 until pqSub).map(s => col(s"p$s")).reduce(_ + _).as("dp"))
    val scored = adc.join(recon, "vec_id")
      .select(col("qid"), col("vec_id").as("cand"),
        round(col("dp") / (col("qnrm") * col("rnrm")), 6).as("pq_score"))
    val w = Window.partitionBy(col("qid")).orderBy(col("pq_score").desc, col("cand").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= 3)
  }

  /** Reconstruction norms from codebook lookups: (vec_id, rnrm).
    * Per-subspace conditional sums have exactly ONE non-null addend each,
    * so folding them in written order makes the float result independent
    * of aggregation order — the addend-order hazard q1's decimal fix
    * closed, solved here for values that aren't quantized. */
  private def pqRecon(codes: DataFrame, cb: DataFrame): DataFrame = {
    val reconParts = (0 until pqSub).map(s =>
      sum(when(col("s") === s, col("cwn2"))).as(s"rn$s"))
    codes
      .join(broadcast(cb.select(col("s"), col("c"), col("cwn2"))), Seq("s", "c"))
      .groupBy(col("vec_id")).agg(reconParts.head, reconParts.tail: _*)
      .select(col("vec_id"),
        sqrt((0 until pqSub).map(s => col(s"rn$s")).reduce(_ + _)).as("rnrm"))
  }

  /** Broadcast ADC lookup table: (qid, qnrm, s, c, part) — q·pqSub·pqK
    * partial dots, the only query-side math PQ scoring ever does. */
  private def pqLut(e: DataFrame, cb: DataFrame): DataFrame = {
    val qs = e.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qnrm"))
    val qsub = qs.select(col("qid"), col("qnrm"),
        explode(array((0 until pqSub).map { s =>
          struct(lit(s).as("s"), slice(col("qv"), s * pqDimPer + 1, pqDimPer).as("qsv"))
        }: _*)).as("k"))
      .select(col("qid"), col("qnrm"), col("k.s").as("s"), col("k.qsv").as("qsv"))
    qsub.join(cb, "s")
      .select(col("qid"), col("qnrm"), col("s"), col("c"),
        graft.plans.VectorDot(col("qsv"), col("cw")).as("part"))
  }

  /** IVF+PQ composite — the FAISS `IVFPQ` index shape, THE production ANN
    * layout at 100 TB (IVF bounds which lists a query touches; PQ bounds
    * the bytes per touched vector — together: scan nprobe/K of the corpus
    * at ~170× compression, raw vectors never read at query time): the
    * coarse quantizer assigns every vector to a centroid list and queries
    * probe the `nprobe` nearest lists ONLY (ann_ivf_topk's stage,
    * unchanged); within the probed lists, scoring is PQ's broadcast-LUT
    * ADC over the code stream (ann_pq_topk's stage, unchanged). Both
    * component stages exist as independently-oracled rows; this row proves
    * their composition end-to-end, the way ann_ivf_trained proved the
    * trained-quantizer drop-in. Scale shape: two O(n·K) broadcast
    * assignment passes (centroids, codewords), candidate set bounded by
    * probed-list occupancy, ADC join keyed (vec_id)+(s, c, qid) with the
    * LUT broadcast; no full-precision corpus scan anywhere. */
  def ivfPqTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val e = emb(spark, sfDir)
    val cents = centroids(spark, sfDir)
    val lists = assignedListsWith(spark, sfDir, cents)
      .select(col("vec_id"), col("cid")).persist()
    val wAssign = Window.partitionBy(col("vec_id")).orderBy(col("ccos").desc, col("cid").asc)
    val probes = e.filter(col("vec_id") < numQueries).crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cid"),
        round(graft.plans.VectorDot(col("v"), col("cv")) / (col("nrm") * col("cnrm")), 6)
          .as("ccos"))
      .withColumn("crn", row_number().over(wAssign))
      .filter(col("crn") <= nprobe)
      .select(col("vec_id").as("qid"), col("cid").as("pcid"))
    val cand = lists.join(broadcast(probes), col("cid") === col("pcid"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"))
    val cb = pqCodebook(spark, sfDir)
    val codes = pqCodes(spark, sfDir).persist()
    val recon = pqRecon(codes, cb)
    val lut = pqLut(e, cb)
    val adcParts = (0 until pqSub).map(s =>
      sum(when(col("s") === s, col("part"))).as(s"p$s")) :+ max(col("qnrm")).as("qnrm")
    // cand is q·probed-list-occupancy rows — broadcast into the corpus-
    // sized code stream (the "fetch codes for candidates" lookup)
    val adc = codes.join(broadcast(cand), "vec_id")
      .join(broadcast(lut), Seq("s", "c", "qid"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(adcParts.head, adcParts.tail: _*)
      .select(col("qid"), col("vec_id"), col("qnrm"),
        (0 until pqSub).map(s => col(s"p$s")).reduce(_ + _).as("dp"))
    // adc is bounded by q·probed-list occupancy — broadcast it into the
    // corpus-sized recon table (plain pqTopK's adc is q·n and must NOT
    // broadcast; the candidate bound is what the IVF stage buys here)
    val scored = recon.join(broadcast(adc), "vec_id")
      .select(col("qid"), col("vec_id").as("cand"),
        round(col("dp") / (col("qnrm") * col("rnrm")), 6).as("pq_score"))
    val w = Window.partitionBy(col("qid")).orderBy(col("pq_score").desc, col("cand").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= 3)
  }

  private val pqDotSql = (a: String, b: String) =>
    s"list_sum(list_transform(list_zip($a, $b), p -> p[1] * p[2]))"

  /** Hash-picked codebook CTEs: cw slices → codebook named `name`. */
  private def pqSliceCbnSql(name: String): String =
    s"""cw AS (SELECT vec_id // $pqStride AS c, v FROM e
       |       WHERE vec_id % $pqStride = 0 AND vec_id < ${pqK * pqStride}),
       |$name AS (
       |  SELECT c, s, list_slice(v, s * $pqDimPer + 1, s * $pqDimPer + $pqDimPer) AS cwv,
       |    list_sum(list_transform(
       |      list_slice(v, s * $pqDimPer + 1, s * $pqDimPer + $pqDimPer), x -> x * x)) AS cwn2
       |  FROM cw, LATERAL unnest(range(0, $pqSub)) t(s))""".stripMargin

  private val pqSubCte: String =
    s"""sub AS (
       |  SELECT vec_id, s, list_slice(v, s * $pqDimPer + 1, s * $pqDimPer + $pqDimPer) AS sv
       |  FROM e, LATERAL unnest(range(0, $pqSub)) t(s))""".stripMargin

  /** One assignment pass (l2² packed-int argmin) under codebook `cbn`. */
  private def pqAssignSql(dName: String, codesName: String, cbn: String): String =
    s"""$dName AS (
       |  SELECT vec_id, sub.s, c,
       |    CAST(round((${pqDotSql("sv", "sv")} - 2 * ${pqDotSql("sv", "cwv")} + cwn2) * 1e6) AS BIGINT) AS d2i
       |  FROM sub JOIN $cbn ON sub.s = $cbn.s),
       |$codesName AS (
       |  SELECT vec_id, s, min(d2i * $pqK + c) % $pqK AS c FROM $dName GROUP BY 1, 2)""".stripMargin

  /** One Lloyd M-step: per-(s, c, dim) means of `codes`' members →
    * codebook `outCbn` (6dp-rounded dims, the kmeansCtes convention). */
  private def pqMeansSql(pm: String, codes: String, outCbn: String): String =
    s"""$pm AS (
       |  SELECT s, c, dim, round(avg(x), 6) AS m
       |  FROM subdims JOIN $codes USING (vec_id, s) GROUP BY 1, 2, 3),
       |$outCbn AS (
       |  SELECT s, c, cwv, list_sum(list_transform(cwv, x -> x * x)) AS cwn2
       |  FROM (SELECT s, c, list(m ORDER BY dim) AS cwv
       |        FROM $pm GROUP BY 1, 2) t_$outCbn)""".stripMargin

  /** Scoring chain (assign → recon → LUT) over the codebook named `cbn` —
    * shared by the hash-picked, IVF+PQ, and TRAINED oracles. */
  private val pqScoreCte: String =
    s"""${pqAssignSql("d", "codes", "cbn")},
       |recon AS (
       |  SELECT vec_id, sqrt(rn0 + rn1 + rn2 + rn3) AS rnrm FROM (
       |    SELECT codes.vec_id,
       |      ${(0 until pqSub).map(s =>
                  s"sum(CASE WHEN cbn.s = $s THEN cwn2 END) AS rn$s").mkString(", ")}
       |    FROM codes JOIN cbn ON codes.s = cbn.s AND codes.c = cbn.c
       |    GROUP BY 1) t_rn),
       |q AS (SELECT vec_id AS qid, v AS qv,
       |        sqrt(list_sum(list_transform(v, x -> x * x))) AS qnrm
       |      FROM e WHERE vec_id < $numQueries),
       |qsub AS (
       |  SELECT qid, qnrm, s, list_slice(qv, s * $pqDimPer + 1, s * $pqDimPer + $pqDimPer) AS qsv
       |  FROM q, LATERAL unnest(range(0, $pqSub)) t(s)),
       |lut AS (
       |  SELECT qid, qnrm, cbn.s, cbn.c, ${pqDotSql("qsv", "cwv")} AS part
       |  FROM qsub JOIN cbn ON qsub.s = cbn.s)""".stripMargin

  /** The quantize→code→recon→LUT CTE chain shared by the plain-PQ and
    * IVF+PQ oracles (expects `e` upstream; ends at `lut`). */
  private val pqChainCte: String =
    Seq(pqSliceCbnSql("cbn"), pqSubCte, pqScoreCte).mkString(",\n")

  /** The TRAINED chain: seeds → [[pqTrainIters]] Lloyd iterations over the
    * subvectors → the SAME scoring chain, final codebook bound to the name
    * `cbn`. The assign/means CTE pairs are GENERATED from [[pqTrainIters]]
    * (round-8 advice: a hardcoded 2-iteration chain would silently
    * desynchronize from the Scala trainer's `0 until pqTrainIters` loop the
    * day the constant moves, surfacing only as a cross-engine hash
    * mismatch — both sides now share the one constant). */
  private val pqTrainedChainCte: String = {
    val lloyd = (0 until pqTrainIters).flatMap { i =>
      val next = if (i == pqTrainIters - 1) "cbn" else s"cbn${i + 1}"
      Seq(pqAssignSql(s"d$i", s"codes$i", s"cbn$i"),
        pqMeansSql(s"pm${i + 1}", s"codes$i", next))
    }
    (Seq(
      pqSliceCbnSql("cbn0"),
      pqSubCte,
      s"""subdims AS (
         |  SELECT vec_id, s, i - 1 AS dim, sv[i] AS x
         |  FROM sub, LATERAL unnest(range(1, len(sv) + 1)) t(i))""".stripMargin) ++
      lloyd :+ pqScoreCte).mkString(",\n")
  }

  /** ADC fold + top-3 cut, parameterized over the candidate restriction
    * (`""` = all pairs; the IVF form joins the probed-list candidates). */
  private def pqAdcSelectSql(fromJoin: String, qidExpr: String): String =
    s"""adc AS (
       |  SELECT qid, cand, p0 + p1 + p2 + p3 AS dp, qnrm FROM (
       |    SELECT $qidExpr AS qid, codes.vec_id AS cand,
       |      ${(0 until pqSub).map(s =>
                  s"sum(CASE WHEN codes.s = $s THEN part END) AS p$s").mkString(", ")},
       |      max(qnrm) AS qnrm
       |    FROM codes $fromJoin
       |    GROUP BY 1, 2) t_adc),
       |scored AS (
       |  SELECT qid, cand, round(dp / (qnrm * rnrm), 6) AS pq_score
       |  FROM adc JOIN recon ON recon.vec_id = adc.cand)
       |SELECT qid, cand, pq_score, rank FROM (
       |  SELECT qid, cand, pq_score,
       |    row_number() OVER (PARTITION BY qid ORDER BY pq_score DESC, cand ASC) AS rank
       |  FROM scored) t
       |WHERE rank <= 3""".stripMargin

  val pqTopKSql: String =
    s"""WITH $embCte,
       |$pqChainCte,
       |${pqAdcSelectSql(
          "JOIN lut ON codes.s = lut.s AND codes.c = lut.c\n" +
            "    WHERE codes.vec_id <> lut.qid", "lut.qid")}""".stripMargin

  val pqTrainedTopKSql: String =
    s"""WITH $embCte,
       |$pqTrainedChainCte,
       |${pqAdcSelectSql(
          "JOIN lut ON codes.s = lut.s AND codes.c = lut.c\n" +
            "    WHERE codes.vec_id <> lut.qid", "lut.qid")}""".stripMargin

  /** [[ivfPqTopK]]'s oracle: the IVF assign/probe chain restricts the ADC
    * fold to probed-list candidates; everything else is the shared CTEs. */
  val ivfPqTopKSql: String =
    s"""WITH $embCte,
       |$assignedCte,
       |probes AS (
       |  SELECT vec_id AS qid, cid AS pcid FROM assigned
       |  WHERE vec_id < $numQueries AND crn <= $nprobe),
       |ca AS (
       |  SELECT p.qid, l.vec_id AS cand FROM lists l
       |  JOIN probes p ON l.cid = p.pcid WHERE l.vec_id <> p.qid),
       |$pqChainCte,
       |${pqAdcSelectSql(
          "JOIN ca ON ca.cand = codes.vec_id\n" +
            "    JOIN lut ON codes.s = lut.s AND codes.c = lut.c AND lut.qid = ca.qid",
          "ca.qid")}""".stripMargin

  // ---- MMR diversified re-rank ----------------------------------------------

  /** Relevance/diversity trade-off weight. */
  val mmrLambda = 0.7
  /** Candidate pool per query / results kept. */
  val mmrPool = 10
  val mmrK = 5

  /** Maximal-marginal-relevance re-rank (Carbonell & Goldstein SIGIR'98 —
    * the diversity pass production retrieval runs between ANN recall and
    * the consumer): from each query's top-10 relevance pool, greedily keep
    * 5 results maximizing λ·cos(q,d) − (1−λ)·max_{s∈selected} cos(d,s),
    * so near-duplicate hits can't crowd the result page. The greedy
    * recurrence runs per-query inside ONE flatMapGroups pass over the
    * bounded pool (see [[mmrGreedy]]); the oracle replays it as k chained
    * unrolled CTEs. Determinism: candidate cosines and pairwise penalties are
    * rounded 6dp BEFORE any comparison, the MMR score is one fixed-order
    * expression of those rounded operands (itself re-rounded 6dp before
    * the argmax), ties break cand-ASC. Scale shape: the pool is the
    * bounded per-query top-k (partial top-k per partition); pairwise
    * penalties are pool×pool WITHIN a query (≤ 100 rows/query); every
    * greedy step is a tiny bounded join — corpus-sized work ends at the
    * pool cut, exactly where a production system hands off to its
    * re-ranker. */
  def mmr(spark: SparkSession, sfDir: String): DataFrame = {
    val e = emb(spark, sfDir)
    val q = e.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qnrm"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cand").asc)
    val pool = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cand"),
        round(graft.plans.VectorDot(col("v"), col("qv")) / (col("nrm") * col("qnrm")), 6)
          .as("cos"),
        col("v"), col("nrm"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= mmrPool)
      .drop("rn")
    mmrGreedy(pool)
  }

  /** Spark's `round(double, 6)` reproduced exactly (RoundBase: decimal-
    * string BigDecimal, HALF_UP) so the in-group greedy hash-matches the
    * column-math pool scores and the oracle's SQL round. */
  private def r6(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** The greedy MMR recurrence over a (qid, cand, cos, v, nrm) pool —
    * shared by the exact-pool flagship ([[mmr]]) and the production
    * coarse-pool composition ([[mmrIvf]]). One `flatMapGroups` pass: each
    * query's pool is ≤ [[mmrPool]] rows by construction, so the greedy is
    * O(k·pool²) LOCAL math per group — one shuffle total, queries parallel
    * across executors. (The earlier relationally-unrolled form scheduled
    * ~4 joins × k steps of sub-second jobs; at any scale the per-group fold
    * is the right physical shape for a bounded-group recurrence — the same
    * argument as the streaming flatMapGroupsWithState family.) Pairwise
    * sims are computed exactly as the column form did: sequential-order
    * dot (VectorDot's loop), /(nrm·nrm), rounded 6dp; MMR re-rounded 6dp
    * before the argmax; ties cand-ASC. The oracle replays the recurrence
    * as unrolled chained CTEs — the two independent forms agreeing is the
    * correctness argument. */
  private def mmrGreedy(pool: DataFrame): DataFrame = {
    val spark = pool.sparkSession
    import spark.implicits._
    val lam = mmrLambda
    val oneMinusLam = 1 - mmrLambda // bit-identical to the SQL's interpolated literal
    val k = mmrK
    pool.select(col("qid"), col("cand"), col("cos"), col("v"), col("nrm"))
      .as[(Long, Long, Double, Array[Double], Double)]
      .groupByKey(_._1)
      .flatMapGroups { (qid, it) =>
        // cos DESC, cand ASC — the step-1 (pure relevance) order
        val rows = it.toArray.sortBy(r => (-r._3, r._2))
        val picks = math.min(k, rows.length)
        val out = new Array[(Long, Long, Long, Double, Double)](picks)
        val selected = new Array[Int](picks)
        def sim(i: Int, j: Int): Double = {
          val (a, b) = (rows(i), rows(j))
          var dot = 0.0; var d = 0
          while (d < a._4.length) { dot += a._4(d) * b._4(d); d += 1 }
          r6(dot / (a._5 * b._5))
        }
        if (picks > 0) { selected(0) = 0; out(0) = (qid, 1L, rows(0)._2, rows(0)._3, rows(0)._3) }
        var step = 2
        while (step <= picks) {
          var bestIdx = -1; var bestMmr = 0.0
          var i = 0
          while (i < rows.length) {
            if (!selected.take(step - 1).contains(i)) {
              var pen = Double.NegativeInfinity
              var s = 0
              while (s < step - 1) {
                val sm = sim(i, selected(s)); if (sm > pen) pen = sm; s += 1
              }
              val m = r6(lam * rows(i)._3 - oneMinusLam * pen)
              // mmr DESC, cand ASC (rows are cand-ASC within equal cos, but
              // compare cand explicitly — equal mmr can span cos values)
              if (bestIdx < 0 || m > bestMmr ||
                  (m == bestMmr && rows(i)._2 < rows(bestIdx)._2)) {
                bestIdx = i; bestMmr = m
              }
            }
            i += 1
          }
          selected(step - 1) = bestIdx
          out(step - 1) = (qid, step.toLong, rows(bestIdx)._2, rows(bestIdx)._3, bestMmr)
          step += 1
        }
        out.iterator
      }
      .toDF("qid", "step", "cand", "cos", "mmr")
  }

  /** MMR over the two-stage retrieval pool — the PRODUCTION composition:
    * the relevance pool comes from [[rerank]]'s int8 coarse scan (top-
    * `rerankR` per query over the quantized corpus, the memory-bandwidth
    * scan) re-scored exactly, NOT from a full-precision brute corpus scan.
    * Exact vectors are fetched for ≤ q·R rows; the greedy diversification
    * then runs on the bounded pool exactly as [[mmr]]. At 100 TB this is
    * the only MMR plan that exists — `ann_mmr`'s brute pool is its
    * small-scale truth reference. */
  def mmrIvf(spark: SparkSession, sfDir: String): DataFrame =
    mmrGreedy(mmrIvfPool(spark, sfDir))

  /** The coarse-scan pool feeding [[mmrIvf]] — exposed so the plan spec can
    * pin "one quantized corpus×queries pass, exact vectors via equi-joins"
    * without the cached greedy union reprinting it 40×. */
  private[graft] def mmrIvfPool(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables(spark, sfDir).embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val eq = base
      .withColumn("q", graft.plans.Int8Quantize(col("v")))
      .withColumn("qnrm", sqrt(graft.plans.VectorDot(col("q"), col("q"))))
      .filter(col("qnrm") > 0)
      .select(col("vec_id"), col("q"), col("qnrm"))
    val qsq = eq.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("qid"), col("q").as("qq"), col("qnrm").as("qqnrm"))
    val wc = Window.partitionBy(col("qid")).orderBy(col("qcos").desc, col("cand").asc)
    val coarse = eq.crossJoin(broadcast(qsq))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cand"),
        round(graft.plans.VectorDot(col("q"), col("qq")) / (col("qnrm") * col("qqnrm")), 6)
          .as("qcos"))
      .withColumn("crank", row_number().over(wc))
      .filter(col("crank") <= rerankR)
      .select(col("qid"), col("cand"))
    val ex = emb(spark, sfDir).select(col("vec_id"), col("v"), col("nrm"))
    val qsx = ex.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("xqid"), col("v").as("qv"), col("nrm").as("qnrm2"))
    val wp = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cand").asc)
    val pool = coarse
      .join(ex, col("cand") === col("vec_id"))
      .join(broadcast(qsx), col("qid") === col("xqid"))
      .select(col("qid"), col("cand"),
        round(graft.plans.VectorDot(col("v"), col("qv")) / (col("nrm") * col("qnrm2")), 6)
          .as("cos"),
        col("v"), col("nrm"))
      .withColumn("rn", row_number().over(wp)).filter(col("rn") <= mmrPool)
      .drop("rn")
    pool
  }

  /** The SQL tail shared by both MMR oracles: pairwise penalties + the
    * unrolled greedy steps, over whatever `pool` CTE precedes it. */
  private def mmrTailSql: String = {
    val lam = mmrLambda
    val steps = (2 to mmrK).map { i =>
      val prev = (1 until i).map(j => s"SELECT qid, cand FROM s$j").mkString(" UNION ALL ")
      s"""pen$i AS (
         |  SELECT p.qid, p.c1 AS cand, max(p.sim) AS pen
         |  FROM pair p JOIN ($prev) s ON s.qid = p.qid AND s.cand = p.c2
         |  GROUP BY 1, 2),
         |s$i AS (
         |  SELECT qid, CAST($i AS BIGINT) AS step, cand, cos, mmr FROM (
         |    SELECT c.qid, c.cand, c.cos,
         |      round($lam * c.cos - ${1 - lam} * p.pen, 6) AS mmr,
         |      row_number() OVER (PARTITION BY c.qid
         |        ORDER BY round($lam * c.cos - ${1 - lam} * p.pen, 6) DESC,
         |          c.cand ASC) AS rn
         |    FROM pool c
         |    JOIN pen$i p ON p.qid = c.qid AND p.cand = c.cand
         |    WHERE NOT EXISTS (SELECT 1 FROM ($prev) s
         |      WHERE s.qid = c.qid AND s.cand = c.cand)) t
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val all = (1 to mmrK).map(i => s"SELECT * FROM s$i").mkString(" UNION ALL ")
    s"""pair AS MATERIALIZED (
       |  SELECT a.qid, a.cand AS c1, b.cand AS c2,
       |    round(${Portable.cosineSql("a.v", "b.v")}, 6) AS sim
       |  FROM pool a JOIN pool b ON a.qid = b.qid AND a.cand <> b.cand),
       |s1 AS (
       |  SELECT qid, CAST(1 AS BIGINT) AS step, cand, cos, cos AS mmr FROM (
       |    SELECT qid, cand, cos,
       |      row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cand ASC)
       |        AS rn
       |    FROM pool) t
       |  WHERE rn = 1),
       |$steps
       |SELECT qid, step, cand, cos, mmr FROM ($all) u""".stripMargin
  }

  val mmrSql: String =
    s"""WITH $embCte,
       |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < $numQueries),
       |pool AS MATERIALIZED (
       |  SELECT qid, cand, cos, v FROM (
       |    SELECT qid, e.vec_id AS cand,
       |      round(${Portable.cosineSql("e.v", "qv")}, 6) AS cos, e.v,
       |      row_number() OVER (PARTITION BY qid ORDER BY
       |        round(${Portable.cosineSql("e.v", "qv")}, 6) DESC,
       |        e.vec_id ASC) AS rn
       |    FROM e CROSS JOIN q WHERE e.vec_id <> qid) t
       |  WHERE rn <= $mmrPool),
       |$mmrTailSql""".stripMargin

  /** [[mmrIvf]]'s oracle: the rerank coarse CTEs feed the pool. */
  val mmrIvfSql: String = {
    val qDef = "list_transform(v, x -> CAST(round(x / amax * 127.0) AS DOUBLE))"
    s"""WITH base AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |    greatest(list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))), 1e-30) AS amax
       |  FROM embeddings),
       |eq AS (
       |  SELECT vec_id, q, qnrm FROM (
       |    SELECT vec_id, $qDef AS q,
       |      sqrt(list_sum(list_transform($qDef, x -> x * x))) AS qnrm
       |    FROM base) t0
       |  WHERE qnrm > 0),
       |qsq AS (SELECT vec_id AS qid, q AS qq, qnrm AS qqnrm FROM eq WHERE vec_id < $numQueries),
       |coarse AS (
       |  SELECT qid, cand FROM (
       |    SELECT qid, eq.vec_id AS cand,
       |      row_number() OVER (PARTITION BY qid ORDER BY
       |        round(list_sum(list_transform(list_zip(eq.q, qq), p -> p[1] * p[2]))
       |          / (eq.qnrm * qqnrm), 6) DESC, eq.vec_id ASC) AS crank
       |    FROM eq CROSS JOIN qsq WHERE eq.vec_id <> qid) t
       |  WHERE crank <= $rerankR),
       |$embCte,
       |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < $numQueries),
       |pool AS MATERIALIZED (
       |  SELECT qid, cand, cos, v FROM (
       |    SELECT c.qid, c.cand,
       |      round(${Portable.cosineSql("e.v", "qv")}, 6) AS cos, e.v,
       |      row_number() OVER (PARTITION BY c.qid ORDER BY
       |        round(${Portable.cosineSql("e.v", "qv")}, 6) DESC,
       |        c.cand ASC) AS rn
       |    FROM coarse c
       |    JOIN e ON c.cand = e.vec_id
       |    JOIN q ON c.qid = q.qid) t
       |  WHERE rn <= $mmrPool),
       |$mmrTailSql""".stripMargin
  }

  // ---- ANN recall audit (the approximate-path tuning query) ---------------

  /** Recall@3 of every approximate path (sign-bucket LSH, IVF probing, the
    * IVF+PQ composite) against brute-force truth, per query — the
    * similarity-search twin of
    * `dd_lsh_recall`. This is the dial-tuning query an operator runs before
    * committing to bucket/probe parameters at full scale: truth is computed
    * on the QUERY SAMPLE only (O(sample·n), not O(n²)), the approximate
    * sides are the production pipelines unchanged, and the output is small
    * (methods × queries), so the audit costs one brute pass over the sample
    * plus the candidate pipelines it is grading. */
  def annRecall(spark: SparkSession, sfDir: String): DataFrame = {
    // ONE materialized corpus read serves truth + both graded pipelines:
    // each sub-pipeline rebuilds the identical embeddings scan plan, which
    // the cache manager substitutes with this materialization (dd_lsh_recall
    // achieves the same sharing by threading a persisted frame explicitly)
    Tables(spark, sfDir).embeddings.persist()
    val truth = bruteTopK(spark, sfDir).filter(col("rank") <= 3)
      .select(col("qid"), col("cand")).persist()
    val nTruth = truth.groupBy(col("qid")).agg(count(lit(1)).as("n_truth"))
    def methodRows(approx: DataFrame, method: String): DataFrame = {
      val hits = truth
        .join(approx.select(col("qid"), col("cand")), Seq("qid", "cand"), "left_semi")
        .groupBy(col("qid")).agg(count(lit(1)).as("n_hit"))
      nTruth.join(hits, Seq("qid"), "left")
        .select(lit(method).as("method"), col("qid"), col("n_truth"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"))
    }
    methodRows(lshTopK(spark, sfDir), "lsh")
      .unionAll(methodRows(ivfTopK(spark, sfDir), "ivf"))
      .unionAll(methodRows(ivfPqTopK(spark, sfDir), "ivfpq"))
      .unionAll(methodRows(pqTopK(spark, sfDir), "pq"))
      .unionAll(methodRows(pqTrainedTopK(spark, sfDir), "pq_trained"))
      .withColumn("recall", round(col("n_hit") / col("n_truth"), 6))
  }

  val annRecallSql: String = {
    def methodSql(approxSql: String, method: String) =
      s"""SELECT '$method' AS method, n.qid, n.n_truth,
         |  coalesce(h.n_hit, 0) AS n_hit,
         |  round(coalesce(h.n_hit, 0) / n.n_truth, 6) AS recall
         |FROM n_truth n LEFT JOIN (
         |  SELECT t.qid, count(*) AS n_hit
         |  FROM truth t JOIN ($approxSql) a
         |    ON t.qid = a.qid AND t.cand = a.cand
         |  GROUP BY 1) h ON h.qid = n.qid""".stripMargin
    s"""WITH truth AS (
       |  SELECT qid, cand FROM ($bruteTopKSql) b WHERE rank <= 3),
       |n_truth AS (SELECT qid, count(*) AS n_truth FROM truth GROUP BY 1)
       |${methodSql(lshTopKSql, "lsh")}
       |UNION ALL
       |${methodSql(ivfTopKSql, "ivf")}
       |UNION ALL
       |${methodSql(ivfPqTopKSql, "ivfpq")}
       |UNION ALL
       |${methodSql(pqTopKSql, "pq")}
       |UNION ALL
       |${methodSql(pqTrainedTopKSql, "pq_trained")}""".stripMargin
  }

  // ---- ANN nDCG audit (rank quality, not just set recall) -----------------

  /** Position discounts 1/log2(i+1) as INTEGER ppm, computed once here and
    * injected verbatim into both engines (the pqTrainIters shared-constant
    * discipline) — DCG sums stay in exact integer arithmetic, the only
    * float op is the final ndcg division, rounded at 6dp. */
  private val ndcgDiscPpm: Seq[(Int, Long)] =
    (1 to 3).map(i => i -> math.round(1e6 / (math.log(i + 1.0) / math.log(2.0))))

  /** Ideal DCG_ppm: every truth member found, in truth order (graded
    * relevance rel = topK+1-rank from the brute top-[[topK]]). A constant —
    * each query has ≥ topK corpus candidates, so truth is never short. */
  private val ndcgIdealPpm: Long =
    ndcgDiscPpm.map { case (r, d) => (topK + 1L - r) * d }.sum

  /** nDCG@3 of every approximate path against brute-force graded truth —
    * [[annRecall]]'s rank-quality sibling: recall says whether the right
    * SET came back, nDCG says whether it came back in the right ORDER
    * (a reranker consuming the top slot cares about exactly this). Same
    * audit economics: truth is the probe-sampled brute pass, the graded
    * sides are the production pipelines unchanged, output is
    * methods × queries rows. */
  def annNdcg(spark: SparkSession, sfDir: String): DataFrame = {
    Tables(spark, sfDir).embeddings.persist()
    val truth = bruteTopK(spark, sfDir)
      .select(col("qid"), col("cand"), (lit(topK + 1L) - col("rank")).as("rel"))
      .persist()
    val qids = truth.select(col("qid")).distinct()
    val disc = ndcgDiscPpm.foldLeft(lit(0L)) { case (acc, (r, d)) =>
      when(col("rank") === r, lit(d)).otherwise(acc)
    }
    def methodRows(approx: DataFrame, method: String): DataFrame = {
      val dcg = approx.select(col("qid"), col("cand"), col("rank"))
        .join(truth, Seq("qid", "cand"), "left")
        .select(col("qid"), (coalesce(col("rel"), lit(0L)) * disc).as("g"))
        .groupBy(col("qid")).agg(sum(col("g")).as("dcg_ppm"))
      qids.join(dcg, Seq("qid"), "left")
        .select(lit(method).as("method"), col("qid"),
          coalesce(col("dcg_ppm"), lit(0L)).as("dcg_ppm"))
    }
    methodRows(lshTopK(spark, sfDir), "lsh")
      .unionAll(methodRows(ivfTopK(spark, sfDir), "ivf"))
      .unionAll(methodRows(ivfPqTopK(spark, sfDir), "ivfpq"))
      .unionAll(methodRows(pqTopK(spark, sfDir), "pq"))
      .unionAll(methodRows(pqTrainedTopK(spark, sfDir), "pq_trained"))
      .withColumn("ndcg", round(col("dcg_ppm") / lit(ndcgIdealPpm.toDouble), 6))
  }

  val annNdcgSql: String = {
    val discSql = "CASE a.rank " +
      ndcgDiscPpm.map { case (r, d) => s"WHEN $r THEN $d" }.mkString(" ") +
      " ELSE 0 END"
    def methodSql(approxSql: String, method: String) =
      s"""SELECT '$method' AS method, q.qid,
         |  CAST(coalesce(s.dcg_ppm, 0) AS BIGINT) AS dcg_ppm,
         |  round(coalesce(s.dcg_ppm, 0) / $ndcgIdealPpm.0, 6) AS ndcg
         |FROM qids q LEFT JOIN (
         |  SELECT a.qid, sum(coalesce(t.rel, 0) * $discSql) AS dcg_ppm
         |  FROM ($approxSql) a
         |  LEFT JOIN truth t ON t.qid = a.qid AND t.cand = a.cand
         |  GROUP BY 1) s ON s.qid = q.qid""".stripMargin
    s"""WITH truth AS (
       |  SELECT qid, cand, ${topK} + 1 - rank AS rel FROM ($bruteTopKSql) b),
       |qids AS (SELECT DISTINCT qid FROM truth)
       |${methodSql(lshTopKSql, "lsh")}
       |UNION ALL
       |${methodSql(ivfTopKSql, "ivf")}
       |UNION ALL
       |${methodSql(ivfPqTopKSql, "ivfpq")}
       |UNION ALL
       |${methodSql(pqTopKSql, "pq")}
       |UNION ALL
       |${methodSql(pqTrainedTopKSql, "pq_trained")}""".stripMargin
  }

  // ---- cluster-balanced sampling (diversity quota over semantic strata) ---

  val clusterSampleK = 8

  /** Cluster-balanced ("diversity") sampling: an exact-K quota from every
    * SEMANTIC cluster rather than every label — the embedding-space
    * counterpart of samp_stratified that keeps a mixture from collapsing
    * onto its dominant modes (big clusters are capped at K, small clusters
    * survive whole). Rides the shared coarse-assignment pass (O(n·K)
    * broadcast + argmax window, same subtree as IVF/SemDeDup); the quota is
    * samp_reservoir's hash-priority rank within each cluster — fully
    * deterministic, no RNG, one shuffle on cluster id. */
  /** The quota itself, over any (cid, vec_id) assignment frame — separate
    * from the corpus binding so the under-quota (small-cluster) branch is
    * spec-testable on crafted clusters (the synthetic corpus has none). */
  def quotaSample(assigned: DataFrame, k: Int): DataFrame = {
    val h = graft.functions.Portable.hash64(col("vec_id").cast("string"), salt = "clsamp")
    val w = Window.partitionBy(col("cid")).orderBy(h.asc, col("vec_id").asc)
    val cw = Window.partitionBy(col("cid"))
    assigned.select(col("cid"), col("vec_id"))
      .withColumn("cluster_size", count(lit(1)).over(cw))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  def clusterSample(spark: SparkSession, sfDir: String): DataFrame =
    quotaSample(assignedLists(spark, sfDir), clusterSampleK)

  // ---- greedy k-center coreset (farthest-point traversal) -------------------

  /** Picks after the seed (total centers = kcenterK + 1). */
  val kcenterK = 3

  /** Greedy k-center coreset — the diversity-selection pass a training-data
    * pipeline runs to pick a small set of maximally-spread exemplars (and
    * the classic 2-approximation to the k-center cover): seed at the
    * smallest vec_id, then repeatedly take the point FARTHEST from its
    * nearest chosen center (Gonzalez 1985 farthest-point traversal). Output:
    * each pick with the distance² that earned it, plus the final coverage
    * radius (max point-to-nearest-center distance² over the corpus — the
    * quality number a curation run monitors as k grows).
    *
    * Scale shape: each pick is one corpus scan against a ≤k one-row
    * broadcast of chosen centers, argmax via TakeOrderedAndProject
    * (per-partition heads, no global sort); the running min-distance
    * frontier is persisted per round so round i scans cost O(1) distance
    * evals per point, O(n·k) total — the same bounded-linear-scans posture
    * as ann_kmeans. Distances are ordered folds rounded at 6dp BEFORE every
    * comparison (argmax and `least` alike), so the greedy trajectory is
    * bit-identical across engines; ties break on vec_id asc. */
  def kcenter(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables(spark, sfDir).embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val seed = e.orderBy(col("vec_id").asc).limit(1)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    var frontier = e.crossJoin(broadcast(seed))
      .select(col("vec_id"), col("v"),
        round(Portable.dist2(col("v"), col("cv")), 6).as("dmin"))
      .persist()
    var picks = seed.select(lit(0L).as("pick"), col("cid").as("vec_id"),
      lit(0.0).as("r2"))
    for (i <- 1 to kcenterK) {
      val c = frontier.orderBy(col("dmin").desc, col("vec_id").asc).limit(1)
        .select(col("vec_id").as("cid"), col("v").as("cv"), col("dmin").as("r"))
      picks = picks.unionAll(c.select(lit(i.toLong).as("pick"),
        col("cid").as("vec_id"), col("r").as("r2")))
      frontier = frontier.crossJoin(broadcast(c.drop("r")))
        .select(col("vec_id"), col("v"),
          least(col("dmin"), round(Portable.dist2(col("v"), col("cv")), 6)).as("dmin"))
        .persist()
    }
    val coverage = frontier.agg(max(col("dmin")).as("r2"))
      .select(lit(kcenterK + 1L).as("pick"), lit(null).cast("long").as("vec_id"),
        col("r2"))
    picks.unionAll(coverage)
  }

  val kcenterSql: String = {
    def d2(c: String): String = s"round(${Portable.dist2Sql("f.v", c)}, 6)"
    s"""WITH pts AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |c0 AS (SELECT vec_id AS cid, v AS cv FROM pts ORDER BY vec_id ASC LIMIT 1),
       |f0 AS (SELECT f.vec_id, f.v, ${"round(" + Portable.dist2Sql("f.v", "cv") + ", 6)"} AS dmin
       |       FROM pts f, c0),
       |c1 AS (SELECT vec_id AS cid, v AS cv, dmin AS r FROM f0
       |       ORDER BY dmin DESC, vec_id ASC LIMIT 1),
       |f1 AS (SELECT f.vec_id, f.v, least(f.dmin, ${d2("cv")}) AS dmin FROM f0 f, c1),
       |c2 AS (SELECT vec_id AS cid, v AS cv, dmin AS r FROM f1
       |       ORDER BY dmin DESC, vec_id ASC LIMIT 1),
       |f2 AS (SELECT f.vec_id, f.v, least(f.dmin, ${d2("cv")}) AS dmin FROM f1 f, c2),
       |c3 AS (SELECT vec_id AS cid, v AS cv, dmin AS r FROM f2
       |       ORDER BY dmin DESC, vec_id ASC LIMIT 1),
       |f3 AS (SELECT f.vec_id, f.v, least(f.dmin, ${d2("cv")}) AS dmin FROM f2 f, c3)
       |SELECT CAST(0 AS BIGINT) AS pick, cid AS vec_id, CAST(0.0 AS DOUBLE) AS r2 FROM c0
       |UNION ALL SELECT 1, cid, r FROM c1
       |UNION ALL SELECT 2, cid, r FROM c2
       |UNION ALL SELECT 3, cid, r FROM c3
       |UNION ALL SELECT 4, CAST(NULL AS BIGINT), max(dmin) FROM f3""".stripMargin
  }

  val clusterSampleSql: String = {
    val h = graft.functions.Portable.hash64Sql("CAST(vec_id AS VARCHAR)", "clsamp")
    s"""WITH $embCte,
       |$assignedCte,
       |sampled AS (
       |  SELECT cid, vec_id,
       |    count(*) OVER (PARTITION BY cid) AS cluster_size,
       |    row_number() OVER (PARTITION BY cid ORDER BY $h ASC, vec_id ASC) AS rank
       |  FROM lists)
       |SELECT cid, vec_id, cluster_size, CAST(rank AS BIGINT) AS rank
       |FROM sampled WHERE rank <= $clusterSampleK""".stripMargin
  }

  // ---- filtered vector search ----------------------------------------------

  /** Filtered ANN — metadata-constrained vector search (the "where
    * label = X" retrieval every vector store advertises; RAG pipelines
    * filter by tenant/source/date before similarity). This is the
    * PRE-FILTER plan: the label predicate sits in the candidate JOIN
    * condition, so non-matching vectors are discarded before any dot
    * product is spent — the right choice when the filter is selective
    * (post-filtering a top-k starves the result set; at 100 TB a
    * label-bucketed layout additionally prunes the scan itself). Rides
    * the IVF probe shape: same O(n·K) assignment, same nprobe lists,
    * label carried through the assignment pass at zero extra cost. */
  def filteredTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val e = emb(spark, sfDir)
    val cents = centroids(spark, sfDir)
    val wAssign = Window.partitionBy(col("vec_id")).orderBy(col("ccos").desc, col("cid").asc)
    val lists = e.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("v"), col("nrm"), col("label"), col("cid"),
        round(graft.plans.VectorDot(col("v"), col("cv")) / (col("nrm") * col("cnrm")), 6)
          .as("ccos"))
      .groupBy(col("vec_id"))
      .agg(max_by(struct(col("v"), col("nrm"), col("label"), col("cid")),
        struct(col("ccos"), (-col("cid")).as("nc"))).as("best"))
      .select(col("vec_id"), col("best.v").as("v"), col("best.nrm").as("nrm"),
        col("best.label").as("label"), col("best.cid").as("cid"))
      .persist()
    val probes = e.filter(col("vec_id") < numQueries).crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cid"),
        round(graft.plans.VectorDot(col("v"), col("cv")) / (col("nrm") * col("cnrm")), 6)
          .as("ccos"))
      .withColumn("crn", row_number().over(wAssign))
      .filter(col("crn") <= nprobe)
      .select(col("vec_id").as("qid"), col("cid").as("pcid"))
    val q = lists.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qnrm"),
        col("label").as("qlabel"))
      .join(probes, "qid")
    val scored = lists.join(broadcast(q),
        col("cid") === col("pcid") && col("vec_id") =!= col("qid")
          && col("label") === col("qlabel"))
      .select(col("qid"), col("qlabel").cast("long").as("qlabel"),
        col("vec_id").as("cand"),
        round(graft.plans.VectorDot(col("v"), col("qv")) / (col("nrm") * col("qnrm")), 6)
          .as("cos"))
    val wRank = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cand").asc)
    scored.withColumn("rank", row_number().over(wRank)).filter(col("rank") <= 3)
  }

  val filteredTopKSql: String =
    s"""WITH $embCte,
       |cents AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < $numCentroids),
       |sims AS (
       |  SELECT e.vec_id, e.label, cid,
       |    round(${Portable.cosineSql("e.v", "cv")}, 6) AS ccos
       |  FROM e CROSS JOIN cents),
       |assigned AS (
       |  SELECT vec_id, label, cid, ccos,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid ASC) AS crn
       |  FROM sims),
       |lists AS (
       |  SELECT a.vec_id, e.v, a.label, a.cid
       |  FROM assigned a JOIN e ON a.vec_id = e.vec_id WHERE a.crn = 1),
       |probes AS (
       |  SELECT vec_id AS qid, cid AS pcid FROM assigned
       |  WHERE vec_id < $numQueries AND crn <= $nprobe),
       |q AS (
       |  SELECT l.vec_id AS qid, l.v AS qv, l.label AS qlabel, p.pcid
       |  FROM lists l JOIN probes p ON l.vec_id = p.qid
       |  WHERE l.vec_id < $numQueries),
       |scored AS (
       |  SELECT q.qid, CAST(q.qlabel AS BIGINT) AS qlabel, l.vec_id AS cand,
       |    round(${Portable.cosineSql("l.v", "qv")}, 6) AS cos
       |  FROM lists l JOIN q ON l.cid = q.pcid AND l.vec_id <> q.qid
       |    AND l.label = q.qlabel)
       |SELECT qid, qlabel, cand, cos, rank FROM (
       |  SELECT qid, qlabel, cand, cos,
       |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cand ASC) AS rank
       |  FROM scored) t
       |WHERE rank <= 3""".stripMargin

  // ---- MIPS via norm augmentation ------------------------------------------

  /** Raw dot product in DuckDB's list-fold order (the [[graft.plans.VectorDot]]
    * twin, minus the cosine normalization). */
  private def dotSql(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a, $b), p -> p[1] * p[2]))"

  /** Maximum-inner-product search (MIPS) — the recommender/reranker scoring
    * mode, distinct from cosine ANN: un-normalized preference scores rank
    * differently than angles (a long vector can beat a better-aligned short
    * one). Angular LSH does not apply to raw dots directly; the published
    * reduction (Bachrach et al. 2014, RecSys; Shrivastava & Li 2014, ALSH)
    * appends one coordinate: corpus x̂ = (x, √(M²−‖x‖²)) — every augmented
    * corpus vector then has norm M — and query q̂ = (q, 0), making augmented
    * ANGLE order equal raw-dot order, so the SAME sign-pattern bucketing
    * the cosine path uses applies verbatim. Here: a ONE-ROW max-norm² frame
    * broadcasts back (the stats pattern), the augmented extra coordinate is
    * per-row math (never materialized into the vectors), anchors are the
    * first 4 corpus vectors augmented, and candidates equi-join on the
    * 16-value sign bucket; exact raw dots re-score candidates, window top-3.
    * At 100 TB this inherits the cosine path's scale posture unchanged —
    * the reduction is one extra double per row. */
  def mipsTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val e = emb(spark, sfDir)
    val stats = e.agg(max(graft.plans.VectorDot(col("v"), col("v"))).as("m2"))
    val ea = e.crossJoin(broadcast(stats))
      .withColumn("ext", sqrt(col("m2") - graft.plans.VectorDot(col("v"), col("v"))))
    val anchors = ea.filter(col("vec_id") < numAnchors)
      .select(col("vec_id").as("aid"), col("v").as("av"), col("ext").as("aext"))
    val b = ea.crossJoin(broadcast(anchors))
      .groupBy(col("vec_id"))
      .agg(sum(when(
        graft.plans.VectorDot(col("v"), col("av")) + col("ext") * col("aext") > 0,
        pow(lit(2.0), col("aid")).cast("long")).otherwise(0L)).as("bucket"))
    val eb = e.join(b, "vec_id").persist()
    val qb = e.filter(col("vec_id") < numQueries).crossJoin(broadcast(anchors))
      .groupBy(col("vec_id"))
      .agg(sum(when(graft.plans.VectorDot(col("v"), col("av")) > 0,
        pow(lit(2.0), col("aid")).cast("long")).otherwise(0L)).as("qb"))
    val q = e.filter(col("vec_id") < numQueries).join(qb, "vec_id")
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("qb"))
    val scored = eb.join(broadcast(q),
        col("bucket") === col("qb") && col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cand"),
        round(graft.plans.VectorDot(col("v"), col("qv")), 6).as("ip"))
    val w = Window.partitionBy(col("qid")).orderBy(col("ip").desc, col("cand").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= 3)
  }

  val mipsTopKSql: String =
    s"""WITH $embCte,
       |stats AS (
       |  SELECT max(list_sum(list_transform(v, x -> x * x))) AS m2 FROM e),
       |ea AS (
       |  SELECT vec_id, v,
       |    sqrt(m2 - list_sum(list_transform(v, x -> x * x))) AS ext
       |  FROM e, stats),
       |anchors AS (
       |  SELECT vec_id AS aid, v AS av, ext AS aext FROM ea WHERE vec_id < $numAnchors),
       |b AS (
       |  SELECT ea.vec_id,
       |    sum(CASE WHEN ${dotSql("ea.v", "av")} + ext * aext > 0
       |      THEN CAST(2 ** aid AS BIGINT) ELSE 0 END) AS bucket
       |  FROM ea CROSS JOIN anchors GROUP BY 1),
       |qb AS (
       |  SELECT e.vec_id,
       |    sum(CASE WHEN ${dotSql("e.v", "av")} > 0
       |      THEN CAST(2 ** aid AS BIGINT) ELSE 0 END) AS qb
       |  FROM e CROSS JOIN anchors WHERE e.vec_id < $numQueries GROUP BY 1),
       |q AS (SELECT e.vec_id AS qid, e.v AS qv, qb FROM e JOIN qb ON e.vec_id = qb.vec_id),
       |eb AS (SELECT e.vec_id, e.v, bucket FROM e JOIN b ON e.vec_id = b.vec_id),
       |scored AS (
       |  SELECT qid, eb.vec_id AS cand,
       |    round(${dotSql("eb.v", "qv")}, 6) AS ip
       |  FROM eb JOIN q ON eb.bucket = qb AND eb.vec_id <> qid)
       |SELECT qid, cand, ip, rank FROM (
       |  SELECT qid, cand, ip,
       |    row_number() OVER (PARTITION BY qid ORDER BY ip DESC, cand ASC) AS rank
       |  FROM scored) t
       |WHERE rank <= 3""".stripMargin

  // ---- hybrid retrieval: lexical (TF-IDF) + vector (cosine) via RRF --------

  /** Candidates each list contributes to the fusion. */
  val hybridListK = 20
  /** Final fused results. */
  val hybridTopK = 10
  /** Standard RRF damping constant (Cormack et al.). */
  val rrfC = 60

  /** Hybrid retrieval — the RAG-era flagship: a lexical ranked list (the
    * tx_search TF-IDF scorer, rational idf) and a vector ranked list
    * (cosine vs the query embedding) fused by Reciprocal Rank Fusion
    * (score = Σ 1/(c + rank), the fusion that needs no score calibration
    * between modalities — only ranks cross the boundary).
    *
    * Scale shape: each list is an independent bounded top-k pass over its
    * OWN corpus (lexical: zero-shuffle per-row term counts + one-row stats
    * broadcast + TakeOrderedAndProject; vector: one broadcast query row +
    * TakeOrderedAndProject) — the corpora are never joined; fusion is a
    * full-outer join of two ≤hybridListK-row lists, driver-scale by
    * construction. RRF terms are single divisions of exact-int operands
    * summed in fixed order; ranks tie-break on id so both lists are
    * deterministic before fusion. */
  def hybridTopKQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val terms = graft.text.TextOps.searchTerms
    // lexical list: tx_search's scorer, top-hybridListK with rank
    val d = Tables(spark, sfDir).documents
    val tf = d.select(
      col("doc_id") +: terms.indices.map(i =>
        regexp_count(col("text"), lit("\\b" + terms(i) + "\\b"))
          .cast("long").as(s"tf$i")): _*)
    val stats = tf.agg(
      count(lit(1)).as("n_docs"),
      terms.indices.map(i =>
        sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i")): _*)
    val lexScore = terms.indices.map(i =>
        col(s"tf$i") * (col("n_docs") / greatest(col(s"df$i"), lit(1L))))
      .reduce(_ + _)
    val lexList = tf.crossJoin(broadcast(stats))
      .select(col("doc_id"), round(lexScore, 6).as("score"))
      .filter(col("score") > 0)
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(hybridListK)
      .withColumn("rank_lex",
        row_number().over(Window.orderBy(col("score").desc, col("doc_id").asc)))
      .select(col("doc_id").as("id"), col("rank_lex"))
    // vector list: cosine vs the query embedding (vec 0), top-hybridListK
    val e = emb(spark, sfDir)
    val q = e.filter(col("vec_id") === 0)
      .select(col("v").as("qv"), col("nrm").as("qnrm"))
    val vecList = e.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(graft.plans.VectorDot(col("v"), col("qv")) / (col("nrm") * col("qnrm")), 6)
          .as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(hybridListK)
      .withColumn("rank_vec",
        row_number().over(Window.orderBy(col("cos").desc, col("vec_id").asc)))
      .select(col("vec_id").as("id"), col("rank_vec"))
    // RRF fusion over the two bounded lists
    lexList.join(vecList, Seq("id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(rrfC) + col("rank_lex")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(rrfC) + col("rank_vec")), lit(0.0)))
      .orderBy(col("rrf").desc, col("id").asc)
      .limit(hybridTopK)
      .select(col("id"), col("rank_lex"), col("rank_vec"), col("rrf"))
  }

  val hybridSql: String = {
    val terms = graft.text.TextOps.searchTerms
    val tfCols = terms.indices.map(i =>
      s"len(regexp_extract_all(text, '\\b${terms(i)}\\b')) AS tf$i").mkString(",\n    ")
    val dfCols = terms.indices.map(i =>
      s"CAST(sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df$i").mkString(",\n    ")
    val score = terms.indices.map(i =>
      s"tf$i * (n_docs / greatest(df$i, 1))").mkString(" + ")
    s"""WITH $embCte,
       |tf AS (SELECT doc_id,
       |    $tfCols
       |  FROM documents),
       |stats AS (SELECT count(*) AS n_docs,
       |    $dfCols
       |  FROM tf),
       |lexs AS (
       |  SELECT doc_id, round($score, 6) AS score
       |  FROM tf CROSS JOIN stats
       |  WHERE round($score, 6) > 0
       |  ORDER BY score DESC, doc_id ASC LIMIT $hybridListK),
       |lex AS (
       |  SELECT doc_id AS id,
       |    row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank_lex
       |  FROM lexs),
       |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
       |vecs AS (
       |  SELECT vec_id, round(${Portable.cosineSql("e.v", "qv")}, 6) AS cos
       |  FROM e CROSS JOIN q WHERE vec_id <> 0
       |  ORDER BY cos DESC, vec_id ASC LIMIT $hybridListK),
       |vec AS (
       |  SELECT vec_id AS id,
       |    row_number() OVER (ORDER BY cos DESC, vec_id ASC) AS rank_vec
       |  FROM vecs)
       |SELECT coalesce(lex.id, vec.id) AS id, rank_lex, rank_vec,
       |  coalesce(CAST(1 AS DOUBLE) / ($rrfC + rank_lex), 0) +
       |    coalesce(CAST(1 AS DOUBLE) / ($rrfC + rank_vec), 0) AS rrf
       |FROM lex FULL OUTER JOIN vec ON lex.id = vec.id
       |ORDER BY rrf DESC, id ASC LIMIT $hybridTopK""".stripMargin
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_hybrid" -> (hybridTopKQuery _),
    "ann_filtered" -> (filteredTopK _),
    "ann_mips" -> (mipsTopK _),
    "ann_recall" -> (annRecall _),
    "ann_ndcg" -> (annNdcg _),
    "samp_cluster" -> (clusterSample _),
    "samp_kcenter" -> (kcenter _),
    "ann_quant_topk" -> (quantTopK _),
    "ann_rerank" -> (rerank _),
    "ann_mmr" -> (mmr _),
    "ann_mmr_ivf" -> (mmrIvf _),
    "ann_ivf_pq" -> (ivfPqTopK _),
    "ann_pq_topk" -> (pqTopK _),
    "ann_pq_trained" -> (pqTrainedTopK _),
    "ann_brute_topk" -> (bruteTopK _),
    "ann_lsh_topk" -> (lshTopK _),
    "ann_ivf_topk" -> (ivfTopK _),
    "ann_radius" -> (radiusSearch _),
    "ann_ivf_stats" -> (ivfStats _),
    "ann_ivf_trained" -> (ivfTrainedTopK _),
    "ann_incremental" -> (incrementalIndex _),
    "ann_knn_join" -> (knnJoin _),
    "dd_embed" -> (embedNearDup _),
    "dd_semdedup" -> (semDedup _),
    "ann_kmeans" -> (kmeans _),
    "ann_pca" -> (pca _))

  def oracleSql: Map[String, String] = Map(
    "ann_hybrid" -> hybridSql,
    "ann_filtered" -> filteredTopKSql,
    "ann_mips" -> mipsTopKSql,
    "ann_recall" -> annRecallSql,
    "ann_ndcg" -> annNdcgSql,
    "samp_cluster" -> clusterSampleSql,
    "samp_kcenter" -> kcenterSql,
    "ann_quant_topk" -> quantTopKSql,
    "ann_rerank" -> rerankSql,
    "ann_mmr" -> mmrSql,
    "ann_mmr_ivf" -> mmrIvfSql,
    "ann_ivf_pq" -> ivfPqTopKSql,
    "ann_pq_topk" -> pqTopKSql,
    "ann_pq_trained" -> pqTrainedTopKSql,
    "ann_brute_topk" -> bruteTopKSql,
    "ann_lsh_topk" -> lshTopKSql,
    "ann_ivf_topk" -> ivfTopKSql,
    "ann_radius" -> radiusSearchSql,
    "ann_ivf_stats" -> ivfStatsSql,
    "ann_ivf_trained" -> ivfTrainedSql,
    "ann_incremental" -> incrementalIndexSql,
    "ann_knn_join" -> knnJoinSql,
    "dd_embed" -> embedNearDupSql,
    "dd_semdedup" -> semDedupSql,
    "ann_kmeans" -> kmeansSql,
    "ann_pca" -> pcaSql)
}
