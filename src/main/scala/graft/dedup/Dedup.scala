package graft.dedup

import graft.Tables
import graft.functions.Portable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication suite over `documents` (SURVEY §2c) — the operators a
  * training-data pipeline runs at 100 TB.
  *
  * Scale shapes:
  *  - exact: one hash shuffle, map-side partial agg.
  *  - n-gram Jaccard: inverted index (explode shingle → equi-join) instead of
  *    an O(n²) self-join; the shingle hash is the shuffle key, AQE absorbs
  *    hot-shingle skew.
  *  - MinHash+LSH: signatures are per-row column math (no shuffle); only the
  *    8 band keys are exploded and joined — candidate generation cost is
  *    O(n·bands), never O(n²).
  *  - SimHash: 64 partial-agg bit votes per doc; candidate pairing by
  *    (lang, 16-bit signature band) equi-join — 65536 key values per band
  *    keep per-bucket work bounded at planet scale.
  */
object Dedup {

  private def docs(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir).documents

  // ---- #22 exact dedup ----------------------------------------------------

  def exact(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir)
      .groupBy(md5(col("text")).as("text_md5"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))

  val exactSql: String =
    """SELECT md5(text) AS text_md5, min(doc_id) AS keep_id, count(*) AS n_copies
      |FROM documents GROUP BY 1""".stripMargin

  // ---- normalized-exact dedup (casefold / punctuation / whitespace) -------

  /** The normalization key for [[normalized]]: casefold, then map every run
    * of non-alphanumerics (punctuation, spaces, tabs, LINE BREAKS — deleting
    * instead of spacing would weld "foo\nbar" to "foobar" and leave
    * re-wrapped copies un-deduped) to one space, trim. Pure codegen'd column
    * math (corpus is ASCII, so `lower` agrees across engines byte-for-byte);
    * exposed separately so callers can key any dedup variant on it. */
  def normKey(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    trim(regexp_replace(lower(text), "[^a-z0-9]+", " "))

  /** [[normKey]] as DuckDB SQL over a `text` column — the ONE sync point for
    * every oracle that replays the normalization (dd_normalized, pipe_curate). */
  val normKeySql: String =
    "trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))"

  /** Normalized-exact ("fuzzy-exact") dedup: hash the casefolded,
    * punctuation-stripped, whitespace-collapsed text instead of the raw
    * bytes, so trivially reformatted copies (case changes, added markup
    * punctuation, re-wrapped whitespace) collapse into one group — the
    * standard step between [[exact]] and the shingle-based near-dup tiers.
    * Same single hash shuffle as [[exact]]; `n_exact_variants` counts how
    * many raw-byte variants the group folded (anything >1 is a doc [[exact]]
    * would have kept twice). */
  def normalized(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir)
      .groupBy(md5(normKey(col("text"))).as("norm_md5"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"),
        countDistinct(md5(col("text"))).as("n_exact_variants"))

  val normalizedSql: String =
    s"""SELECT md5($normKeySql) AS norm_md5,
       |  min(doc_id) AS keep_id, count(*) AS n_copies,
       |  CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_exact_variants
       |FROM documents GROUP BY 1""".stripMargin

  // ---- soft dedup: reweight copies instead of dropping them ---------------

  /** Soft dedup (the SoftDeDup/"don't drop, downweight" variant): every
    * document keeps flowing, but carries sampling weight 1/n_copies of its
    * exact-dup group — total group mass 1, so repeated boilerplate stops
    * dominating the training mix without discarding unique trailing
    * context. Same single hash shuffle as [[exact]]; the weight is a window
    * count over the text_md5 partitioning (no second join back). */
  def weighted(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(md5(col("text")))
    docs(spark, sfDir)
      .select(col("doc_id"), count(lit(1)).over(w).as("n_copies"))
      .withColumn("weight", round(lit(1.0) / col("n_copies"), 6))
  }

  val weightedSql: String =
    """SELECT doc_id,
      |  count(*) OVER (PARTITION BY md5(text)) AS n_copies,
      |  round(CAST(1.0 AS DOUBLE) / count(*) OVER (PARTITION BY md5(text)), 6) AS weight
      |FROM documents""".stripMargin

  // ---- #23 n-gram Jaccard via df-capped inverted index --------------------

  /** Shingles appearing in more than this many documents carry no near-dup
    * signal (word-soup stop-shingles) and would blow the inverted-index join
    * up quadratically — the standard production mitigation is a document-
    * frequency cap. The informative universe = shingles with df ≤ cap; df=1
    * shingles stay in the denominators but are pruned from the join (they
    * cannot intersect). */
  val maxDf = 50

  private def shingledCteFrom(where: String): String =
    s"""sh0 AS (SELECT doc_id, ${Portable.wordsSql} AS w FROM documents$where),
       |shd AS (SELECT doc_id, ${Portable.shinglesSql()} AS sh FROM sh0)""".stripMargin

  private val shingledCte: String = shingledCteFrom("")

  /** Per-doc shingle-hash ARRAYS — the shared base of both near-dup
    * pipelines (one MD5 per shingle, single pass). The Jaccard path
    * explodes it into the inverted index; the MinHash path folds it into
    * signatures WITHOUT exploding. Callers that run several sketches (the
    * recall audit) persist ONE of these and feed both. */
  def shingleArrays(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir)
      .select(col("doc_id"),
        graft.plans.ShingleHashes(col("text"), 3, distinct = true).as("hs_arr"))

  /** The exploded (doc_id, shingle-hash) inverted index — int64 keys
    * (cheaper shuffle keys than 20-char strings). */
  def invIndex(spark: SparkSession, sfDir: String): DataFrame =
    invIndexFrom(shingleArrays(spark, sfDir))

  def invIndexFrom(arrs: DataFrame): DataFrame =
    arrs.select(col("doc_id"), explode(col("hs_arr")).as("hs"))

  def ngramJaccard(spark: SparkSession, sfDir: String): DataFrame =
    ngramJaccardFrom(invIndex(spark, sfDir))

  /** Shared pair statistics of the df-capped inverted index: per candidate
    * pair (a < b), the intersection size and both capped-universe set
    * sizes — the base frame the Jaccard AND containment scorers divide. */
  def pairStatsFrom(inv: DataFrame): DataFrame = {
    // document frequency as a window count over the hs partition: ONE hash
    // shuffle by hs (vs aggregate + re-join), and the persisted result keeps
    // HashPartitioning(hs) — the candidate self-join below reuses it with no
    // further exchange on either side (at 100 TB the persist is a checkpoint
    // to staging parquet; at bench scale in-memory)
    val informative = inv
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("hs"))))
      .filter(col("df") <= maxDf)
      .persist()
    val sizes = informative.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val joinable = informative.filter(col("df") >= 2).select(col("doc_id"), col("hs"))
    val pairs = joinable.as("a").join(joinable.as("b"),
        col("a.hs") === col("b.hs") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("n_sh", "sa"), "id_a")
      .join(sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("n_sh", "sb"), "id_b")
  }

  def ngramJaccardFrom(inv: DataFrame): DataFrame =
    pairStatsFrom(inv)
      .withColumn("jaccard", round(col("inter") / (col("sa") + col("sb") - col("inter")), 6))
      .filter(col("jaccard") >= 0.12)
      .select(col("id_a"), col("id_b"), col("inter"), col("sa"), col("sb"), col("jaccard"))

  // ---- asymmetric containment (excerpt / quote detection) -----------------

  val containThreshold = 0.8

  /** Broder containment |A∩B| / |A|: the ASYMMETRIC near-dup measure. A
    * 200-word excerpt quoted inside a 5000-word article has Jaccard ~0.04 —
    * invisible to `dd_ngram_jacc` — but containment 1.0; this is how a
    * curation pipeline finds subset duplication (quotes, syndicated
    * excerpts, page-in-page). Rides the SAME df-capped pair statistics as
    * the Jaccard pass (sizes are capped-universe sizes, like Jaccard's);
    * emits both directions + a verdict, keeping pairs where either
    * direction clears the threshold. */
  def containment(spark: SparkSession, sfDir: String): DataFrame =
    pairStatsFrom(invIndex(spark, sfDir))
      .withColumn("cont_a_in_b", round(col("inter") / col("sa"), 6))
      .withColumn("cont_b_in_a", round(col("inter") / col("sb"), 6))
      .filter(col("cont_a_in_b") >= containThreshold ||
        col("cont_b_in_a") >= containThreshold)
      .withColumn("verdict",
        when(col("cont_a_in_b") >= containThreshold &&
          col("cont_b_in_a") >= containThreshold, "mutual")
          .when(col("cont_a_in_b") >= containThreshold, "a_in_b")
          .otherwise("b_in_a"))
      .select(col("id_a"), col("id_b"), col("inter"), col("sa"), col("sb"),
        col("cont_a_in_b"), col("cont_b_in_a"), col("verdict"))

  /** Shared SQL CTE chain ending in pair stats (id_a, id_b, inter, sa, sb). */
  private def pairStatsCtesFrom(where: String): String =
    s"""${shingledCteFrom(where)},
       |inv0 AS (SELECT doc_id, ${Portable.hash64Sql("unnest(sh)")} AS hs FROM shd),
       |df AS (SELECT hs, count(*) AS df FROM inv0 GROUP BY 1),
       |informative AS (SELECT doc_id, inv0.hs, df FROM inv0 JOIN df ON inv0.hs = df.hs WHERE df <= $maxDf),
       |sizes AS (SELECT doc_id, count(*) AS n_sh FROM informative GROUP BY 1),
       |joinable AS (SELECT doc_id, hs FROM informative WHERE df >= 2),
       |pairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
       |  FROM joinable a JOIN joinable b ON a.hs = b.hs AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |stats AS (
       |  SELECT id_a, id_b, inter, sa.n_sh AS sa, sb.n_sh AS sb
       |  FROM pairs
       |  JOIN sizes sa ON sa.doc_id = id_a
       |  JOIN sizes sb ON sb.doc_id = id_b)""".stripMargin

  private val pairStatsCtes: String = pairStatsCtesFrom("")

  val containmentSql: String =
    s"""WITH $pairStatsCtes
       |SELECT id_a, id_b, inter, sa, sb,
       |  round(inter / sa, 6) AS cont_a_in_b,
       |  round(inter / sb, 6) AS cont_b_in_a,
       |  CASE WHEN round(inter / sa, 6) >= $containThreshold
       |         AND round(inter / sb, 6) >= $containThreshold THEN 'mutual'
       |       WHEN round(inter / sa, 6) >= $containThreshold THEN 'a_in_b'
       |       ELSE 'b_in_a' END AS verdict
       |FROM stats
       |WHERE round(inter / sa, 6) >= $containThreshold
       |   OR round(inter / sb, 6) >= $containThreshold""".stripMargin

  val ngramJaccardSql: String =
    s"""WITH $pairStatsCtes
       |SELECT id_a, id_b, inter, sa, sb,
       |  round(inter / (sa + sb - inter), 6) AS jaccard
       |FROM stats
       |WHERE round(inter / (sa + sb - inter), 6) >= 0.12""".stripMargin

  // ---- exact duplicate-substring spans (suffix-array dedup, join form) ----

  /** Minimum run of consecutive shared 3-grams for a span to count: 4 runs
    * = a 6-word exact duplicate substring. */
  val spanMinRun = 4

  /** Exact duplicate-substring spans (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better"): the suffix-array pass
    * re-expressed as relational ops — positional 3-gram inverted index
    * (occurrence-capped like `maxDf`), cross-doc matches on the gram hash,
    * then gaps-and-islands chaining along each (doc_a, doc_b, diagonal):
    * consecutive positions share `ai - row_number()`, so a GROUP BY turns
    * maximal runs into spans. Shapes: one shuffle keyed by gram hash (the
    * window df and the self-join reuse the same HashPartitioning), one
    * shuffle for the island window — both bounded by the occurrence cap. */
  def spans(spark: SparkSession, sfDir: String): DataFrame = {
    val kg = docs(spark, sfDir)
      .select(col("doc_id"), posexplode(
        graft.plans.ShingleHashes(col("text"), 3, distinct = false)))
      .withColumnRenamed("pos", "i").withColumnRenamed("col", "h")
    // persist: both self-join sides read ONE materialization of the
    // positional index (same contract as ngramJaccardFrom — at 100 TB this
    // is a staging write, at bench scale an in-memory cache)
    val informative = kg
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("h"))))
      .filter(col("df").between(2, maxDf))
      .persist()
    val matches = informative.as("a").join(informative.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.i").cast("long").as("ai"), col("b.i").cast("long").as("bi"))
      .withColumn("diag", col("ai") - col("bi"))
    val wIsl = Window.partitionBy(col("doc_a"), col("doc_b"), col("diag"))
      .orderBy(col("ai"))
    matches.withColumn("isl", col("ai") - row_number().over(wIsl))
      .groupBy(col("doc_a"), col("doc_b"), col("diag"), col("isl"))
      .agg(count(lit(1)).as("run"), min(col("ai")).as("start_a"),
        min(col("bi")).as("start_b"))
      .filter(col("run") >= spanMinRun)
      .select(col("doc_a"), col("doc_b"), col("start_a"), col("start_b"),
        (col("run") + 2).as("span_words"))
  }

  val spansSql: String =
    s"""WITH base AS (
       |  SELECT doc_id, ${Portable.wordsSql} AS w FROM documents),
       |kg AS (
       |  SELECT doc_id, i - 1 AS pos,
       |    ${Portable.hash64Sql("w[i] || ' ' || w[i + 1] || ' ' || w[i + 2]")} AS h
       |  FROM base, LATERAL unnest(range(1, greatest(len(w) - 1, 1))) t(i)),
       |df AS (SELECT h, count(*) AS df FROM kg GROUP BY 1),
       |inf AS (
       |  SELECT kg.doc_id, kg.pos, kg.h FROM kg JOIN df ON kg.h = df.h
       |  WHERE df.df BETWEEN 2 AND $maxDf),
       |m AS (
       |  SELECT a.doc_id AS da, b.doc_id AS db, a.pos AS ai, b.pos AS bi,
       |    a.pos - b.pos AS diag
       |  FROM inf a JOIN inf b ON a.h = b.h AND a.doc_id < b.doc_id),
       |isl AS (
       |  SELECT da, db, ai, bi, diag,
       |    ai - row_number() OVER (PARTITION BY da, db, diag ORDER BY ai) AS isl
       |  FROM m)
       |SELECT da AS doc_a, db AS doc_b,
       |  CAST(min(ai) AS BIGINT) AS start_a, CAST(min(bi) AS BIGINT) AS start_b,
       |  CAST(count(*) + 2 AS BIGINT) AS span_words
       |FROM isl GROUP BY da, db, diag, isl
       |HAVING count(*) >= $spanMinRun""".stripMargin

  // ---- #24 MinHash + LSH banding ------------------------------------------

  val numHashes = 16
  val bandSize = 2 // 8 bands of 2 → candidates at jaccard ≳ 0.2

  /** Universal-hash family over one base hash: h_i(x) = (a_i·h32(x) + b_i)
    * mod p, p = 2^31−1. One MD5 per shingle total (not per hash function) —
    * the affine derivations are pure int64 arithmetic inside codegen.
    * Constants from a fixed LCG so the Spark and SQL sides share them. */
  val mersenneP: Long = 2147483647L
  val hashAB: Seq[(Long, Long)] = {
    var s = 1234567L
    def next(): Long = { s = (s * 1103515245L + 12345L) % mersenneP; s }
    // multiplier a ∈ [1, p-1]: map INTO the nonzero range AFTER any mod —
    // the old `(x | 1) % p` form could round-trip p-1 → p → 0, silently
    // degrading that hash function to the constant b
    Seq.fill(numHashes)(((next() % (mersenneP - 1)) + 1, next()))
  }

  /** Per-(band, bucket) occupancy cap for the candidate self-join. Without
    * it one degenerate bucket (boilerplate-heavy docs sharing band minima)
    * makes that bucket's pair count QUADRATIC — the band rows are O(n·bands)
    * but the pairs are not. Keep the `cap` smallest doc_ids per bucket
    * (deterministic, and keep-first dedup semantics want the small ids as
    * canonicals anyway); a fuller bucket forfeits pairs among its tail — the
    * documented recall trade, same posture as dd_embed's cap-512 buckets.
    * Bounded-pair contract: ≤ bands·buckets·cap² pairs ever ship. */
  val lshBucketCap = 512

  /** [[bandRows]] truncated to the first [[lshBucketCap]] docs per (band,
    * key) bucket. The rank window partitions on exactly the join key, so its
    * exchange is the same (band, key) shuffle the self-join needs — no extra
    * corpus pass. Batch-only (rank windows can't stream); the streaming
    * bucket-ownership agg (st_minhash_dedup) needs no cap. */
  def cappedBandRows(arrs: DataFrame, cap: Int = lshBucketCap): DataFrame =
    capBands(bandRows(arrs), cap)

  /** The cap itself, over an existing (doc_id, band, key) frame — a rank
    * window on exactly the join key, so its exchange IS the self-join's
    * (band, key) shuffle and the sort is the only added work. (A TopKAgg
    * bounded min-k was measured 30% slower here: the aggregate's
    * serialized state update beats the codegen'd sort only when buckets
    * are actually hot; the window's worst case is still shuffle-bounded
    * because band rows are O(n·bands).) */
  def capBands(bands: DataFrame, cap: Int = lshBucketCap): DataFrame =
    bands
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("band"), col("key")).orderBy(col("doc_id"))))
      .filter(col("rk") <= cap)
      .drop("rk")

  def minhashLsh(spark: SparkSession, sfDir: String): DataFrame =
    minhashLshFromArrays(shingleArrays(spark, sfDir))

  /** (doc_id, band, key) LSH band rows — signatures via the fused
    * MinHashSigs expression: per-row column math, NO explode of shingles
    * and NO aggregation shuffle. Packed int64 band key (band minima <
    * 2^31): long equi-join keys beat the "mh0_mh1" string concat the
    * oracle uses — downstream outputs are identical. Zero-shingle docs are
    * filtered (the aggregation form produced no group for them). */
  def bandRows(arrs: DataFrame): DataFrame = {
    val sigs = arrs.filter(size(col("hs_arr")) > 0)
      .select(col("doc_id"),
        graft.plans.MinHashSigs(col("hs_arr"), hashAB, mersenneP).as("mh"))
    sigs.select(col("doc_id"), explode(array(
      (0 until numHashes / bandSize).map { b =>
        struct(lit(b).as("band"),
          (col("mh").getItem(2 * b) * 2147483648L + col("mh").getItem(2 * b + 1))
            .as("key"))
      }: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** Bucket-min OWNERSHIP edges over the UNCAPPED band rows: each (band,
    * key) bucket member pairs with the bucket's min doc_id — the same
    * ownership shape st_minhash_dedup already streams. For LSH semantics a
    * bucket is a candidate CLIQUE (co-membership needs no further check),
    * so the star's transitive closure equals the clique's and connected
    * components over these edges are IDENTICAL to components over the full
    * intra-bucket pairwise join — computed from O(n·bands) edges with NO
    * per-bucket cap. This is what the component/duplicate-flag consumers
    * (dd_clusters, dd_keep_best, dd_incremental, pipe_dedup) ride: the
    * [[lshBucketCap]] truncation trade (a doc beyond the cap in every one
    * of its buckets silently loses all candidates — worst exactly on the
    * degenerate boilerplate corpora the cap defends against) applies ONLY
    * to consumers whose OUTPUT is genuinely pairwise (dd_minhash,
    * dd_minhash_est, dd_source_matrix, the audits), where a quadratic
    * answer is the contract and the cap bounds it. One (band, key)
    * exchange — the same shuffle [[capBands]] pays. */
  def ownershipEdges(bands: DataFrame): DataFrame =
    bands
      .withColumn("own", min(col("doc_id")).over(
        Window.partitionBy(col("band"), col("key"))))
      .filter(col("doc_id") =!= col("own"))
      .select(col("own").as("id_a"), col("doc_id").as("id_b"))
      .distinct()

  /** Oracle twin of [[ownershipEdges]] — reads the uncapped `bands` CTE. */
  private val ownershipEdgesCte: String =
    s"""own AS (SELECT band, key, min(doc_id) AS own FROM bands GROUP BY 1, 2),
       |pairs AS (
       |  SELECT DISTINCT o.own AS id_a, b.doc_id AS id_b
       |  FROM bands b JOIN own o ON b.band = o.band AND b.key = o.key
       |  WHERE b.doc_id <> o.own)""".stripMargin

  def minhashLshFromArrays(arrs: DataFrame): DataFrame = {
    // the first exchange in the whole pipeline is the band-bucket rank; the
    // self-join reuses its (band, key) partitioning
    val bands = cappedBandRows(arrs)
      .persist() // both sides of the candidate self-join
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
  }

  // ---- incremental dedup: the daily-increment shape -----------------------

  /** Which docs play the "newly ingested delta": every 5th id. */
  val incrMod = 5

  /** Incremental MinHash dedup — the production ingestion contract: a NEW
    * batch dedupes against the standing corpus without ever re-pairing
    * old×old (the standing band index is a staged table at 100 TB; only
    * delta rows consult it, so per-increment work is O(delta·bands),
    * independent of corpus age). Keep-first semantics: a new doc is a
    * duplicate iff it shares an LSH bucket with ANY smaller-id doc; its
    * canonical copy is the smallest such id.
    *
    * Duplicate-flagging consumer ⇒ rides bucket-MIN ownership, not the
    * capped pairwise join: per bucket the standing index needs only the
    * minimum resident doc_id (the smallest id sharing ANY bucket with d is
    * provably the min over d's buckets of each bucket's min-below-d), so
    * the verdict is exact with NO cap-induced recall loss and no pair
    * materialization at all. Per delta doc: `n_dup_bands` = how many of
    * its band buckets hold a smaller doc (the candidate-strength signal
    * the old pair count served), `dup_of` = the canonical copy (null =
    * genuinely new). */
  def incremental(spark: SparkSession, sfDir: String): DataFrame = {
    val withMin = bandRows(shingleArrays(spark, sfDir))
      .withColumn("own", min(col("doc_id")).over(
        Window.partitionBy(col("band"), col("key"))))
    withMin.filter(pmod(col("doc_id"), lit(incrMod)) === 0)
      .groupBy(col("doc_id").as("new_id"))
      .agg(sum(when(col("own") < col("doc_id"), 1L).otherwise(0L)).as("n_dup_bands"),
        min(when(col("own") < col("doc_id"), col("own"))).as("dup_of"))
  }

  /** Oracle for [[incremental]] — declared as a def: it references
    * [[minhashCtes]], which initializes later in this object. */
  def incrementalSql: String =
    s"""WITH $minhashCtes,
       |own AS (SELECT band, key, min(doc_id) AS own FROM bands GROUP BY 1, 2),
       |d AS (
       |  SELECT b.doc_id, o.own FROM bands b
       |  JOIN own o ON b.band = o.band AND b.key = o.key
       |  WHERE b.doc_id % $incrMod = 0)
       |SELECT doc_id AS new_id,
       |  CAST(sum(CASE WHEN own < doc_id THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_dup_bands,
       |  min(CASE WHEN own < doc_id THEN own END) AS dup_of
       |FROM d GROUP BY 1""".stripMargin

  /** CTE chain shared by the minhash query and the cluster oracle. */
  val minhashCtes: String = {
    val mhCols = hashAB.zipWithIndex.map { case ((a, b), i) =>
      s"min((h32 * $a + $b) % $mersenneP) AS mh$i"
    }.mkString(",\n    ")
    val bandRows = (0 until numHashes / bandSize).map(b =>
      s"($b, mh${2 * b} || '_' || mh${2 * b + 1})").mkString(", ")
    s"""$shingledCte,
       |inv AS (
       |  SELECT doc_id, ${Portable.hash64Sql("unnest(sh)")} % $mersenneP AS h32
       |  FROM shd),
       |sigs AS (
       |  SELECT doc_id,
       |    $mhCols
       |  FROM inv GROUP BY doc_id),
       |bands AS (
       |  SELECT doc_id, b.* FROM sigs, LATERAL (VALUES $bandRows) b(band, key))""".stripMargin
  }

  /** [[minhashCtes]] plus the capped bucket view `bandsc` — the oracle twin
    * of [[cappedBandRows]]; every candidate self-join reads `bandsc`. */
  val minhashCappedCtes: String =
    s"""$minhashCtes,
       |bandsc AS (
       |  SELECT doc_id, band, key FROM (
       |    SELECT doc_id, band, key,
       |      row_number() OVER (PARTITION BY band, key ORDER BY doc_id) AS rk
       |    FROM bands) WHERE rk <= $lshBucketCap)""".stripMargin

  val minhashLshSql: String =
    s"""WITH $minhashCappedCtes
       |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |FROM bandsc a JOIN bandsc b
       |  ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id""".stripMargin

  // ---- LSH parameter sweep --------------------------------------------------

  /** (bands, rows-per-band) configurations sharing the 16 minhashes. */
  val lshConfigs: Seq[(Int, Int)] = Seq((8, 2), (4, 4), (2, 8))

  /** S-curve collision probability 1−(1−τ^r)^b at τ=0.5 — every factor is
    * an exact dyadic rational, so the double is EXACT and its decimal
    * string round-trips identically on both engines. */
  def lshCurveProb(b: Int, r: Int): Double = {
    var tr = 1.0
    for (_ <- 0 until r) tr *= 0.5
    var miss = 1.0
    for (_ <- 0 until b) miss *= (1.0 - tr)
    1.0 - miss
  }

  /** LSH parameter sweep — the tuning loop the dd_minhash doc points at,
    * run as ONE query: the same 16 minhash signatures banded three ways
    * ((8,2) permissive → (2,8) strict), each config's candidate-pair
    * volume, its share of the all-config candidate UNION (relative recall
    * — how many catchable pairs a stricter setting forfeits), and the
    * theoretical S-curve collision probability at Jaccard 0.5 (exact
    * dyadic at τ=½, so even the "analytic" column hash-matches). The
    * production decision this feeds: pick the (b, r) whose candidate
    * volume fits the shuffle budget at the recall the dedup SLA needs.
    * Scale shape: signatures computed ONCE (fused MinHashSigs, persisted);
    * per config one band-bucket equi-join (the bounded-candidate
    * contract); counts are map-side-heavy; the readout is |configs| rows. */
  def lshCurve(spark: SparkSession, sfDir: String): DataFrame = {
    val sigs = shingleArrays(spark, sfDir)
      .filter(size(col("hs_arr")) > 0)
      .select(col("doc_id"),
        graft.plans.MinHashSigs(col("hs_arr"), hashAB, mersenneP).as("mh"))
      .persist()
    val perConfig = lshConfigs.map { case (b, r) =>
      // r9 OPT (guide §2.3): band key = array of the r band minima packed
      // pairwise into longs (minima < 2^31, so the pack is injective —
      // identical bucket equality), replacing the "_"-joined STRING key:
      // fixed-width long-array keys hash and compare far cheaper through
      // the cap window and the candidate self-join than per-row strings
      // (the same swap bandRows made for dd_minhash). Outputs unchanged.
      val rows = sigs.select(col("doc_id"), explode(array((0 until b).map { i =>
        struct(lit(i).as("band"),
          array((0 until r by 2).map { j =>
            if (j + 1 < r)
              col("mh").getItem(i * r + j) * 2147483648L + col("mh").getItem(i * r + j + 1)
            else col("mh").getItem(i * r + j)
          }: _*).as("key"))
      }: _*)).as("bk"))
        .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
      // the sweep measures the PRODUCTION join, which is bucket-capped
      val capped = capBands(rows)
      capped.as("a").join(capped.as("b"),
          col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        .distinct()
        .select(lit(b).as("n_bands"), lit(r).as("rows_per_band"),
          col("id_a"), col("id_b"))
    }
    val all = perConfig.reduce(_ unionAll _).persist()
    val union = all.select(col("id_a"), col("id_b")).distinct()
      .agg(count(lit(1)).as("n_union"))
    val counts = all.groupBy(col("n_bands"), col("rows_per_band"))
      .agg(count(lit(1)).as("n_pairs"))
    val probDf = {
      import spark.implicits._
      lshConfigs.map { case (b, r) => (b, r, lshCurveProb(b, r)) }
        .toDF("n_bands", "rows_per_band", "est_prob_at_half")
    }
    counts.join(broadcast(union))
      .join(broadcast(probDf), Seq("n_bands", "rows_per_band"))
      .select(col("n_bands").cast("long").as("n_bands"),
        col("rows_per_band").cast("long").as("rows_per_band"),
        col("n_pairs"), col("n_union"),
        round(col("n_pairs").cast("double") / col("n_union").cast("double"), 6)
          .as("recall_vs_union"),
        col("est_prob_at_half"))
  }

  val lshCurveSql: String = {
    val configCtes = lshConfigs.map { case (b, r) =>
      val bandRowsVals = (0 until b).map { i =>
        val key = (0 until r).map(j => s"mh${i * r + j}").mkString(" || '_' || ")
        s"($i, $key)"
      }.mkString(", ")
      s"""r_${b}_$r AS (
         |  SELECT doc_id, band, key FROM (
         |    SELECT doc_id, bb.*,
         |      row_number() OVER (PARTITION BY bb.band, bb.key
         |        ORDER BY doc_id) AS rk
         |    FROM sigs, LATERAL (VALUES $bandRowsVals) bb(band, key))
         |  WHERE rk <= $lshBucketCap),
         |p_${b}_$r AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM r_${b}_$r a JOIN r_${b}_$r b
         |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)"""
        .stripMargin
    }.mkString(",\n")
    val tagged = lshConfigs.map { case (b, r) =>
      s"SELECT $b AS n_bands, $r AS rows_per_band, id_a, id_b FROM p_${b}_$r"
    }.mkString("\n  UNION ALL\n  ")
    val probVals = lshConfigs.map { case (b, r) =>
      s"($b, $r, ${lshCurveProb(b, r)})"
    }.mkString(", ")
    s"""WITH $minhashCtes,
       |$configCtes,
       |tagged AS (
       |  $tagged),
       |u AS (SELECT CAST(count(*) AS BIGINT) AS n_union
       |      FROM (SELECT DISTINCT id_a, id_b FROM tagged)),
       |c AS (
       |  SELECT n_bands, rows_per_band, CAST(count(*) AS BIGINT) AS n_pairs
       |  FROM tagged GROUP BY 1, 2),
       |pr(n_bands, rows_per_band, est_prob_at_half) AS (VALUES $probVals)
       |SELECT CAST(c.n_bands AS BIGINT) AS n_bands,
       |  CAST(c.rows_per_band AS BIGINT) AS rows_per_band,
       |  n_pairs, n_union,
       |  round(CAST(n_pairs AS DOUBLE) / CAST(n_union AS DOUBLE), 6)
       |    AS recall_vs_union,
       |  CAST(est_prob_at_half AS DOUBLE) AS est_prob_at_half
       |FROM c CROSS JOIN u
       |JOIN pr ON pr.n_bands = c.n_bands
       |  AND pr.rows_per_band = c.rows_per_band""".stripMargin
  }

  // ---- content-defined chunking (CDC) dedup --------------------------------

  /** Boundary divisor: a chunk break lands after any 2-gram whose hash
    * ≡ 0 (mod 16) → expected chunk ≈ 16 word-positions. */
  val cdcDiv = 16
  /** Signature sum uses 40-bit hash residues so a chunk of any realistic
    * length sums exactly in BIGINT on both engines (DuckDB would widen to
    * HUGEINT while Spark wraps — truncating FIRST keeps them identical). */
  val cdcSigMod = 1L << 40
  private val cdcPack = 1L << 20 // (doc_id, chunk_idx) packed key, as dd_chunks

  /** Content-defined chunking dedup — dd_chunks' storage-dedup sibling with
    * the boundary rule production systems actually use (rsync/LBFS/gear
    * CDC, Muthitacharoen et al. SOSP'01): chunk breaks where a CONTENT hash
    * hits a divisor, not at fixed offsets, so an insertion early in a doc
    * shifts every fixed-size chunk but leaves all CDC chunks after the next
    * boundary intact — the property that makes incremental re-dedup of
    * edited corpora O(changed region). History-free boundary test (pure
    * per-position predicate, no min/max chunk state) keeps the rule
    * relational. Plan: ONE posexplode + per-doc window cumsum (partitions
    * bounded by doc length) → (doc, chunk) signature agg reusing the same
    * partitioning → ONE signature shuffle for corpus-wide dup stats. */
  /** Per-doc CDC chunk table (doc_id, chunk_idx, sig, n_grams) — exposed so
    * the spec can pin the shift-resilience property CDC exists for. */
  private[graft] def cdcChunkTable(docsDf: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    docsDf
      .select(col("doc_id"),
        posexplode(graft.plans.ShingleHashes(col("text"), 2, distinct = false))
          .as(Seq("pos", "h")))
      .withColumn("b", (pmod(col("h"), lit(cdcDiv.toLong)) === 0).cast("long"))
      .withColumn("chunk_idx", coalesce(sum(col("b")).over(w), lit(0L)))
      .groupBy(col("doc_id"), col("chunk_idx"))
      .agg(sum(pmod(col("h"), lit(cdcSigMod))).as("sig"),
        count(lit(1)).as("n_grams"))
  }

  def cdcChunks(spark: SparkSession, sfDir: String): DataFrame =
    cdcChunkTable(docs(spark, sfDir))
      .groupBy(col("sig"), col("n_grams"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occ"),
        min(col("doc_id") * cdcPack + col("chunk_idx")).as("first_key"))
      .filter(col("n_occ") >= 2)
      .select(col("sig"), col("n_grams"), col("n_docs"), col("n_occ"),
        (col("first_key") / cdcPack).cast("long").as("first_doc"),
        pmod(col("first_key"), lit(cdcPack)).as("first_idx"))

  val cdcChunksSql: String =
    s"""WITH sh0 AS (SELECT doc_id, ${Portable.wordsSql} AS w FROM documents),
       |g AS (
       |  SELECT doc_id, i - 1 AS pos,
       |    ${Portable.hash64Sql("w[i] || ' ' || w[i + 1]")} AS h
       |  FROM sh0, LATERAL unnest(range(1, greatest(len(w) - 1, 0) + 1)) t(i)),
       |c AS (
       |  SELECT doc_id, pos, h,
       |    coalesce(sum(CASE WHEN h % $cdcDiv = 0 THEN 1 ELSE 0 END) OVER (
       |      PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_idx
       |  FROM g),
       |ch AS (
       |  SELECT doc_id, chunk_idx,
       |    CAST(sum(h % $cdcSigMod) AS BIGINT) AS sig,
       |    count(*) AS n_grams
       |  FROM c GROUP BY 1, 2)
       |SELECT sig, n_grams, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occ,
       |  CAST(min(doc_id * $cdcPack + chunk_idx) // $cdcPack AS BIGINT) AS first_doc,
       |  CAST(min(doc_id * $cdcPack + chunk_idx) % $cdcPack AS BIGINT) AS first_idx
       |FROM ch GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin

  // ---- near-dup clusters: connected components over candidate pairs -------

  /** Edge-count threshold for the driver union-find fast path. The collect
    * ships only the candidate EDGE LIST (two longs per near-dup pair), never
    * the corpus — the same size-based strategy pick Spark itself makes for
    * broadcast joins. Above it, distributed label propagation. */
  val smallGraphMaxEdges = 5000000L

  /** Connected components over the MinHash candidate graph — the step that
    * turns candidates into dedup groups (keep one doc per cluster).
    * Consumes [[ownershipEdges]] (bucket-min stars over the UNCAPPED band
    * rows), not the capped pairwise join: components are identical to the
    * full intra-bucket clique graph's, from O(n·bands) edges, with none of
    * the cap's tail recall loss — on a corpus of 40k identical docs the
    * capped join would dedup 512 and leave the rest "unique"; the
    * ownership form clusters all 40k from 40k·bands edges. Component pass
    * is adaptive: union-find on the driver when the edge list is tiny
    * relative to the corpus (the common case), else iterative min-label
    * propagation with pointer doubling (≤ log₂(diameter) rounds). The
    * oracle replays it as a recursive CTE. */
  def clusters(spark: SparkSession, sfDir: String): DataFrame =
    clustersImpl(spark, sfDir, smallGraphMaxEdges)

  def clustersImpl(spark: SparkSession, sfDir: String, smallMax: Long): DataFrame =
    clustersOf(ownershipEdges(bandRows(shingleArrays(spark, sfDir))), spark, smallMax)

  /** The component pass over ANY (id_a, id_b) candidate-pair frame — shared
    * by the MinHash clusters row and the SimHash clusters row (the consumer
    * SCALING.md points pair-list-bottlenecked corpora at). */
  private[graft] def clustersOf(pairFrame: DataFrame, spark: SparkSession,
      smallMax: Long): DataFrame = {
    val pairs = pairFrame.select(col("id_a"), col("id_b")).persist()
    if (pairs.count() <= smallMax) {
      // driver union-find with path compression, union-by-min-root
      val es = pairs.select(col("id_a"), col("id_b")).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      es.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      import spark.implicits._
      return parent.keys.toSeq.map(n => (n, find(n))).toDF("doc_id", "cluster_id")
    }
    val edges = pairs
      .union(pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
      .repartition(col("id_b")).persist() // join-key partitioning paid ONCE, reused every round
    // localCheckpoint (eager) per round: an iterative self-joining loop
    // otherwise DOUBLES the logical plan every iteration — data is cached by
    // persist() but the plan is not, and Catalyst analysis goes exponential.
    var labels = edges.select(col("id_a").as("node")).distinct()
      .withColumn("lbl", col("node")).localCheckpoint(true)
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < 12) {
      // neighbor propagation (min over adjacent labels) …
      val prop = edges.join(labels, col("id_b") === col("node"))
        .groupBy(col("id_a")).agg(min(col("lbl")).as("nlbl"))
      val stepped = labels.join(prop, col("node") === col("id_a"), "left")
        .select(col("node"), col("lbl").as("prev"),
          least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl"))
      // … then pointer doubling (label := label's label) halves the
      // remaining path length — O(log diameter) rounds instead of
      // O(diameter) on chain-shaped candidate graphs
      val byNode = stepped.select(col("node").as("n2"), col("lbl").as("l2"))
      val next = stepped.join(byNode, col("lbl") === col("n2"), "left")
        .select(col("node"), col("prev"), coalesce(col("l2"), col("lbl")).as("lbl"))
        .localCheckpoint(true)
      // convergence check reads the just-materialized checkpoint — no join
      changed = next.filter(col("lbl") =!= col("prev")).count()
      labels = next.select(col("node"), col("lbl"))
      iter += 1
    }
    // pointer doubling covers distance 2^r after r rounds, so 12 rounds
    // reach diameter ~4096; a component deeper than that (degenerate
    // chain-shaped near-dup graphs) must fail LOUDLY, not emit silently
    // split clusters
    require(changed == 0,
      s"label propagation did not converge in $iter rounds — component " +
        "diameter exceeds 2^iter; raise the round cap for this graph")
    labels.select(col("node").as("doc_id"), col("lbl").as("cluster_id"))
  }

  /** The ownership-edges → components recursive chain (ends at `reach`) —
    * shared by the clusters oracle, the keep-best representative row, and
    * the pipe_dedup manifest. Uncapped bucket-min stars, the oracle twin
    * of [[ownershipEdges]]. */
  private[graft] val clusterChainCte: String =
    s"""$minhashCtes,
       |$ownershipEdgesCte,
       |edges AS (
       |  SELECT id_a, id_b FROM pairs
       |  UNION ALL SELECT id_b, id_a FROM pairs),
       |reach(node, lbl) AS (
       |  SELECT DISTINCT id_a, id_a FROM edges
       |  UNION
       |  SELECT e.id_a, r.lbl FROM edges e JOIN reach r ON e.id_b = r.node)""".stripMargin

  val clustersSql: String =
    s"""WITH RECURSIVE $clusterChainCte
       |SELECT node AS doc_id, min(lbl) AS cluster_id
       |FROM reach GROUP BY node""".stripMargin

  // ---- duplication profile (the dedup run's summary readout) ---------------

  /** Corpus duplication profile — the one-page readout every dedup run
    * logs: how much of the corpus lives in near-dup clusters of which
    * size. One row per log₂ size bucket (bucket b = cluster sizes
    * [2^b, 2^(b+1)), so 2-3, 4-7, 8-15, …) with cluster count, doc count,
    * and corpus share; bucket 0 is the singleton mass (docs in no
    * cluster). The decision it feeds: heavy mass in big buckets ⇒
    * mirror-dominated corpus, dedup before paying for the full pipeline.
    * Numerics: the bucket is `length(bin(sz)) - 1` — exact integer
    * floor(log₂) on both engines (a float log₂ can land 1.9999… on exact
    * powers and mis-bucket); the only double is the final share division.
    * Scale shape: rides the ownership-edge clusters; everything after is
    * a ≤64-row dim. */
  def dupStats(spark: SparkSession, sfDir: String): DataFrame = {
    val clu = clusters(spark, sfDir).persist()
    val sizes = clu.groupBy(col("cluster_id")).agg(count(lit(1)).as("sz"))
    val buckets = sizes
      .withColumn("bucket", (length(bin(col("sz"))) - 1).cast("long"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_clusters"), sum(col("sz")).as("n_docs"))
    val totals = docs(spark, sfDir).agg(count(lit(1)).as("total"))
      .crossJoin(clu.agg(count(lit(1)).as("n_in")))
    val singles = totals.select(lit(0L).as("bucket"),
      (col("total") - col("n_in")).as("n_clusters"),
      (col("total") - col("n_in")).as("n_docs"))
    singles.unionAll(buckets)
      .crossJoin(broadcast(totals.select(col("total"))))
      .select(col("bucket"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(bucket AS INT))").as("min_sz"),
        col("n_clusters"), col("n_docs"),
        round(col("n_docs").cast("double") / col("total"), 6).as("pct"))
  }

  val dupStatsSql: String =
    s"""WITH RECURSIVE $clusterChainCte,
       |clu AS (SELECT node, min(lbl) AS cluster_id FROM reach GROUP BY node),
       |csz AS (SELECT cluster_id, count(*) AS sz FROM clu GROUP BY 1),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS total FROM documents),
       |cin AS (SELECT CAST(count(*) AS BIGINT) AS n_in FROM clu),
       |b AS (
       |  SELECT CAST(length(bin(CAST(sz AS BIGINT))) - 1 AS BIGINT) AS bucket,
       |    CAST(count(*) AS BIGINT) AS n_clusters,
       |    CAST(sum(sz) AS BIGINT) AS n_docs
       |  FROM csz GROUP BY 1),
       |allb AS (
       |  SELECT CAST(0 AS BIGINT) AS bucket, total - n_in AS n_clusters,
       |    total - n_in AS n_docs
       |  FROM tot, cin
       |  UNION ALL SELECT bucket, n_clusters, n_docs FROM b)
       |SELECT bucket, CAST(1 << bucket AS BIGINT) AS min_sz, n_clusters, n_docs,
       |  round(CAST(n_docs AS DOUBLE) / total, 6) AS pct
       |FROM allb, tot""".stripMargin

  // ---- signature-estimate audit (est vs exact Jaccard per candidate) ------

  /** MinHash ESTIMATOR-quality audit — the other half of the sketch story:
    * dd_lsh_recall grades which pairs the bands SURFACE; this grades what
    * the signatures CLAIM about them. Production thresholds candidate
    * pairs on the signature estimate (matching-slot fraction ≈ Jaccard,
    * the Broder estimator) without ever computing exact Jaccard — so the
    * estimate's error ON THE CANDIDATE SET is the number that decides
    * whether that shortcut is safe. Per capped candidate pair: slot-match
    * count, the k/16 estimate (exact dyadic → 6dp round is bit-stable),
    * the df-capped exact Jaccard (null when the pair shares no informative
    * shingles — an estimate-only pair, exactly the false-positive class
    * the audit exists to expose), and |est − exact|. Scale shape: the
    * capped band join bounds the pairs; signatures ride along as two
    * doc_id-co-partitioned joins; slot matching is per-row zip_with math;
    * the exact side reuses the df-capped inverted index. */
  def minhashEst(spark: SparkSession, sfDir: String): DataFrame = {
    val arrs = shingleArrays(spark, sfDir).persist()
    val sigs = arrs.filter(size(col("hs_arr")) > 0)
      .select(col("doc_id"),
        graft.plans.MinHashSigs(col("hs_arr"), hashAB, mersenneP).as("mh"))
    val est = minhashLshFromArrays(arrs)
      .join(sigs.select(col("doc_id").as("id_a"), col("mh").as("ma")), "id_a")
      .join(sigs.select(col("doc_id").as("id_b"), col("mh").as("mb")), "id_b")
      .withColumn("n_match", aggregate(
        zip_with(col("ma"), col("mb"), (x, y) => when(x === y, 1L).otherwise(0L)),
        lit(0L), (acc, v) => acc + v))
      .withColumn("est_jaccard",
        round(col("n_match").cast("double") / numHashes, 6))
      .select(col("id_a"), col("id_b"), col("n_match"), col("est_jaccard"))
    val exact = pairStatsFrom(invIndexFrom(arrs))
      .select(col("id_a"), col("id_b"),
        round(col("inter") / (col("sa") + col("sb") - col("inter")), 6)
          .as("exact_jaccard"))
    est.join(exact, Seq("id_a", "id_b"), "left")
      .withColumn("abs_err", when(col("exact_jaccard").isNotNull,
        round(abs(col("est_jaccard") - col("exact_jaccard")), 6)))
  }

  val minhashEstSql: String = {
    val matchSum = (0 until numHashes)
      .map(i => s"CASE WHEN sa.mh$i = sb.mh$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH $minhashCappedCtes,
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bandsc a JOIN bandsc b
       |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
       |m AS (
       |  SELECT c.id_a, c.id_b, CAST($matchSum AS BIGINT) AS n_match
       |  FROM cand c
       |  JOIN sigs sa ON sa.doc_id = c.id_a
       |  JOIN sigs sb ON sb.doc_id = c.id_b),
       |ex AS (
       |  SELECT id_a, id_b,
       |    round(inter / (sa + sb - inter), 6) AS exact_jaccard
       |  FROM (WITH ${pairStatsCtes.replace("\n", "\n  ")}
       |        SELECT * FROM stats) px)
       |SELECT m.id_a, m.id_b, m.n_match,
       |  round(CAST(m.n_match AS DOUBLE) / $numHashes, 6) AS est_jaccard,
       |  ex.exact_jaccard,
       |  CASE WHEN ex.exact_jaccard IS NOT NULL THEN
       |    round(abs(round(CAST(m.n_match AS DOUBLE) / $numHashes, 6)
       |      - ex.exact_jaccard), 6) END AS abs_err
       |FROM m LEFT JOIN ex ON ex.id_a = m.id_a AND ex.id_b = m.id_b""".stripMargin
  }

  // ---- quality-representative selection (keep the BEST copy) ---------------

  /** Keep-best dedup representatives — the production variant of "keep one
    * doc per near-dup cluster": the survivor is the HIGHEST-QUALITY member
    * (tx_quality's composite score), not the smallest id. Mirrors what real
    * curation does — mirrors differ in boilerplate/truncation, and min-id
    * keeps whichever copy happened to be crawled first. One row per
    * cluster: (cluster_id, keep_id, keep_quality, n_members); ties break
    * doc_id-ASC so the choice is total. Scale shape: clusters ride the
    * uncapped ownership edges + component pass unchanged (O(n·bands), no
    * recall loss); the quality join is co-partitioned on doc_id; the
    * argmax is a window over cluster partitions — a degenerate
    * boilerplate corpus makes ONE cluster huge, but its window partition
    * carries only (id, quality, label) rows, not text. */
  def keepBest(spark: SparkSession, sfDir: String): DataFrame = {
    val clu = clusters(spark, sfDir)
    val q = graft.text.TextOps.quality(spark, sfDir)
      .select(col("doc_id"), col("quality"))
    // per-cluster argmax as ONE partial-aggregable max_by (ties (quality
    // desc, doc_id asc) via struct order) + the member count in the SAME
    // aggregation — replaces two windows that SORTED each cluster; on the
    // degenerate corpora this row exists for (one giant duplicate
    // cluster), the agg combines map-side while a window single-tasks the
    // hot cluster
    clu.join(q, "doc_id")
      .groupBy(col("cluster_id"))
      .agg(
        max_by(struct(col("doc_id"), col("quality")),
          struct(col("quality"), (-col("doc_id")).as("nd"))).as("best"),
        count(lit(1)).as("n_members"))
      .select(col("cluster_id"), col("best.doc_id").as("keep_id"),
        col("best.quality").as("keep_quality"), col("n_members"))
  }

  val keepBestSql: String =
    s"""WITH RECURSIVE $clusterChainCte,
       |clu AS (
       |  SELECT node AS doc_id, min(lbl) AS cluster_id
       |  FROM reach GROUP BY node),
       |qual AS (
       |  SELECT doc_id, quality
       |  FROM (${graft.text.TextOps.qualitySql.replace("\n", "\n  ")}) qq)
       |SELECT cluster_id, keep_id, keep_quality, n_members FROM (
       |  SELECT c.cluster_id, c.doc_id AS keep_id, qual.quality AS keep_quality,
       |    count(*) OVER (PARTITION BY c.cluster_id) AS n_members,
       |    row_number() OVER (PARTITION BY c.cluster_id
       |      ORDER BY qual.quality DESC, c.doc_id ASC) AS rk
       |  FROM clu c JOIN qual ON qual.doc_id = c.doc_id) t
       |WHERE rk = 1""".stripMargin

  // ---- sketch quality audit ------------------------------------------------

  /** Deterministic 1-in-N doc sample for the recall audit's truth side. */
  val lshRecallMod = 2

  /** LSH recall audit: of the truly-similar pairs (n-gram Jaccard ≥ 0.2)
    * WITHIN a deterministic doc sample, what fraction did the MinHash band
    * join surface as candidates? The tuning loop for (numHashes, bandSize)
    * runs exactly this query before committing band parameters at full
    * scale. Truth on the sample ONLY (the exact pairwise pass is the
    * quadratic side — it must never scale with the corpus; ann_recall's
    * posture), candidates cheap everywhere. The estimator is unbiased:
    * candidate generation is per-pair independent of the sampling hash. */
  def lshRecall(spark: SparkSession, sfDir: String): DataFrame = {
    // ONE corpus scan + shingle-hash pass feeds both pipelines (arrays
    // persist; Jaccard explodes the sampled slice, MinHash folds the full
    // corpus shuffle-free)
    val arrs = shingleArrays(spark, sfDir).persist()
    val sampled = arrs.filter(pmod(
      graft.functions.Portable.hash64(col("doc_id").cast("string"), "lshr"),
      lit(lshRecallMod.toLong)) === 0L)
    val truth = ngramJaccardFrom(invIndexFrom(sampled)).filter(col("jaccard") >= 0.2)
      .select(col("id_a"), col("id_b"))
    val cand = minhashLshFromArrays(arrs)
      .select(col("id_a").as("ca"), col("id_b").as("cb"))
    truth.join(cand, col("id_a") === col("ca") && col("id_b") === col("cb"), "left")
      .agg(count(lit(1)).as("n_truth"), count(col("ca")).as("n_hit"))
      .select(col("n_truth"), col("n_hit"),
        // empty truth set → recall undefined (null), on BOTH engines —
        // Spark's x/0 is NULL while DuckDB's is IEEE NaN, so the guard is
        // what keeps the degenerate-corpus case hash-equal
        when(col("n_truth") > 0,
          round(col("n_hit") / col("n_truth"), 4)).as("recall"))
  }

  /** Sampled-truth twin of [[ngramJaccardSql]] for the recall oracle. */
  private def ngramJaccardSampledSql: String = {
    val where =
      s" WHERE ${Portable.hash64Sql("CAST(doc_id AS VARCHAR)", "lshr")}" +
        s" % $lshRecallMod = 0"
    s"""WITH ${pairStatsCtesFrom(where)}
       |SELECT id_a, id_b, inter, sa, sb,
       |  round(inter / (sa + sb - inter), 6) AS jaccard
       |FROM stats
       |WHERE round(inter / (sa + sb - inter), 6) >= 0.12""".stripMargin
  }

  val lshRecallSql: String =
    s"""WITH truth AS (
       |  SELECT id_a, id_b FROM ($ngramJaccardSampledSql) WHERE jaccard >= 0.2),
       |cand AS (SELECT id_a AS ca, id_b AS cb FROM ($minhashLshSql))
       |SELECT count(*) AS n_truth, count(ca) AS n_hit,
       |  CASE WHEN count(*) > 0 THEN round(count(ca) / count(*), 4) END AS recall
       |FROM truth LEFT JOIN cand ON id_a = ca AND id_b = cb""".stripMargin

  // ---- cross-document chunk (paragraph) dedup -----------------------------

  val chunkWords = 8

  /** Paragraph-level exact dedup across the corpus (the CCNet/RefinedWeb
    * pass that strips boilerplate chunks repeated across documents): split
    * each doc into fixed `chunkWords`-word chunks, hash, and report every
    * chunk that occurs 2+ times with its canonical (first) occurrence.
    * Chunking is pure codegen'd HOFs (sequence/slice/array_join — no
    * explode until the chunk list exists); one hash shuffle total. The
    * (doc, chunk-index) keep-winner rides the aggregation as a packed int
    * (doc_id·2^20+cid — 2^20 chunks ≈ 8M words bounds any real doc;
    * doc ids stay well under 2^42), so
    * arg-min needs no second pass. */
  def chunkDups(spark: SparkSession, sfDir: String): DataFrame = {
    val chunks = docs(spark, sfDir)
      .select(col("doc_id"),
        posexplode(graft.plans.ShingleStrings.chunks(col("text"), chunkWords)))
      .select(col("doc_id"), col("pos").as("cid"), col("col").as("chunk"))
    chunks
      .groupBy(md5(col("chunk")).as("chunk_md5"))
      .agg(count(lit(1)).as("n_copies"),
        min(col("doc_id") * 1048576L + col("cid")).as("keep_key"))
      .filter(col("n_copies") >= 2)
      .select(col("chunk_md5"), col("n_copies"),
        expr("keep_key DIV 1048576").as("keep_doc"),
        (col("keep_key") % 1048576L).as("keep_cid"))
  }

  /** INTRA-document chunk dedup — the C4-style "remove repeated lines
    * within a page" transform ([[chunkDups]] is the cross-document pass):
    * drop every repeat of a chunk after its first occurrence, keeping
    * original order. Entirely per-row column math (`array_distinct`
    * preserves first-occurrence order) over the same single-pass chunking
    * expression — ZERO shuffle at any corpus size; emits the cleaned-text
    * hash so downstream exact/near-dup tiers can key on the scrubbed form. */
  def intra(spark: SparkSession, sfDir: String): DataFrame = {
    val ch = graft.plans.ShingleStrings.chunks(col("text"), chunkWords)
    docs(spark, sfDir)
      .select(col("doc_id"), ch.as("ch"))
      .filter(size(col("ch")) > 0)
      .select(col("doc_id"),
        size(col("ch")).cast("long").as("n_chunks"),
        size(array_distinct(col("ch"))).cast("long").as("n_unique"),
        md5(array_join(array_distinct(col("ch")), " ")).as("clean_md5"))
  }

  val intraSql: String =
    s"""WITH w AS (SELECT doc_id, ${Portable.wordsSql} AS w FROM documents),
       |c AS (
       |  SELECT doc_id, i AS cid,
       |    array_to_string(w[i * $chunkWords + 1 : i * $chunkWords + $chunkWords], ' ') AS chunk
       |  FROM w, LATERAL unnest(range(0, (len(w) + ${chunkWords - 1}) // $chunkWords)) t(i)
       |  WHERE len(w) > 0),
       |f AS (
       |  SELECT doc_id, chunk, min(cid) AS fp, count(*) AS n
       |  FROM c GROUP BY 1, 2)
       |SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_chunks,
       |  CAST(count(*) AS BIGINT) AS n_unique,
       |  md5(string_agg(chunk, ' ' ORDER BY fp)) AS clean_md5
       |FROM f GROUP BY doc_id""".stripMargin

  val chunkDupsSql: String =
    s"""WITH w AS (SELECT doc_id, ${Portable.wordsSql} AS w FROM documents),
       |c AS (
       |  SELECT doc_id, i AS cid,
       |    array_to_string(w[i * $chunkWords + 1 : i * $chunkWords + $chunkWords], ' ') AS chunk
       |  FROM w, LATERAL unnest(range(0, (len(w) + ${chunkWords - 1}) // $chunkWords)) t(i)
       |  WHERE len(w) > 0)
       |SELECT md5(chunk) AS chunk_md5, count(*) AS n_copies,
       |  min(doc_id * 1048576 + cid) // 1048576 AS keep_doc,
       |  min(doc_id * 1048576 + cid) % 1048576 AS keep_cid
       |FROM c GROUP BY 1 HAVING count(*) >= 2""".stripMargin

  // ---- #25 SimHash + hamming ----------------------------------------------

  val simBits = 64
  val simBandBits = 16
  val simBands = 4 // 64 bits / 16-bit bands; hamming ≤ 3 ⇒ ≥1 band clean

  /** Per-doc 64-bit SimHash: one partial-aggregable sum per bit (majority
    * vote of each word-hash bit), assembled into a long. 64 bits (not 16)
    * because the BAND VALUE is the candidate-join key: 16-bit bands give
    * 65536 key values per band, so per-bucket self-join work stays bounded
    * as the corpus grows — a 16-bit signature with 4-bit bands has only 16
    * key values per band and degrades toward O(n²/64) at scale. (The word
    * hash is the engine's 60-bit md5-prefix, so the top 4 signature bits
    * are constant-0 on both engines — harmless.) */
  def simhashSigs(spark: SparkSession, sfDir: String): DataFrame =
    // k=1 shingles = distinct salted word hashes, single pass per doc; the
    // fused SimHashSig vote loop replaces explode + 64 conditional-sum
    // aggregates — per-row column math, no shuffle (zero-word docs filtered,
    // mirroring the aggregation form's absent groups)
    docs(spark, sfDir)
      .select(col("doc_id"), col("lang"),
        graft.plans.ShingleHashes(col("text"), 1, distinct = true, salt = "sh").as("ha"))
      .filter(size(col("ha")) > 0)
      .select(col("doc_id"), col("lang"),
        graft.plans.SimHashSig(col("ha"), simBits).as("simhash"))

  /** Hamming ≤ 3 over 64 bits via the shared banded-hamming equi-join
    * ([[graft.functions.Banding.hammingPairs]]): candidates from (lang,
    * band, band value) — O(n·4) exploded rows instead of the O(n²/lang)
    * blocked cross join, first-matching-band crediting for exactly-once. */
  def simhash(spark: SparkSession, sfDir: String): DataFrame =
    graft.functions.Banding.hammingPairs(
      simhashSigs(spark, sfDir), "simhash", "doc_id", Seq("lang"),
      simBands, simBandBits, maxHamming = 3)

  /** wt→votes→sigs chain shared by the pair oracle and the clusters oracle. */
  private val simhashSigsCte: String = {
    val votes = (0 until simBits).map(j =>
      s"sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS v$j").mkString(",\n    ")
    val sig = (0 until simBits).map(j =>
      s"CASE WHEN v$j > 0 THEN ${1L << j} ELSE 0 END").mkString(" + ")
    s"""wt AS (
       |  SELECT doc_id, lang,
       |    ${Portable.hash64Sql("word", "sh")} AS h
       |  FROM (SELECT doc_id, lang,
       |          unnest(list_distinct(${Portable.wordsSql})) AS word
       |        FROM documents)),
       |votes AS (
       |  SELECT doc_id, lang,
       |    $votes
       |  FROM wt GROUP BY 1, 2),
       |sigs AS (SELECT doc_id, lang, $sig AS simhash FROM votes)""".stripMargin
  }

  val simhashSql: String =
    s"""WITH $simhashSigsCte
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.lang AS lang,
       |  bit_count(xor(a.simhash, b.simhash)) AS hamming
       |FROM sigs a JOIN sigs b ON a.lang = b.lang AND a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin

  /** SimHash near-dup CLUSTERS — the consumer SCALING.md routes pair-list-
    * bottlenecked corpora to: on replicated/boilerplate-heavy data the
    * all-pairs answer grows quadratically in duplicate-group size (54k →
    * 5.7M pairs at the 10× sweep) while the CLUSTER count grows linearly;
    * downstream dedup wants "groups + a representative", not the pair
    * list. Edge generation is the verified spanning subset
    * ([[graft.functions.Banding.hammingStarEdges]]): bucket-min star
    * edges checked by the same hamming ≤ 3 test, failures re-paired
    * within their bucket — components PROVABLY identical to the full
    * [[simhash]] pair graph (the oracle replays the full graph; the spec
    * pins equality on an adversarial fixture), intermediate O(n·bands)
    * instead of O(Σ g²). Same adaptive component pass as dd_clusters
    * (driver union-find under 5M edges, distributed label propagation +
    * pointer doubling above). */
  def simhashClusters(spark: SparkSession, sfDir: String): DataFrame =
    clustersOf(
      graft.functions.Banding.hammingStarEdges(
        simhashSigs(spark, sfDir), "simhash", "doc_id", Seq("lang"),
        simBands, simBandBits, maxHamming = 3),
      spark, smallGraphMaxEdges)

  val simhashClustersSql: String =
    s"""WITH RECURSIVE $simhashSigsCte,
       |pairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM sigs a JOIN sigs b ON a.lang = b.lang AND a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
       |edges AS (
       |  SELECT id_a, id_b FROM pairs
       |  UNION ALL SELECT id_b, id_a FROM pairs),
       |reach(node, lbl) AS (
       |  SELECT DISTINCT id_a, id_a FROM edges
       |  UNION
       |  SELECT e.id_a, r.lbl FROM edges e JOIN reach r ON e.id_b = r.node)
       |SELECT node AS doc_id, min(lbl) AS cluster_id
       |FROM reach GROUP BY node""".stripMargin

  // ---- benchmark decontamination ------------------------------------------

  val contamBenchDocs = 20L
  val contamMinShared = 5L

  /** Test-set decontamination — the pre-training pass that drops training
    * documents overlapping an evaluation set (n-gram contamination, the
    * GPT-3/PaLM appendix procedure): flag every training doc sharing ≥
    * `contamMinShared` distinct 3-gram shingles with any benchmark doc.
    * The benchmark side is tiny by definition → broadcast its inverted
    * index; the training side streams map-side through the join, one
    * shuffle for the (train, bench) pair counts. Here the "benchmark" is
    * the first `contamBenchDocs` documents (production feeds the real eval
    * suite through the same shape). */
  def contaminate(spark: SparkSession, sfDir: String): DataFrame = {
    val inv = invIndex(spark, sfDir)
    val bench = inv.filter(col("doc_id") < contamBenchDocs)
      .select(col("doc_id").as("bench_id"), col("hs"))
    val train = inv.filter(col("doc_id") >= contamBenchDocs)
    train.join(broadcast(bench), "hs")
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= contamMinShared)
  }

  val contaminateSql: String =
    s"""WITH $shingledCte,
       |inv AS (SELECT doc_id, ${Portable.hash64Sql("unnest(sh)")} AS hs FROM shd),
       |bench AS (SELECT doc_id AS bench_id, hs FROM inv WHERE doc_id < $contamBenchDocs),
       |train AS (SELECT doc_id, hs FROM inv WHERE doc_id >= $contamBenchDocs)
       |SELECT t.doc_id, b.bench_id, count(*) AS n_shared
       |FROM train t JOIN bench b ON t.hs = b.hs
       |GROUP BY 1, 2
       |HAVING count(*) >= $contamMinShared""".stripMargin

  // ---- cross-source duplication matrix (provenance diagnostic) ------------

  /** Which sources copy from which: for every (unordered) source pair, how
    * many near-duplicate document pairs span them. The curation diagnostic
    * behind "crawl B mirrors crawl A — drop it before paying for the full
    * pipeline on both". Built on the MinHash candidate pairs, because on
    * real web corpora mirrors differ by boilerplate, so exact-hash matrices
    * under-report exactly the duplication this question is about.
    *
    * Scale shape: rides [[minhashLsh]] unchanged (capped O(n·bands)
    * candidate generation, never O(n²)); the source lookup is two
    * co-partitioned equi-joins of the pair list against the (doc_id,
    * source) projection; the matrix agg output is |sources|² rows at most.
    * least/greatest canonicalizes the pair so A→B and B→A land in one
    * cell. */
  def sourceMatrix(spark: SparkSession, sfDir: String): DataFrame = {
    val src = docs(spark, sfDir).select(col("doc_id"), col("source"))
    minhashLsh(spark, sfDir)
      .join(src.select(col("doc_id").as("id_a"), col("source").as("sa")), "id_a")
      .join(src.select(col("doc_id").as("id_b"), col("source").as("sb")), "id_b")
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_dup_pairs"))
  }

  val sourceMatrixSql: String =
    s"""WITH pairs AS (${minhashLshSql})
       |SELECT least(da.source, db.source) AS source_a,
       |  greatest(da.source, db.source) AS source_b,
       |  count(*) AS n_dup_pairs
       |FROM pairs
       |JOIN documents da ON da.doc_id = pairs.id_a
       |JOIN documents db ON db.doc_id = pairs.id_b
       |GROUP BY 1, 2""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dd_source_matrix" -> (sourceMatrix _),
    "dd_contam" -> (contaminate _),
    "dd_exact" -> (exact _),
    "dd_fuzzy_join" -> (FuzzyJoin.fuzzyJoin _),
    "dd_normalized" -> (normalized _),
    "dd_weighted" -> (weighted _),
    "dd_spans" -> (spans _),
    "dd_incremental" -> (incremental _),
    "dd_ngram_jacc" -> (ngramJaccard _),
    "dd_containment" -> (containment _),
    "dd_minhash" -> (minhashLsh _),
    "dd_clusters" -> (clusters _),
    "dd_dup_stats" -> (dupStats _),
    "dd_keep_best" -> (keepBest _),
    "dd_minhash_est" -> (minhashEst _),
    "dd_simhash" -> (simhash _),
    "dd_simhash_clusters" -> (simhashClusters _),
    "dd_chunks" -> (chunkDups _),
    "dd_cdc" -> (cdcChunks _),
    "dd_intra" -> (intra _),
    "dd_lsh_recall" -> (lshRecall _),
    "dd_lsh_curve" -> (lshCurve _))

  def oracleSql: Map[String, String] = Map(
    "dd_source_matrix" -> sourceMatrixSql,
    "dd_contam" -> contaminateSql,
    "dd_exact" -> exactSql,
    "dd_fuzzy_join" -> FuzzyJoin.fuzzyJoinSql,
    "dd_normalized" -> normalizedSql,
    "dd_weighted" -> weightedSql,
    "dd_spans" -> spansSql,
    "dd_incremental" -> incrementalSql,
    "dd_ngram_jacc" -> ngramJaccardSql,
    "dd_containment" -> containmentSql,
    "dd_minhash" -> minhashLshSql,
    "dd_clusters" -> clustersSql,
    "dd_dup_stats" -> dupStatsSql,
    "dd_keep_best" -> keepBestSql,
    "dd_minhash_est" -> minhashEstSql,
    "dd_simhash" -> simhashSql,
    "dd_simhash_clusters" -> simhashClustersSql,
    "dd_chunks" -> chunkDupsSql,
    "dd_cdc" -> cdcChunksSql,
    "dd_intra" -> intraSql,
    "dd_lsh_recall" -> lshRecallSql,
    "dd_lsh_curve" -> lshCurveSql)
}
