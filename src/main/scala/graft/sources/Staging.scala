package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale patterns for the 1000-executor deployment (SURVEY §4).
  *
  * Bucketing: repeated joins/aggregations on the same key (user_id, doc_id,
  * rule matches by event) should read from bucketed staging tables —
  * co-located by bucket hash, so the sort-merge join needs no Exchange.
  * `bucketize` writes such a staging table; the spec asserts the resulting
  * join plan is exchange-free.
  *
  * Salting: a skewed hot key (one user generating 10% of events, one
  * stop-shingle) overloads a single reducer. `saltedJoin` spreads the hot
  * side over `factor` sub-keys and replicates the dim side accordingly —
  * semantics identical to the plain equi-join. AQE's skew-join split handles
  * moderate skew automatically; salting is the explicit control for extreme
  * keys.
  */
object Staging {

  /** Write `df` as a bucketed+sorted staging table in the session catalog.
    * Idempotent: drops any previous table AND its managed location (a stale
    * location with no catalog entry — e.g. after a fresh session — would
    * otherwise fail the CREATE). */
  def bucketize(df: DataFrame, table: String, key: String, buckets: Int): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
    // Locale.ROOT: Spark lowercases identifiers locale-independently — the
    // default-locale form diverges under e.g. tr_TR ("I" → dotless "ı")
    // and the stale-location delete would miss the real directory
    val loc = new java.net.URI(
      warehouse + "/" + table.toLowerCase(java.util.Locale.ROOT))
    val fs = org.apache.hadoop.fs.FileSystem.get(loc, spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(loc), true)
    // r9 OPT (guide §6/§2.4): repartition by the bucket key into exactly
    // `buckets` partitions before the bucketed write. Spark's bucket id is
    // pmod(murmur3(key), buckets) — the same function HashPartitioning
    // applies — so each write task holds exactly one bucket: the per-bucket
    // sort+write runs `buckets`-way parallel (it was single-task when the
    // scan collapsed to one split) and the table lands as ONE file per
    // bucket at any input partitioning (an M-partition input otherwise
    // writes up to M×buckets files — the small-file problem — and multi-file
    // buckets additionally forfeit the sorted-bucket read that lets the
    // merge join skip its sort). Table contents are identical.
    df.repartition(buckets, col(key))
      .write.mode("overwrite")
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet")
      .saveAsTable(table)
  }

  /** Write `df` hive-partitioned by `partCol` — the lake layout that turns a
    * predicate on the partition column into directory pruning (zero I/O for
    * unselected partitions; the scan's `PartitionFilters` carries the
    * predicate instead of `PushedFilters`). Standard layout for event lakes
    * partitioned by date/type at 100 TB. */
  def writePartitioned(df: DataFrame, path: String, partCol: String): Unit =
    df.write.mode("overwrite").partitionBy(partCol).parquet(path)

  /** Write `df` z-ordered on two long columns: rows are range-partitioned
    * and sorted by the Morton interleave of (c1, c2)
    * ([[graft.plans.ZorderKey]]), so each output file covers a small
    * RECTANGLE in (c1, c2) space and its parquet footer min/max stats are
    * selective for predicates on EITHER column — a linear sort can only
    * ever skip on its leading key. `repartitionByRange` samples the z-key
    * for balanced file sizes; the within-partition sort costs no extra
    * exchange. The q_zorder query audits exactly this layout's per-cell
    * spans; ScaleSpec measures the skip-stat tightness against a
    * hash-scattered write of the same rows. */
  def writeZordered(df: DataFrame, path: String, c1: String, c2: String,
      files: Int): Unit = {
    val z = graft.plans.ZorderKey(col(c1).cast("long"), col(c2).cast("long"))
    df.withColumn("_z", z)
      .repartitionByRange(files, col("_z"))
      .sortWithinPartitions(col("_z"))
      .drop("_z")
      .write.mode("overwrite").parquet(path)
  }

  /** Small-file compaction (the OPTIMIZE / bin-packing maintenance pass):
    * rewrite a parquet directory into ceil(totalBytes / targetBytes) files.
    * Streaming sinks and fine-grained partitioned writes accumulate
    * kilobyte files whose per-file open/footer overhead dominates scans at
    * scale ("small-file problem"); compaction restores scan efficiency and
    * is idempotent. File count derives from the directory's ACTUAL bytes
    * (no row-count heuristics), the rewrite is one `repartition` (a
    * round-robin exchange — compaction has no key semantics to preserve;
    * key-aware layouts use [[bucketize]] / [[writeZordered]] instead), and
    * the swap is write-new-then-replace so a failed rewrite never leaves
    * the directory half-compacted. Returns the output file count. */
  def compact(spark: SparkSession, path: String, targetBytes: Long): Int = {
    val hpath = new org.apache.hadoop.fs.Path(path)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      hpath.toUri, spark.sparkContext.hadoopConfiguration)
    val dataFiles = fs.listStatus(hpath)
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    val total = dataFiles.map(_.getLen).sum
    val nOut = math.max(1, ((total + targetBytes - 1) / targetBytes).toInt)
    val tmp = new org.apache.hadoop.fs.Path(path + "._compact_tmp")
    fs.delete(tmp, true)
    spark.read.parquet(path).repartition(nOut)
      .write.mode("overwrite").parquet(tmp.toString)
    // atomic-enough swap: the new files land fully before the old leave
    val bak = new org.apache.hadoop.fs.Path(path + "._compact_old")
    fs.delete(bak, true)
    fs.rename(hpath, bak)
    fs.rename(tmp, hpath)
    fs.delete(bak, true)
    nOut
  }

  /** Equi-join with the left (large, skewed) side salted `factor` ways.
    * The salt is `mid % factor`: per-partition row ids are consecutive, so
    * a hot key's rows round-robin across all `factor` sub-keys — strictly
    * more even than hashing (the key column is constant within the hot key
    * and contributes nothing). */
  def saltedJoin(large: DataFrame, small: DataFrame, key: String, factor: Int): DataFrame = {
    val salted = large.withColumn("_salt",
      pmod(monotonically_increasing_id(), lit(factor.toLong)).cast("int"))
    val replicated = small.crossJoin(
      small.sparkSession.range(factor).select(col("id").cast("int").as("_salt")))
    salted.join(replicated, Seq(key, "_salt")).drop("_salt")
  }
}
