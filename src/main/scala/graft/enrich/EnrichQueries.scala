package graft.enrich

import graft.events.Signups
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Enrichment + bounded-state queries (SURVEY §2a #13-16). */
object EnrichQueries {

  private def signups(spark: SparkSession, sfDir: String): DataFrame =
    Signups.derive(spark, sfDir)

  // ---- #13 GeoIP broadcast range join -------------------------------------

  // `subdivisions` stays array-typed in the GeoIp API; the QUERY output
  // serializes it ('|'-joined) because the driver's pandas compare cannot
  // hash array cells.
  def geoIpRange(spark: SparkSession, sfDir: String): DataFrame =
    GeoIp.enrichFast(signups(spark, sfDir))
      .select(col("event_id"), col("ip"), col("ip_int"), col("country"), col("city"),
        array_join(col("subdivisions"), "|").as("subdivisions"))

  val geoIpRangeSql: String =
    "WITH " + Signups.cte.stripSuffix("\n") + ",\n" + GeoIp.rangesValuesSql + ",\n" +
      s"""s2 AS (SELECT event_id, ip, ${GeoIp.ipToIntSql} AS ip_int FROM signups)
         |SELECT s2.event_id, s2.ip, s2.ip_int, g.country, g.city,
         |  CASE WHEN g.lo IS NOT NULL
         |    THEN coalesce(array_to_string(g.subdivisions, '|'), '') END AS subdivisions
         |FROM s2 LEFT JOIN geo g ON s2.ip_int BETWEEN g.lo AND g.hi""".stripMargin

  /** The NATURAL form of the geo range join — a plain inner BETWEEN join —
    * planned through [[graft.plans.RangeJoinRewrite]]: the optimizer rule
    * recognizes the LocalRelation interval dim and rewrites the join to the
    * [[graft.plans.RangeLookup]] projection, so this query's physical plan
    * has NO join node despite being written as one. This is what a SQL
    * user gets for free; `geo_ip_range` is the hand-fused equivalent. */
  def geoJoinAuto(spark: SparkSession, sfDir: String): DataFrame = {
    graft.plans.GraftExtensions.install(spark)
    val withInt = signups(spark, sfDir)
      .withColumn("ip_int", GeoIp.ipToInt(col("ip")))
      .filter(col("ip_int").isNotNull)
    withInt.join(GeoIp.rangesDf(spark),
        col("ip_int") >= col("lo") && col("ip_int") <= col("hi"))
      .select(col("event_id"), col("ip_int"), col("country"), col("city"))
  }

  val geoJoinAutoSql: String =
    "WITH " + Signups.cte.stripSuffix("\n") + ",\n" + GeoIp.rangesValuesSql + ",\n" +
      s"""s2 AS (SELECT event_id, ${GeoIp.ipToIntSql} AS ip_int FROM signups)
         |SELECT s2.event_id, s2.ip_int, g.country, g.city
         |FROM s2 JOIN geo g ON s2.ip_int BETWEEN g.lo AND g.hi
         |WHERE s2.ip_int IS NOT NULL""".stripMargin

  // ---- #14 UA regex cascade ----------------------------------------------

  def uaDevice(spark: SparkSession, sfDir: String): DataFrame = {
    val s = signups(spark, sfDir)
    val (device, os, client) = UserAgents.parse(col("ua"))
    s.select(col("event_id"), col("ua"), device.as("device"), os.as("os"), client.as("client"))
  }

  val uaDeviceSql: String = Signups.sqlCte +
    s"""SELECT event_id, ua,
       |${UserAgents.sqlExprs}
       |FROM signups""".stripMargin

  // ---- #15 last-K ring buffer (recently_checked, eventhandler.rs:90-116) --

  /** Per-user occurrence stats within the most recent K=2000 signups.
    * Scale shape: the K-th timestamp is found via a partial per-partition
    * top-K (orderBy+limit on a single narrow column), broadcast back as a
    * scalar — no global sort of the fact table. */
  def seenRecent(spark: SparkSession, sfDir: String): DataFrame = {
    val s = signups(spark, sfDir)
    val cutoff = s.select(col("ts_us")).orderBy(col("ts_us").desc).limit(2000)
      .agg(min(col("ts_us")).as("cutoff"))
    s.join(broadcast(cutoff), col("ts_us") >= col("cutoff"))
      .groupBy(lower(col("username")).as("user_lc"))
      .agg(count(lit(1)).as("seen_count"), max(col("ts_us")).as("last_us"))
  }

  val seenRecentSql: String = Signups.sqlCte +
    """SELECT lower(username) AS user_lc, count(*) AS seen_count, max(ts_us) AS last_us
      |FROM signups
      |WHERE ts_us >= (SELECT min(ts_us) FROM
      |  (SELECT ts_us FROM signups ORDER BY ts_us DESC LIMIT 2000))
      |GROUP BY 1""".stripMargin

  // ---- #16 status watermark (status.rs / eventhandler.rs:383-394) ---------

  /** Latest-event watermark per event type + silent-stream detection: a type
    * is "silent" if it lags the global watermark by >90 s (the reference
    * restarts the stream connection on that signal). */
  def statusWatermark(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = graft.Tables(spark, sfDir).events
      .select(col("event_type"), graft.epochUs(col("ts")).as("ts_us"))
    val global = ev.agg(max(col("ts_us")).as("global_max"))
    ev.groupBy(col("event_type"))
      .agg(max(col("ts_us")).as("latest_us"), count(lit(1)).as("n_events"))
      .crossJoin(broadcast(global))
      .select(col("event_type"), col("latest_us"), col("n_events"),
        (col("global_max") - col("latest_us") > 90L * 1000000L).as("silent"))
  }

  val statusWatermarkSql: String =
    """SELECT event_type,
      |  max(epoch_us(CAST(ts AS TIMESTAMP))) AS latest_us,
      |  count(*) AS n_events,
      |  (SELECT max(epoch_us(CAST(ts AS TIMESTAMP))) FROM events)
      |    - max(epoch_us(CAST(ts AS TIMESTAMP))) > 90000000 AS silent
      |FROM events
      |GROUP BY event_type""".stripMargin

  // ---- impossible-travel / country-hop velocity ---------------------------

  /** "Impossible travel" — the classic account-security velocity signal
    * (same account appearing from two countries within a short window; the
    * moderation-bot domain's natural next rule after per-IP matching):
    * consecutive signups of a user from DIFFERENT countries less than 1 h
    * apart. Composition row: the zero-join [[graft.plans.RangeLookup]] geo
    * enrichment rides the scan, then ONE username exchange serves the
    * lag window — at 100 TB the whole detector is one keyed shuffle.
    * Country comparison, not distance, so no libm trig can diverge
    * between engines; unresolvable IPs (null country) never alert. */
  def geoVelocity(spark: SparkSession, sfDir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("username")).orderBy(col("ts_us"), col("event_id"))
    GeoIp.enrichFast(signups(spark, sfDir))
      .select(col("username"), col("event_id"), col("ts_us"), col("country"))
      .withColumn("prev_country", lag(col("country"), 1).over(w))
      .withColumn("prev_ts_us", lag(col("ts_us"), 1).over(w))
      .withColumn("prev_event_id", lag(col("event_id"), 1).over(w))
      .filter(col("country").isNotNull && col("prev_country").isNotNull
        && col("country") =!= col("prev_country")
        && col("ts_us") - col("prev_ts_us") <= lit(3600000000L))
      .select(col("username"), col("event_id"), col("prev_event_id"),
        col("prev_country"), col("country"),
        (col("ts_us") - col("prev_ts_us")).as("gap_us"))
  }

  val geoVelocitySql: String =
    "WITH " + Signups.cte.stripSuffix("\n") + ",\n" + GeoIp.rangesValuesSql + ",\n" +
      s"""s2 AS (SELECT username, event_id, ts_us, ${GeoIp.ipToIntSql} AS ip_int
         |       FROM signups),
         |enr AS (
         |  SELECT s2.username, s2.event_id, s2.ts_us, g.country
         |  FROM s2 LEFT JOIN geo g ON s2.ip_int BETWEEN g.lo AND g.hi),
         |lagd AS (
         |  SELECT username, event_id, ts_us, country,
         |    lag(country) OVER w AS prev_country,
         |    lag(ts_us) OVER w AS prev_ts_us,
         |    lag(event_id) OVER w AS prev_event_id
         |  FROM enr WINDOW w AS (PARTITION BY username ORDER BY ts_us, event_id))
         |SELECT username, event_id, prev_event_id, prev_country, country,
         |  ts_us - prev_ts_us AS gap_us
         |FROM lagd
         |WHERE country IS NOT NULL AND prev_country IS NOT NULL
         |  AND country <> prev_country AND ts_us - prev_ts_us <= 3600000000""".stripMargin

  // ---- spatial grid clustering ----------------------------------------------

  /** Grid cell size and pair radius, milli-degrees (1° cells, 1° radius). */
  val geoCellMdeg = 1000L

  /** Spatial proximity clustering — the 2-D generalization of
    * ru_burst_pairs' banding: signups whose (derived) coordinates fall
    * within 1° Chebyshev distance pair up, surfacing geographic signup
    * hotspots (the moderation follow-up to per-IP matching when an abuse
    * campaign runs from one region across many /24s). Coordinates derive
    * deterministically from the IP integer (the corpus carries no real
    * geography — production swaps in the MaxMind lat/lon columns with zero
    * plan change). The naive form is an all-pairs distance join; the
    * engine snaps points to a 1° grid and fans the LEFT side to its 3×3
    * cell neighborhood — a pure EQUI-join on the cell key (every
    * within-radius pair shares a cell or an adjacent one), with the exact
    * Chebyshev bound and the strict (event_id) order as residual
    * predicates inside the co-partitioned join. Per-cell report bounded by
    * occupied cells. All coordinate math exact BIGINT milli-degrees. */
  def geoCluster(spark: SparkSession, sfDir: String): DataFrame = {
    val s = signups(spark, sfDir)
      .withColumn("ip_int", GeoIp.ipToInt(col("ip")))
      .filter(col("ip_int").isNotNull)
      .select(col("event_id"),
        (col("ip_int") % 170001L - 85000L).as("lat_mdeg"),
        (expr("ip_int DIV 7") % 360001L - 180000L).as("lon_mdeg"))
      .withColumn("cx", expr(s"(lon_mdeg + 180000) DIV $geoCellMdeg"))
      .withColumn("cy", expr(s"(lat_mdeg + 85000) DIV $geoCellMdeg"))
      // r9 OPT: both join sides read this frame — un-persisted, the signup
      // extraction (per-event JSON prop parsing) ran twice.
      // Lifetime (r10, VERDICT #7): owned by the consuming action's
      // session; the builder returns a LAZY frame, so it cannot unpersist
      // without recomputing. Every repeated-invocation caller in this repo
      // (Bench, Verify, Dev) consumes each query through
      // LocalSpark.consume, which clears the cache after it — the
      // documented protocol for long-lived sessions, spec-pinned in
      // PersistLifecycleSpec.
      .persist()
    val left = s.select(col("event_id").as("ea"), col("lat_mdeg").as("la"),
        col("lon_mdeg").as("oa"), col("cx"), col("cy"))
      .withColumn("dx", explode(array(lit(-1L), lit(0L), lit(1L))))
      .withColumn("dy", explode(array(lit(-1L), lit(0L), lit(1L))))
      .select((col("cx") + col("dx")).as("jx"), (col("cy") + col("dy")).as("jy"),
        col("ea"), col("la"), col("oa"))
    val right = s.select(col("cx").as("jx"), col("cy").as("jy"),
      col("event_id").as("eb"), col("lat_mdeg").as("lb"), col("lon_mdeg").as("ob"))
    left.join(right, Seq("jx", "jy"))
      .filter(col("ea") < col("eb") &&
        abs(col("la") - col("lb")) <= geoCellMdeg &&
        abs(col("oa") - col("ob")) <= geoCellMdeg)
      .groupBy(col("jx"), col("jy"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("ea")).as("n_left"),
        min(abs(col("la") - col("lb")) + abs(col("oa") - col("ob")))
          .as("min_l1_mdeg"))
  }

  val geoClusterSql: String =
    "WITH " + Signups.cte.stripSuffix("\n") + ",\n" +
      s"""pts AS (
         |  SELECT event_id,
         |    ip_int % 170001 - 85000 AS lat_mdeg,
         |    (ip_int // 7) % 360001 - 180000 AS lon_mdeg
         |  FROM (SELECT event_id, ${GeoIp.ipToIntSql} AS ip_int FROM signups)
         |  WHERE ip_int IS NOT NULL),
         |cells AS (
         |  SELECT event_id, lat_mdeg, lon_mdeg,
         |    (lon_mdeg + 180000) // $geoCellMdeg AS cx,
         |    (lat_mdeg + 85000) // $geoCellMdeg AS cy
         |  FROM pts),
         |pairs AS (
         |  SELECT b.cx AS jx, b.cy AS jy, a.event_id AS ea, b.event_id AS eb,
         |    abs(a.lat_mdeg - b.lat_mdeg) AS dlat,
         |    abs(a.lon_mdeg - b.lon_mdeg) AS dlon
         |  FROM cells a JOIN cells b
         |    ON b.cx BETWEEN a.cx - 1 AND a.cx + 1
         |    AND b.cy BETWEEN a.cy - 1 AND a.cy + 1
         |    AND a.event_id < b.event_id
         |  WHERE abs(a.lat_mdeg - b.lat_mdeg) <= $geoCellMdeg
         |    AND abs(a.lon_mdeg - b.lon_mdeg) <= $geoCellMdeg)
         |SELECT jx, jy, CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(count(DISTINCT ea) AS BIGINT) AS n_left,
         |  CAST(min(dlat + dlon) AS BIGINT) AS min_l1_mdeg
         |FROM pairs GROUP BY 1, 2""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "geo_cluster" -> (geoCluster _),
    "ru_geo_velocity" -> (geoVelocity _),
    "geo_ip_range" -> (geoIpRange _),
    "geo_join_auto" -> (geoJoinAuto _),
    "ua_device" -> (uaDevice _),
    "seen_recent" -> (seenRecent _),
    "status_watermark" -> (statusWatermark _))

  def oracleSql: Map[String, String] = Map(
    "geo_cluster" -> geoClusterSql,
    "ru_geo_velocity" -> geoVelocitySql,
    "geo_ip_range" -> geoIpRangeSql,
    "geo_join_auto" -> geoJoinAutoSql,
    "ua_device" -> uaDeviceSql,
    "seen_recent" -> seenRecentSql,
    "status_watermark" -> statusWatermarkSql)
}
