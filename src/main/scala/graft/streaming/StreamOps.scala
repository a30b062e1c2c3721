package graft.streaming

import java.util.UUID

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming operators (SURVEY §2b).
  *
  * The reference consumes a chunked-HTTP NDJSON stream (eventstream.rs).
  * Structured Streaming expresses the identical program over any source; the
  * harness binds a file source (the driver's parquet) and a memory sink and
  * runs to completion, which makes streaming semantics batch-checkable
  * against the DuckDB oracle. In production the same transforms bind to
  * Kafka/socket/custom HTTP-SSE sources unchanged — that separation (program
  * vs binding) is the Spark-first translation of the reference's
  * reconnecting ingest loop.
  */
object StreamOps {

  /** events schema template; `ts` is patched to the file's ACTUAL footer type
    * before use (see [[runToTableUnscoped]]) — a forced-schema read that
    * reinterprets the physical int64 under a different logical type would
    * silently rescale the whole timeline. */
  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Peek the events parquet footer via a batch read to learn the physical
    * `ts` type (LongType when TIMESTAMP(NANOS) under nanosAsLong; TIMESTAMP
    * or TIMESTAMP_NTZ when µs). One footer read, no data scan. */
  private def eventsTsType(spark: SparkSession, sfDir: String): org.apache.spark.sql.types.DataType =
    // rides the session-scoped read-plan cache (one footer read per session,
    // not one per streaming row — 39 rows re-peeked it every sweep)
    graft.Tables.cachedLoad(spark, sfDir, "events").schema("ts").dataType

  /** File-source → transform → memory-sink, run to completion.
    *
    * Stateful streaming operators run one-or-more STATE STORES per shuffle
    * partition, and store setup dominates small/medium per-partition state
    * (the stream-stream join measured 12.7 s at 32 partitions vs 3.1 s at
    * 8 on the bench corpus). Production sizes state partitions to state
    * volume, not to the batch shuffle default — so every harness query pins
    * its own partition count (8; streaming pins partitioning at checkpoint
    * creation, so the setting is per-query and restored after). Results
    * are partition-count-invariant. */
  def runToTable(spark: SparkSession, sfDir: String, mode: OutputMode)(
      build: DataFrame => DataFrame): DataFrame =
    withStatePartitions(spark)(runToTableUnscoped(spark, sfDir, mode)(build))

  /** Pin the stateful-query partition count for the duration of `f`. */
  def withStatePartitions[A](spark: SparkSession)(f: => A): A = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", 8L)
    try f
    finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Pin one session conf for the duration of `f`, restoring the previous
    * value (or unsetting) after — the [[withStatePartitions]] pattern for
    * per-query streaming-engine dials. */
  private def withConf[A](spark: SparkSession, key: String, value: String)(
      f: => A): A = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try f
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  private def runToTableUnscoped(spark: SparkSession, sfDir: String, mode: OutputMode)(
      build: DataFrame => DataFrame): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val tsType = eventsTsType(spark, sfDir)
    val schema = StructType(eventsSchema.map(f =>
      if (f.name == "ts") f.copy(dataType = tsType) else f))
    // file-stream sources take a directory; select the events file by glob
    val raw = spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir)
    val src = tsType match {
      case LongType => // raw nanos
        raw.withColumn("ts_us", expr("ts DIV 1000"))
          .withColumn("ts", timestamp_micros(col("ts_us")))
      case _ => // TIMESTAMP or TIMESTAMP_NTZ, already µs precision
        raw.withColumn("ts_us", unix_micros(col("ts").cast(TimestampType)))
          .withColumn("ts", col("ts").cast(TimestampType))
    }
    runBuiltToTable(spark, build(src), mode)
  }

  /** r10 OPT (guide §6): base dir for the harness's EPHEMERAL checkpoints.
    * Every run-to-completion harness query already used a throwaway temp
    * checkpoint (memory sink, deleted at stop, never restarted-from) — but
    * Spark's default temp dir is java.io.tmpdir, where each micro-batch
    * pays real disk latency for the offset WAL, the commit log, the file-
    * source log, and one state-store delta file per partition (`Dev prof`:
    * ~0.4 s/row of WAL+offsets across 39 st_* rows). The DURABILITY of
    * these files is irrelevant by construction — the query runs once to
    * completion and the dir is deleted in the same call — so they belong
    * on a RAM-backed filesystem when one exists. Parameterized
    * (`graft.streaming.checkpointDir`); production deployments that need
    * restart recovery set an explicit durable `checkpointLocation` on
    * their own queries (GraftApp/ActionSink do exactly that and are
    * untouched by this). */
  private def ephemeralCheckpointBase(spark: SparkSession): String =
    spark.conf.getOption("graft.streaming.checkpointDir").getOrElse {
      val shm = new java.io.File("/dev/shm")
      if (shm.isDirectory && shm.canWrite) "/dev/shm/graft-ckpt"
      else sys.props("java.io.tmpdir") + "/graft-ckpt"
    }

  private def deleteRecursively(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteRecursively)
    f.delete(): Unit
  }

  /** Start `built` into a fresh memory sink, run to completion, and drain
    * the table. The query is stopped, the sink dropped, and the ephemeral
    * checkpoint deleted even when a transform fails mid-stream — otherwise
    * a failed harness query would leave a live StreamingQuery plus its
    * memory-sink rows attached to the session for the rest of the run.
    * Shared by every inline runner. */
  private def runBuiltToTable(spark: SparkSession, built: DataFrame,
      mode: OutputMode): DataFrame = {
    val name = "st_" + UUID.randomUUID().toString.replace("-", "")
    val ckpt = s"${ephemeralCheckpointBase(spark)}/$name"
    val q = built.writeStream.format("memory").queryName(name)
      .option("checkpointLocation", ckpt)
      .outputMode(mode).start()
    try {
      try q.processAllAvailable()
      catch {
        case t: Throwable =>
          try q.stop() finally spark.catalog.dropTempView(name)
          throw t
      }
      q.stop()
      drainTable(spark, name)
    } finally deleteRecursively(new java.io.File(ckpt))
  }

  private val docsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  private def docsStream(spark: SparkSession, sfDir: String): DataFrame =
    spark.readStream.schema(docsSchema)
      .option("pathGlobFilter", "documents.parquet").parquet(sfDir)

  /** Read a memory-sink table and DROP it — each harness query otherwise
    * retains its full result in driver memory for the session lifetime
    * (clearCache does not free memory-sink tables). Results are
    * harness-sized by construction. */
  private def drainTable(spark: SparkSession, name: String): DataFrame = {
    val t = spark.table(name)
    val rows = t.collect()
    // r10 OPT (guide §5, driver): an RDD-backed frame, NOT
    // createDataFrame(list) — the list form embeds every drained row in the
    // logical plan as a LocalRelation, which each analyzer/optimizer pass
    // of every downstream read-time view re-walks (st_cusum drains a 200k-
    // row count matrix into a multi-window view; the plan-embedded copy
    // was pure driver overhead). Row count and contents are identical;
    // the data leaves the driver exactly once either way.
    val slices = math.max(1, math.min(spark.sparkContext.defaultParallelism,
      rows.length / 5000 + 1))
    val out = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq, slices), t.schema)
    spark.catalog.dropTempView(name)
    out
  }

  // ---- #18 windowed counts (watermark + tumbling window) ------------------

  def windowCounts(spark: SparkSession, sfDir: String): DataFrame =
    runToTable(spark, sfDir, OutputMode.Complete()) { src =>
      src.withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
        .select(graft.epochUs(col("window.start")).as("window_start_us"),
          col("event_type"), col("n"), col("sum_value"))
    }

  val windowCountsSql: String =
    """SELECT epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS window_start_us,
      |  event_type, count(*) AS n, round(sum(value), 2) AS sum_value
      |FROM events GROUP BY 1, 2""".stripMargin

  /** Sliding windows (2 h length, 1 h slide): each event lands in two
    * overlapping windows — the reporting shape for moving rates. */
  def windowSliding(spark: SparkSession, sfDir: String): DataFrame =
    runToTable(spark, sfDir, OutputMode.Complete()) { src =>
      src.withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "2 hours", "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(graft.epochUs(col("window.start")).as("window_start_us"),
          col("event_type"), col("n"))
    }

  val windowSlidingSql: String =
    """SELECT ws AS window_start_us, event_type, count(*) AS n
      |FROM (
      |  SELECT event_type,
      |    unnest([epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP))),
      |            epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP))) - 3600000000]) AS ws
      |  FROM events) t
      |GROUP BY 1, 2""".stripMargin

  // ---- #19 session windows via flatMapGroupsWithState ---------------------

  final case class SessEvent(user_id: Long, ts_us: Long)
  final case class Session(user_id: Long, start_us: Long, end_us: Long, n_events: Long)

  val gapUs: Long = 30L * 60 * 1000000

  /** Custom keyed state: per-user session assembly with a 30-minute gap.
    * Each batch sessionizes its (sorted) events and emits EVERY session,
    * open ones included — correct for the harness's single batch, where
    * every session closes at batch end (the relational oracle's answer). A
    * multi-batch production continuation must instead READ the open
    * session back from `GroupState` (written below as that carry), merge
    * the first events of the next batch into it, and emit it only on gap
    * or event-time timeout — emitting per batch as here would duplicate
    * the open session. The write-only state in this harness form is the
    * handoff point for that continuation, not a consumed input. */
  def sessionize(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    runToTable(spark, sfDir, OutputMode.Append()) { src =>
      src.select(col("user_id"), col("ts_us")).as[SessEvent]
        .groupByKey(_.user_id)
        .flatMapGroupsWithState[Session, Session](
          OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
          case (uid, events, state) =>
            val sorted = events.map(_.ts_us).toArray.sorted
            val sessions = Vector.newBuilder[Session]
            var start = sorted.head
            var last = sorted.head
            var n = 1L
            sorted.tail.foreach { t =>
              if (t - last > gapUs) {
                sessions += Session(uid, start, last, n)
                start = t; n = 0L
              }
              last = t; n += 1
            }
            sessions += Session(uid, start, last, n)
            state.update(Session(uid, start, last, n)) // open-session carry
            sessions.result().iterator
        }.toDF()
    }
  }

  // Both windows share ONE deterministic total order (ts_us, event_id).
  // With duplicate timestamps (the sf1 10× replica sweep has 10 events per
  // (user, ts) point) an inconsistent tie order between the lag window and
  // the cumulative-sum window lets the new_sess=1 row land mid-tie-group,
  // splitting a session that the engine (which sorts the event multiset)
  // never splits — caught as a 3-row drift at sf1.
  /** The same 30-min-gap sessions through Spark's NATIVE `session_window`
    * aggregation — the built-in operator the flatMapGroupsWithState form
    * above hand-rolls (kept side by side: the custom form carries
    * per-session state the native one can't, the native form gets the
    * engine's merging session state store, watermark eviction, and any
    * future optimizer work for free — the architecture's "prefer built-in
    * operators" rule made checkable). Boundary semantics differ at EXACT
    * gap: session_window intervals are half-open, so an event landing
    * exactly `gap` after its predecessor starts a NEW session (the custom
    * form keeps it — strict `>`); the oracle encodes `>=`. State: the
    * merging-session store per (user, open window); harness drains in
    * Complete mode. */
  def sessionNative(spark: SparkSession, sfDir: String): DataFrame =
    runToTable(spark, sfDir, OutputMode.Complete()) { src =>
      src.groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"), min(col("ts_us")).as("start_us"),
          max(col("ts_us")).as("end_us"))
        .select(col("user_id"), col("start_us"), col("end_us"), col("n_events"))
    }

  val sessionNativeSql: String =
    """WITH o AS (
      |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
      |  FROM events),
      |o2 AS (
      |  SELECT user_id, event_id, ts_us,
      |    CASE WHEN ts_us - lag(ts_us) OVER w >= 1800000000
      |      OR lag(ts_us) OVER w IS NULL
      |      THEN 1 ELSE 0 END AS new_sess
      |  FROM o WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
      |s AS (
      |  SELECT user_id, ts_us,
      |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |      ROWS UNBOUNDED PRECEDING) AS sess_id
      |  FROM o2)
      |SELECT user_id, min(ts_us) AS start_us, max(ts_us) AS end_us,
      |  count(*) AS n_events
      |FROM s GROUP BY user_id, sess_id""".stripMargin

  val sessionizeSql: String =
    """WITH o AS (
      |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
      |  FROM events),
      |o2 AS (
      |  SELECT user_id, event_id, ts_us,
      |    CASE WHEN ts_us - lag(ts_us) OVER w > 1800000000
      |      OR lag(ts_us) OVER w IS NULL
      |      THEN 1 ELSE 0 END AS new_sess
      |  FROM o WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
      |s AS (
      |  SELECT user_id, ts_us,
      |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |      ROWS UNBOUNDED PRECEDING) AS sess_id
      |  FROM o2)
      |SELECT user_id, min(ts_us) AS start_us, max(ts_us) AS end_us,
      |  count(*) AS n_events
      |FROM s GROUP BY user_id, sess_id""".stripMargin

  // ---- #20 streaming exact dedup ------------------------------------------

  /** `dropDuplicates` keyed state; output only the (deterministic) key set —
    * which payload row survives is arrival-order-dependent by design. */
  def streamDedup(spark: SparkSession, sfDir: String): DataFrame =
    runToTable(spark, sfDir, OutputMode.Append()) { src =>
      src.select(col("user_id"), col("event_type"))
        .dropDuplicates("user_id", "event_type")
    }

  val streamDedupSql: String =
    "SELECT DISTINCT user_id, event_type FROM events"

  // ---- #21 bounded seen-state via mapGroupsWithState ----------------------

  final case class SeenStat(user_id: Long, n: Long, first_us: Long, last_us: Long)

  /** The reference's recently-checked map (eventhandler.rs:90-116) as
    * explicit keyed state: per-user occurrence count + first/last seen. */
  def seenState(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    runToTable(spark, sfDir, OutputMode.Update()) { src =>
      src.select(col("user_id"), col("ts_us")).as[SessEvent]
        .groupByKey(_.user_id)
        .mapGroupsWithState[SeenStat, SeenStat](GroupStateTimeout.NoTimeout()) {
          case (uid, events, state) =>
            val ts = events.map(_.ts_us).toArray
            val prev = state.getOption.getOrElse(SeenStat(uid, 0, Long.MaxValue, Long.MinValue))
            val next = SeenStat(uid, prev.n + ts.length,
              math.min(prev.first_us, ts.min), math.max(prev.last_us, ts.max))
            state.update(next)
            next
        }.toDF()
    }
  }

  val seenStateSql: String =
    """SELECT user_id, count(*) AS n,
      |  min(epoch_us(CAST(ts AS TIMESTAMP))) AS first_us,
      |  max(epoch_us(CAST(ts AS TIMESTAMP))) AS last_us
      |FROM events GROUP BY user_id""".stripMargin

  // ---- live silent-stream detection (status.rs, streaming form) -----------

  final case class TypedTs(event_type: String, ts_us: Long)
  final case class Silence(event_type: String, silent_from_us: Long,
    silent_to_us: Long, gap_us: Long)

  val silenceGapUs: Long = 90L * 1000000

  /** The reference's status watcher (status.rs), live: per event type,
    * detect periods where the stream went silent for > 90 s. State is ONE
    * long per event type (the latest timestamp seen) — O(types) forever,
    * the smallest state of any query here; a production continuation adds
    * an event-time timeout so a still-open silence alarms before the next
    * event eventually closes it. Like [[sessionize]], events are sorted
    * per batch and assumed event-time-ordered ACROSS batches (the
    * harness's single batch satisfies this; a late event arriving behind
    * the watermark neither regresses state nor emits a spurious gap, but
    * its true predecessor gap is not reconstructed — O(1) state can't).
    * Batch twin: `status_watermark` (the point-in-time check); oracle =
    * the gap scan over the full log. */
  def silence(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    runToTable(spark, sfDir, OutputMode.Append()) { src =>
      src.select(col("event_type"), col("ts_us")).as[TypedTs]
        .groupByKey(_.event_type)
        .flatMapGroupsWithState[Long, Silence](
          OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
          case (tpe, events, state) =>
            val sorted = events.map(_.ts_us).toArray.sorted
            val out = Vector.newBuilder[Silence]
            var last = state.getOption.getOrElse(Long.MinValue)
            sorted.foreach { t =>
              if (last != Long.MinValue && t - last > silenceGapUs)
                out += Silence(tpe, last, t, t - last)
              if (t > last) last = t
            }
            state.update(last)
            out.result().iterator
        }.toDF()
    }
  }

  val silenceSql: String =
    s"""WITH o AS (
       |  SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
       |    lag(epoch_us(CAST(ts AS TIMESTAMP)))
       |      OVER (PARTITION BY event_type ORDER BY ts) AS prev
       |  FROM events)
       |SELECT event_type, prev AS silent_from_us, us AS silent_to_us,
       |  us - prev AS gap_us
       |FROM o WHERE us - prev > $silenceGapUs""".stripMargin

  // ---- live impossible-travel detection (ru_geo_velocity's streaming twin) -

  final case class GeoVelIn(username: String, event_id: Long, ts_us: Long,
    country: String)
  final case class GeoVelState(event_id: Long, ts_us: Long, country: String)
  final case class GeoVelAlert(username: String, event_id: Long,
    prev_event_id: Long, prev_country: String, country: String, gap_us: Long)

  /** Live impossible-travel alerts — `ru_geo_velocity`'s streaming twin:
    * the signup derivation and the zero-join `RangeLookup` geo enrichment
    * run as per-row scan math ON THE STREAM (the same expressions as
    * batch), then `flatMapGroupsWithState` keyed by username holds exactly
    * ONE (event, ts, country) triple per account — O(users) state forever,
    * each alert emitted the moment the hopping signup arrives. A
    * null-country signup still takes the predecessor slot (exactly the
    * batch lag semantics), it just never alerts on either side of itself.
    * Same cross-batch event-time-order contract as [[silence]]. */
  def stGeoVelocity(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    runToTable(spark, sfDir, OutputMode.Append()) { src =>
      graft.enrich.GeoIp.enrichFast(graft.events.Signups.derive(src))
        .select(col("username"), col("event_id"), col("ts_us"), col("country"))
        .as[GeoVelIn]
        .groupByKey(_.username)
        .flatMapGroupsWithState[GeoVelState, GeoVelAlert](
          OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
          case (user, events, state) =>
            val sorted = events.toArray.sortBy(e => (e.ts_us, e.event_id))
            val out = Vector.newBuilder[GeoVelAlert]
            var st = state.getOption.orNull
            sorted.foreach { e =>
              if (st != null && st.country != null && e.country != null
                  && e.country != st.country
                  && e.ts_us - st.ts_us <= 3600000000L)
                out += GeoVelAlert(user, e.event_id, st.event_id,
                  st.country, e.country, e.ts_us - st.ts_us)
              st = GeoVelState(e.event_id, e.ts_us, e.country)
            }
            if (st != null) state.update(st)
            out.result().iterator
        }.toDF()
    }
  }

  /** Oracle: the batch detector's SQL verbatim — streaming and batch must
    * agree alert-for-alert. */
  val stGeoVelocitySql: String = graft.enrich.EnrichQueries.geoVelocitySql

  // ---- live sparse→dense gap-fill (ev_gapfill's streaming twin) -----------

  final case class ZeroMinute(event_type: String, minute_epoch: Long, n: Long)

  /** Live zero-fill: per event type, emit a (minute, 0) row for every
    * minute that closed with NO events — the streaming twin of ev_gapfill
    * (whose batch output this hash-matches on the n=0 rows). State is ONE
    * long per type (the last seen minute) — O(types) forever; each arriving
    * event CLOSES the empty minutes strictly between the last seen minute
    * and its own, so emission is bounded by real wall-clock gaps, never by
    * corpus size. Same cross-batch event-time-order contract as
    * [[silence]]/[[sessionize]]. */
  def stGapfill(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    runToTable(spark, sfDir, OutputMode.Append()) { src =>
      src.select(col("event_type"),
          (expr("ts_us DIV 60000000") * 60L).as("minute"))
        .as[(String, Long)]
        .groupByKey(_._1)
        .flatMapGroupsWithState[Long, ZeroMinute](
          OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
          case (tpe, events, state) =>
            val minutes = events.map(_._2).toArray.distinct.sorted
            val out = Vector.newBuilder[ZeroMinute]
            var last = state.getOption.getOrElse(Long.MinValue)
            minutes.foreach { m =>
              if (last != Long.MinValue) {
                var z = last + 60
                while (z < m) { out += ZeroMinute(tpe, z, 0L); z += 60 }
              }
              if (m > last) last = m
            }
            state.update(last)
            out.result().iterator
        }.toDF()
    }
  }

  val stGapfillSql: String =
    """WITH sparse AS (
      |  SELECT event_type,
      |    CAST(epoch(date_trunc('minute', CAST(ts AS TIMESTAMP))) AS BIGINT) AS minute_epoch,
      |    count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |bounds AS (
      |  SELECT event_type, min(minute_epoch) AS lo, max(minute_epoch) AS hi
      |  FROM sparse GROUP BY 1),
      |dense AS (
      |  SELECT event_type, unnest(range(lo, hi + 60, 60)) AS minute_epoch
      |  FROM bounds)
      |SELECT d.event_type, d.minute_epoch, CAST(0 AS BIGINT) AS n
      |FROM dense d LEFT JOIN sparse s
      |  ON s.event_type = d.event_type AND s.minute_epoch = d.minute_epoch
      |WHERE s.minute_epoch IS NULL""".stripMargin

  // ---- live per-key rate limiting (the notify throttle, generalized) ------

  final case class RlEvent(user_id: Long, ts_us: Long)
  final case class RlState(minute_us: Long, n: Long)
  final case class Throttled(user_id: Long, minute_us: Long, n_seen: Long,
    n_allowed: Long, n_dropped: Long)

  val rateLimitPerMinute: Long = 1L

  /** Per-key event-time rate limiter — the reference's per-user notify
    * throttle (eventhandler.rs:196-216 dedups notifications per user)
    * generalized to a budget of [[rateLimitPerMinute]] events per user per
    * minute. State is ONE (minute, count) pair per key — O(keys) forever,
    * independent of rate. Emits a throttle report row when a minute CLOSES
    * over budget; the still-open bucket is held back (same open-bucket
    * holdback as st_spike), and a late event behind the open bucket is
    * dropped rather than miscounted — O(1) state can't reopen a closed
    * minute (the single-batch harness never takes that path). Only counts
    * cross the wire, so intra-minute arrival order is irrelevant —
    * the report is deterministic under any batch slicing. */
  /** The per-group transition: fold a batch's (sorted) event times into the
    * open bucket, emitting a throttle report for each over-budget minute
    * that CLOSES. Pure so the batch-slicing invariance is property-testable
    * (MergePropertySpec): any ordered split of the event stream — including
    * mid-minute — produces the same reports and end state as one pass. */
  def rlFold(uid: Long, prior: RlState, sortedTsUs: Seq[Long]): (Seq[Throttled], RlState) = {
    val out = Vector.newBuilder[Throttled]
    var cur = prior
    def close(): Unit = if (cur.minute_us != Long.MinValue) {
      val allowed = math.min(cur.n, rateLimitPerMinute)
      if (cur.n > allowed)
        out += Throttled(uid, cur.minute_us, cur.n, allowed, cur.n - allowed)
    }
    sortedTsUs.foreach { t =>
      val m = t - t % 60000000L
      if (m > cur.minute_us) { close(); cur = RlState(m, 0) }
      if (m == cur.minute_us) cur = RlState(cur.minute_us, cur.n + 1)
    }
    (out.result(), cur)
  }

  def rateLimit(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    runToTable(spark, sfDir, OutputMode.Append()) { src =>
      src.select(col("user_id"), col("ts_us")).as[RlEvent]
        .groupByKey(_.user_id)
        .flatMapGroupsWithState[RlState, Throttled](
          OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
          case (uid, events, state) =>
            val prior = state.getOption.getOrElse(RlState(Long.MinValue, 0))
            val (rows, next) =
              rlFold(uid, prior, events.map(_.ts_us).toArray.sorted.toSeq)
            state.update(next)
            rows.iterator
        }.toDF()
    }
  }

  val rateLimitSql: String =
    s"""WITH m AS (
       |  SELECT user_id,
       |    epoch_us(date_trunc('minute', CAST(ts AS TIMESTAMP))) AS minute_us,
       |    count(*) AS n
       |  FROM events GROUP BY 1, 2),
       |last AS (SELECT user_id, max(minute_us) AS last_min FROM m GROUP BY 1)
       |SELECT m.user_id, minute_us, n AS n_seen,
       |  CAST(least(n, $rateLimitPerMinute) AS BIGINT) AS n_allowed,
       |  CAST(n - least(n, $rateLimitPerMinute) AS BIGINT) AS n_dropped
       |FROM m JOIN last ON m.user_id = last.user_id
       |WHERE minute_us < last_min AND n > $rateLimitPerMinute""".stripMargin

  // ---- the reference program end-to-end as ONE streaming job --------------

  /** eventstream.rs → eventhandler.rs in a single Structured Streaming
    * pipeline: tagged-event filter → signup derivation → broadcast
    * rule-match (stream-static join) → matched actions. The rule dim is
    * broadcast per the engine's scale contract: the event stream never
    * shuffles. */
  def pipeline(spark: SparkSession, sfDir: String): DataFrame =
    runToTable(spark, sfDir, OutputMode.Append()) { src =>
      val signups = graft.events.Signups.derive(src)
      graft.rules.RuleEngine.matches(signups, graft.rules.Rules.df(spark))
        .select(col("event_id"), col("username"), col("name").as("rule_name"),
          col("actions"))
    }

  val pipelineSql: String = {
    import graft.events.Signups
    import graft.rules.{RuleEngine, Rules}
    "WITH " + Signups.cte.stripSuffix("\n") + ",\n" + Rules.valuesSql + "\n" +
      s"""SELECT s.event_id, s.username, r.name AS rule_name, r.actions
         |FROM signups s JOIN rules r ON ${RuleEngine.matchConditionSql()}""".stripMargin
  }

  // ---- streaming near-dup (MinHash dedup-on-ingest) -----------------------

  /** Dedup-on-ingest: documents stream through the fused MinHash signature
    * (per-row column math, no shuffle), explode into LSH band rows, and the
    * streaming state keeps min(doc_id) per (band, bucket) — bucket
    * OWNERSHIP. A document survives ingest iff it owns at least one of its
    * buckets (no earlier document claimed all of them) — the streaming
    * analog of dd_minhash for filter-while-ingesting pipelines.
    *
    * State is one long per occupied (band, bucket) — O(corpus·bands) keys;
    * production bounds it with a watermark/TTL on the bucket registry (stale
    * buckets age out), the standard contract for streaming dedup state.
    * min(doc_id) (not arrival order) keeps the batch replay deterministic. */
  def minhashDedup(spark: SparkSession, sfDir: String): DataFrame =
    withStatePartitions(spark) {
    val arrs = docsStream(spark, sfDir).select(col("doc_id"),
      graft.plans.ShingleHashes(col("text"), 3, distinct = true).as("hs_arr"))
    val owners = graft.dedup.Dedup.bandRows(arrs)
      .groupBy(col("band"), col("key"))
      .agg(min(col("doc_id")).as("keeper"))
    runBuiltToTable(spark, owners, OutputMode.Complete())
      .select(col("keeper").as("doc_id")).distinct()
    }

  val minhashDedupSql: String =
    s"""WITH ${graft.dedup.Dedup.minhashCtes}
       |SELECT DISTINCT keeper AS doc_id FROM (
       |  SELECT band, key, min(doc_id) AS keeper FROM bands GROUP BY 1, 2)""".stripMargin

  // ---- streaming per-stratum reservoir ------------------------------------

  val stReservoirK = 10

  /** Streaming bounded sampling: keep exactly K docs per language as the
    * corpus streams — the live twin of `samp_reservoir`. Priority is the
    * portable hash (salt "res", folded mod 2^40 so the double score used by
    * the aggregate stays EXACT), so the kept set is a pure function of doc
    * ids: order-invariant, hash-matching the batch replay for any arrival
    * order or micro-batch split. The `TopKByScore` buffer HOLDS at most K
    * (priority, id) pairs per language — state O(strata·K) forever, the
    * same bounded-state contract as st_ann_topk (a naive collect_list
    * would hold the whole stream per stratum). */
  def stReservoir(spark: SparkSession, sfDir: String): DataFrame =
    withStatePartitions(spark) {
    val prioritized = docsStream(spark, sfDir).select(col("lang"), col("doc_id"),
      pmod(graft.functions.Portable.hash64(col("doc_id").cast("string"), salt = "res"),
        lit(1L << 40)).cast("double").as("pr"))
    // smallest-priority-wins: negate into the (score desc, id asc) buffer
    val kept = prioritized.groupBy(col("lang"))
      .agg(graft.plans.TopKAgg.topK(-col("pr"), col("doc_id"), stReservoirK).as("top"))
    runBuiltToTable(spark, kept, OutputMode.Complete())
      .select(col("lang"), posexplode(col("top")))
      .select(col("lang"), col("col.cand").as("doc_id"),
        (col("pos") + 1).cast("long").as("rn"))
    }

  val stReservoirSql: String =
    s"""SELECT lang, doc_id, CAST(rn AS BIGINT) AS rn FROM (
       |  SELECT lang, doc_id,
       |    row_number() OVER (PARTITION BY lang ORDER BY
       |      ${graft.functions.Portable.hash64Sql("CAST(doc_id AS VARCHAR)", "res")}
       |        % ${1L << 40} ASC, doc_id ASC) AS rn
       |  FROM documents) t
       |WHERE rn <= $stReservoirK""".stripMargin

  // ---- streaming similarity search ----------------------------------------

  /** Streaming ANN: the embedding corpus streams, the query set broadcasts,
    * per-query top-3 maintained in complete mode — the stream-static-join
    * shape of distributed streaming similarity search (new vectors score
    * against the standing query set as they arrive; no window functions
    * needed: the top-k is a bounded sorted-list aggregate, so state is
    * O(queries·k), not O(corpus)). */
  def annTopK(spark: SparkSession, sfDir: String): DataFrame =
    withStatePartitions(spark) {
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    val src = spark.readStream.schema(schema)
      .option("pathGlobFilter", "embeddings.parquet").parquet(sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(graft.plans.VectorDot(col("v"), col("v"))))
    val q = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id").as("qid"), col("embedding").cast("array<double>").as("qv"))
      .filter(col("qid") < graft.sim.Similarity.numQueries)
      .withColumn("qnrm", sqrt(graft.plans.VectorDot(col("qv"), col("qv"))))
    val scored = src.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cand"),
        round(graft.plans.VectorDot(col("v"), col("qv")) / (col("nrm") * col("qnrm")), 6)
          .as("cos"))
    // bounded top-k aggregate: per-query state is k entries (TopKByScore),
    // never the scored corpus — the O(q·k) state contract claimed in SURVEY
    val topk = scored.groupBy(col("qid"))
      .agg(graft.plans.TopKAgg.topK(col("cos"), col("cand"), graft.sim.Similarity.topK)
        .as("top"))
    runBuiltToTable(spark, topk, OutputMode.Complete())
      .select(col("qid"), posexplode(col("top")))
      .select(col("qid"), col("col.cand").as("cand"),
        col("col.score").as("cos"), (col("pos") + 1).as("rank"))
    }

  val annTopKSql: String = graft.sim.Similarity.bruteTopKSql

  // ---- sketches in streaming state ----------------------------------------

  /** HLL distinct-user sketches maintained IN streaming state — the
    * composition proof that the engine's mergeable sketches run under the
    * state store exactly as they do in batch: `HllSketch` registers are
    * order- and partitioning-invariant (property-spec'd), so the streaming
    * estimate hash-matches the batch/oracle replay. Exact distinct counts
    * are impossible in streaming without unbounded state — the sketch IS
    * the production answer (64 bytes per group, any cardinality). */
  def hllUsers(spark: SparkSession, sfDir: String): DataFrame =
    runToTable(spark, sfDir, OutputMode.Complete()) { src =>
      src.groupBy(col("event_type"))
        .agg(graft.plans.HllSketch.registers(col("user_id").cast("string")).as("regs"))
        .select(col("event_type"), graft.plans.HllSketch.estimate("regs").as("est"))
    }

  final case class FunnelEvent(user_id: Long, event_type: String, ts_us: Long)
  final case class FunnelStage(user_id: Long, stage: Int)

  /** The LIVE time-bounded funnel — ev_funnel_window as a streaming state
    * machine: per user, the first view, the first click within 24 h of it,
    * the first purchase within 24 h of that, folded in
    * `flatMapGroupsWithState` (stage timestamps are mins over time-bounded
    * sets, so the fold is arrival-order-independent — no sort needed for
    * determinism); the drained per-user stages aggregate to the same
    * stage/conversion report the batch query emits, and the BATCH oracle is
    * reused verbatim — streaming and batch funnel semantics can't drift. */
  def funnel(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val W = graft.events.EventOps.funnelWindowUs
    val stages = runToTable(spark, sfDir, OutputMode.Append()) { src =>
      src.select(col("user_id"), col("event_type"), col("ts_us"))
        .filter(col("event_type").isin("view", "click", "purchase"))
        .as[FunnelEvent]
        .groupByKey(_.user_id)
        .flatMapGroupsWithState[Byte, FunnelStage](
          OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
          case (uid, events, _) =>
            val ev = events.toArray
            def firstIn(tpe: String, lo: Long, hi: Long): Option[Long] = {
              val ts = ev.iterator.filter(e =>
                e.event_type == tpe && e.ts_us > lo && e.ts_us <= hi).map(_.ts_us)
              if (ts.isEmpty) None else Some(ts.min)
            }
            val t1 = {
              val vs = ev.iterator.filter(_.event_type == "view").map(_.ts_us)
              if (vs.isEmpty) None else Some(vs.min)
            }
            val t2 = t1.flatMap(t => firstIn("click", t, t + W))
            val t3 = t2.flatMap(t => firstIn("purchase", t, t + W))
            t1.map(_ => FunnelStage(uid,
              1 + t2.map(_ => 1).getOrElse(0) + t3.map(_ => 1).getOrElse(0))).iterator
        }.toDF()
    }
    val n = stages.agg(
      sum(when(col("stage") >= 1, 1L).otherwise(0L)),
      sum(when(col("stage") >= 2, 1L).otherwise(0L)),
      sum(when(col("stage") >= 3, 1L).otherwise(0L))).head()
    def g(i: Int): Long = if (n.isNullAt(i)) 0L else n.getLong(i)
    Seq(("1_view", g(0), g(0)), ("2_click", g(1), g(0)), ("3_purchase", g(2), g(1)))
      .toDF("stage", "n_users", "prev")
      .select(col("stage"), col("n_users"),
        when(col("prev") === 0, 0.0)
          .otherwise(round(col("n_users").cast("double") / col("prev"), 6))
          .as("conv_from_prev"))
  }

  /** Batch oracle reused verbatim — the drift-proof twin contract. */
  def funnelSql: String = graft.events.EventOps.funnelWindowSql

  final case class PatternEvent(user_id: Long, event_id: Long,
      event_type: String, ts_us: Long)
  final case class PatternMatch(user_id: Long, v_ts_us: Long, p_ts_us: Long,
      gap_us: Long)

  /** LIVE CEP sequence matching WITH NEGATION — ev_pattern (view → purchase
    * within 1 h with no error between) as a streaming per-user state
    * machine. The batch engine compiles the pattern to running last-view /
    * last-error window columns; the streaming twin keeps exactly those two
    * timestamps as per-user STATE (16 bytes per live user — the minimal
    * sufficient statistic of the whole history for this pattern family) and
    * folds each micro-batch's events in (ts_us, event_id) order through the
    * same predicate. Emitted matches are identical to the batch pass, and
    * the BATCH oracle is reused verbatim — streaming and batch CEP
    * semantics cannot drift. At 100 TB/day the state is O(live users), not
    * O(events): negation needs no event buffer because "no error between"
    * only ever depends on the most recent error. */
  def stPattern(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val W = graft.events.EventOps.patternWindowUs
    runToTable(spark, sfDir, OutputMode.Append()) { src =>
      src.select(col("user_id"), col("event_id"), col("event_type"), col("ts_us"))
        .filter(col("event_type").isin("view", "purchase", "error"))
        .as[PatternEvent]
        .groupByKey(_.user_id)
        .flatMapGroupsWithState[(Long, Long), PatternMatch](
          OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
          case (uid, events, state) =>
            // state: (lastViewUs, lastErrorUs), Long.MinValue = none yet
            var (lastView, lastError) =
              state.getOption.getOrElse((Long.MinValue, Long.MinValue))
            val out = Vector.newBuilder[PatternMatch]
            for (e <- events.toArray.sortBy(e => (e.ts_us, e.event_id)))
              e.event_type match {
                case "view"  => lastView = e.ts_us
                case "error" => lastError = e.ts_us
                case _ => // purchase
                  if (lastView != Long.MinValue &&
                      e.ts_us - lastView <= W && lastError < lastView)
                    out += PatternMatch(uid, lastView, e.ts_us, e.ts_us - lastView)
              }
            state.update((lastView, lastError))
            out.result().iterator
        }.toDF()
    }
  }

  /** Batch oracle reused verbatim — the drift-proof twin contract. */
  def stPatternSql: String = graft.events.EventOps.patternSql

  /** KMV theta sketches maintained IN streaming state — the set-algebra
    * member of the sketch-under-the-state-store family: per-type k-minimum-
    * values state (≤ k longs per group, order/partition-invariant like any
    * mergeable sketch) accumulates in Complete mode; the pairwise audience-
    * overlap matrix is array math over the DRAINED |types|-row table — the
    * live "users doing BOTH A and B" dashboard no exact method can serve
    * without unbounded state. Hash-matches the batch replay exactly (minus
    * the exact-count audit column, which streaming cannot carry). */
  def thetaKmv(spark: SparkSession, sfDir: String): DataFrame = {
    val sk = runToTable(spark, sfDir, OutputMode.Complete()) { src =>
      src.groupBy(col("event_type"))
        .agg(graft.plans.KmvSketch.sketch(col("user_id").cast("string")).as("sk"))
    }
    sk.as("a").join(sk.as("b"), col("a.event_type") <= col("b.event_type"))
      .select(col("a.event_type").as("type_a"), col("b.event_type").as("type_b"),
        graft.plans.KmvSketch.intersectEstimate("a.sk", "b.sk").as("est"))
  }

  def thetaKmvSql: String =
    s"""WITH ${graft.events.EventOps.kmvReplayCtes}
       |SELECT i.type_a, i.type_b,
       |  ${graft.events.EventOps.kmvEstimateSql} AS est
       |FROM inter i""".stripMargin

  /** CUSUM changepoint detection under the STREAMING state store —
    * ev_cusum's live twin via the sketch-in-state pattern: the sufficient
    * statistic for the whole detector is the (type, minute) count matrix,
    * whose cells are mergeable order/partition/micro-batch-invariant SUMS
    * bounded by the calendar (the same state family as st_quantile_sketch /
    * st_theta_kmv); the two CUSUM window passes are the READ-TIME VIEW over
    * the drained matrix ([[graft.events.EventOps.cusumOver]] — literally
    * the batch code), so the streaming alarm set EQUALS the batch alarm set
    * and the batch oracle is reused verbatim. State per group: one BIGINT
    * counter — O(types · observed minutes) forever, calendar-bounded. */
  def cusumLive(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = runToTable(spark, sfDir, OutputMode.Complete()) { src =>
      src.groupBy(col("event_type"),
        unix_timestamp(date_trunc("minute", col("ts"))).as("minute_epoch"))
        .agg(count(lit(1)).as("n"))
    }
    graft.events.EventOps.cusumOver(counts)
  }

  /** Batch oracle reused verbatim — the drift-proof twin contract. */
  def stCusumSql: String = graft.events.EventOps.cusumSql

  /** Day-over-day distribution drift under the STREAMING state store —
    * ev_drift's live twin, and the monitor that exists PRECISELY to run
    * live (training/serving skew pages someone today, not at the nightly
    * batch): state = the (day, type) count matrix — one BIGINT cell per
    * pair, mergeable order/partition/micro-batch-invariant SUMS,
    * calendar-bounded (the st_cusum state family); the fixed-order pivot,
    * lag window, and L1 fold run as the READ-TIME VIEW over the drained
    * matrix ([[graft.events.EventOps.driftOver]] — literally the batch
    * code), so the live drift verdicts EQUAL the batch verdicts and the
    * batch oracle is reused verbatim. */
  def driftLive(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = runToTable(spark, sfDir, OutputMode.Complete()) { src =>
      src.groupBy(unix_timestamp(date_trunc("day", col("ts"))).as("day_epoch"),
        col("event_type"))
        .agg(count(lit(1)).as("c"))
    }
    graft.events.EventOps.driftOver(counts)
  }

  /** Batch oracle reused verbatim — the drift-proof twin contract. */
  def stDriftSql: String = graft.events.EventOps.driftSql

  /** χ² drift TEST under the STREAMING state store — ev_chi2_drift's live
    * twin and st_drift's significance layer (a raw L1 threshold can't tell
    * a quiet Sunday from real breakage; the χ² verdict can): the SAME
    * (day, type) BIGINT count-matrix state, with the cross-multiplied
    * exact-integer χ² pass as the READ-TIME VIEW
    * ([[graft.events.EventOps.chi2DriftOver]] — literally the batch code),
    * so live verdicts EQUAL batch verdicts and the batch oracle is reused
    * verbatim. */
  def chi2DriftLive(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = runToTable(spark, sfDir, OutputMode.Complete()) { src =>
      src.groupBy(unix_timestamp(date_trunc("day", col("ts"))).as("day_epoch"),
        col("event_type"))
        .agg(count(lit(1)).as("c"))
    }
    graft.events.EventOps.chi2DriftOver(counts)
  }

  /** Batch oracle reused verbatim — the drift-proof twin contract. */
  def stChi2DriftSql: String = graft.events.EventOps.chi2DriftSql

  /** Per-type activity FORECAST under the STREAMING state store —
    * ev_forecast's live twin (the capacity dashboard that matters live):
    * state = the (type, day) BIGINT count matrix — mergeable
    * order/partition/micro-batch-invariant SUMS, calendar-bounded; the
    * truncated-EWMA + OLS-trend pass (integer weighted sums, one double
    * division) is the READ-TIME VIEW over the drained matrix
    * ([[graft.events.EventOps.forecastOver]] — literally the batch code),
    * so live forecasts EQUAL batch forecasts and the batch oracle is
    * reused verbatim. */
  def forecastLive(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = runToTable(spark, sfDir, OutputMode.Complete()) { src =>
      src.groupBy(col("event_type"),
        unix_timestamp(date_trunc("day", col("ts"))).as("day_epoch"))
        .agg(count(lit(1)).as("c"))
    }
    graft.events.EventOps.forecastOver(counts)
  }

  /** Batch oracle reused verbatim — the drift-proof twin contract. */
  def stForecastSql: String = graft.events.EventOps.forecastSql

  /** Holt–Winters seasonal forecast under the STREAMING state store —
    * ev_hw_forecast's live twin and st_forecast's seasonal sibling: the
    * SAME calendar-bounded (type, day) BIGINT count matrix as state
    * (mergeable order/partition/micro-batch-invariant SUMS), the
    * fixed-point HW fold as the READ-TIME VIEW
    * ([[graft.events.EventOps.hwForecastOver]] — literally the batch
    * code), so live forecasts EQUAL batch forecasts and the batch oracle
    * is reused verbatim. */
  def hwForecastLive(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = runToTable(spark, sfDir, OutputMode.Complete()) { src =>
      src.select(col("event_type"), expr("ts_us DIV 86400000000").as("day"))
        .groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("c"))
    }
    graft.events.EventOps.hwForecastOver(counts)
  }

  /** Batch oracle reused verbatim — the drift-proof twin contract. */
  def stHwForecastSql: String = graft.events.EventOps.hwForecastSql

  /** Behavioral time-series similarity search under the STREAMING state
    * store — ev_series_sim's live twin (the "who ELSE is behaving like
    * this account" triage a moderation console runs on live data): state
    * = the (user, day) BIGINT count matrix (mergeable order/partition/
    * micro-batch-invariant SUMS, calendar-bounded per user), the sparse
    * cosine search as the READ-TIME VIEW
    * ([[graft.events.EventOps.seriesSimOver]] — literally the batch
    * code), so live rankings EQUAL batch rankings and the batch oracle is
    * reused verbatim. */
  def seriesSimLive(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = runToTable(spark, sfDir, OutputMode.Complete()) { src =>
      src.select(col("user_id"), expr("ts_us DIV 86400000000").as("day"))
        .groupBy(col("user_id"), col("day"))
        .agg(count(lit(1)).as("c"))
    }
    graft.events.EventOps.seriesSimOver(counts)
  }

  /** Batch oracle reused verbatim — the drift-proof twin contract. */
  def stSeriesSimSql: String = graft.events.EventOps.seriesSimSql

  /** The PRODUCTION series search under the STREAMING state store —
    * st_series_sim with the LSH stage swap (ev_series_lsh's live twin):
    * the state is the IDENTICAL (user, day) count matrix, and the
    * read-time view swaps the brute day-keyed probe join for the
    * (day, bucket)-keyed LSH join
    * ([[graft.events.EventOps.seriesSimLshOver]] — literally the batch
    * code), so a live console pays bucket-bounded candidate work while
    * live rankings still EQUAL batch rankings by construction. */
  def seriesLshLive(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = runToTable(spark, sfDir, OutputMode.Complete()) { src =>
      src.select(col("user_id"), expr("ts_us DIV 86400000000").as("day"))
        .groupBy(col("user_id"), col("day"))
        .agg(count(lit(1)).as("c"))
    }
    graft.events.EventOps.seriesSimLshOver(counts)
  }

  /** Batch oracle reused verbatim — the drift-proof twin contract. */
  def stSeriesLshSql: String = graft.events.EventOps.seriesLshSql

  /** Growth accounting under the STREAMING state store — ev_growth's live
    * twin (the DAU decomposition dashboards poll all day): new/retained/
    * resurrected/churned need each user's day-activity SET, which cannot
    * fold as plain sums — so state is the per-user lifecycle bitmap
    * (st_bitmap's 16 B/user `ShiftingBitmap`: first_day + a 63-day
    * activity mask, merge = min/OR — order/partition/micro-batch
    * invariant), and the read-time view expands set bits back to the
    * distinct (user, day) frame and runs LITERALLY the batch code
    * ([[graft.events.EventOps.growthOver]]), so live flows EQUAL batch
    * flows and the batch oracle is reused verbatim. Horizon contract:
    * the mask covers 63 days from each user's first sighting — st_bitmap's
    * documented window, ≥ 2× the fixture's 30-day calendar; a longer-lived
    * deployment pages the bitmap (the roaring-bitmap move), same state
    * algebra. */
  def growthLive(spark: SparkSession, sfDir: String): DataFrame = {
    val users = runToTable(spark, sfDir, OutputMode.Complete()) { src =>
      src.select(col("user_id"), expr("ts_us DIV 86400000000").as("day"))
        .groupBy(col("user_id"))
        .agg(graft.plans.ShiftingBitmap.of(col("day")).as("s"),
          max(col("day")).as("last_day"))
        .select(col("user_id"), col("s.first_day").as("first_day"),
          col("s.bitmap").as("bitmap"), col("last_day"))
    }
    // horizon guard, EXACT form (round-8 advice): the round-7 global-span
    // heuristic measured the DECODED calendar, which saturation itself
    // clips — a user first seen on the globally earliest day and active
    // again 100 days later decodes to {0, 62}, so the observable span
    // stayed < 63 and the guard passed while live flows silently diverged
    // from batch ev_growth. The state now carries the TRUE max(day) as a
    // plain mergeable MAX beside the bitmap (st_bitmap's own layout), so
    // `last_day − first_day ≤ 62` is checked PER USER against
    // pre-saturation truth: it trips on exactly the users whose masks
    // dropped days, independent of what saturation left visible.
    val overflowed = users
      .filter(col("last_day") - col("first_day") > 62)
      .limit(1).count()
    require(overflowed == 0L,
      "st_growth horizon: some user's true activity span exceeds the " +
        "63-day ShiftingBitmap mask (last_day - first_day > 62) — the " +
        "mask cannot represent it; page the bitmap (st_bitmap's " +
        "documented roaring move) before trusting live flows")
    val ud = users
      .select(col("user_id"), col("first_day"),
        explode(expr(
          "filter(sequence(0, 62), p -> (bitmap & (CAST(1 AS BIGINT) << p)) <> 0)"))
          .as("p"))
      .select(col("user_id"),
        (col("first_day") + col("p")).cast("long").as("day_idx"))
    graft.events.EventOps.growthOver(ud)
  }

  /** Batch oracle reused verbatim — the bitmap expands to the identical
    * (user, day) frame. */
  def stGrowthSql: String = graft.events.EventOps.growthSql

  /** (day-of-week × hour-of-day) seasonality under the STREAMING state
    * store — ev_seasonality's live twin: distinct actives cannot fold
    * incrementally, so state is the (dow, hour, user_id) PRESENCE matrix
    * (mergeable BIGINT sums, bounded by 168 × population — the same move
    * st_anomaly_mad makes for medians), and the distinct-count + share
    * readout is the READ-TIME VIEW over the drained matrix
    * ([[graft.events.EventOps.seasonalityOver]] — literally the batch
    * code), so the live matrix EQUALS the batch matrix and the batch
    * oracle is reused verbatim. */
  def seasonalityLive(spark: SparkSession, sfDir: String): DataFrame = {
    val dayUs = 86400000000L
    val counts = runToTable(spark, sfDir, OutputMode.Complete()) { src =>
      src.select(graft.epochUs(col("ts")).as("ts_us"), col("user_id"))
        .select(((expr(s"ts_us DIV $dayUs") + 4) % 7).as("dow"),
          expr(s"(ts_us % $dayUs) DIV 3600000000").as("hour"),
          col("user_id"))
        .groupBy(col("dow"), col("hour"), col("user_id"))
        .agg(count(lit(1)).as("c"))
    }
    graft.events.EventOps.seasonalityOver(counts)
  }

  /** Batch oracle reused verbatim — the drift-proof twin contract. */
  def stSeasonalitySql: String = graft.events.EventOps.seasonalitySql

  /** Robust (median/MAD) anomaly detection under the STREAMING state store —
    * ev_anomaly_mad's live twin, same family as st_cusum: the detector's
    * full sufficient statistic is the (type, hour) count matrix, each cell
    * a mergeable order/micro-batch-invariant SUM (state O(types · observed
    * hours), calendar-bounded); medians CANNOT be folded incrementally
    * without an approximation, so the exact median/MAD scoring runs as the
    * READ-TIME VIEW over the drained matrix
    * ([[graft.events.EventOps.madOver]] — literally the batch code), which
    * makes the live alarm set EQUAL the batch alarm set and lets the batch
    * oracle be reused verbatim. */
  def anomalyMadLive(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = runToTable(spark, sfDir, OutputMode.Complete()) { src =>
      src.groupBy(col("event_type"),
        unix_timestamp(date_trunc("hour", col("ts"))).as("hour_epoch"))
        .agg(count(lit(1)).as("c"))
    }
    graft.events.EventOps.madOver(counts)
  }

  /** Batch oracle reused verbatim — the drift-proof twin contract. */
  def stAnomalyMadSql: String = graft.events.EventOps.anomalyMadSql

  /** Multiwindow SLO burn-rate paging under the STREAMING state store —
    * ev_error_budget's live twin (the deployment that actually pages):
    * state = one (total, errors) BIGINT pair per hour — mergeable
    * order/micro-batch-invariant SUMS, calendar-bounded; the 6 h window
    * pass and both cross-multiplied page verdicts run as the READ-TIME
    * VIEW over the drained matrix
    * ([[graft.events.EventOps.errorBudgetOver]] — literally the batch
    * code), so the live page set EQUALS the batch page set and the batch
    * oracle is reused verbatim. */
  def errorBudgetLive(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = runToTable(spark, sfDir, OutputMode.Complete()) { src =>
      src.groupBy(
        expr("unix_timestamp(date_trunc('hour', ts)) DIV 3600").as("h"))
        .agg(count(lit(1)).as("total"),
          count(when(col("event_type") === "error", 1)).as("errors"))
    }
    graft.events.EventOps.errorBudgetOver(counts)
  }

  /** Batch oracle reused verbatim — the drift-proof twin contract. */
  def stErrorBudgetSql: String = graft.events.EventOps.errorBudgetSql

  /** Lead-lag cross-correlation under the STREAMING state store — ev_xcorr
    * as a live correlogram dashboard: state = one BIGINT counter per
    * (type, hour) — mergeable order/micro-batch-invariant SUMS,
    * calendar-bounded; the pairs×lags Pearson pass (sparse moments, range
    * folds, the shifted self-join) is the READ-TIME VIEW over the drained
    * matrix ([[graft.events.EventOps.xcorrOver]] — literally the batch
    * code), so the live correlogram EQUALS the batch correlogram and the
    * batch oracle is reused verbatim. */
  def xcorrLive(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = runToTable(spark, sfDir, OutputMode.Complete()) { src =>
      src.groupBy(col("event_type"),
        expr("unix_timestamp(date_trunc('hour', ts)) DIV 3600").as("h"))
        .agg(count(lit(1)).as("c"))
    }
    graft.events.EventOps.xcorrOver(counts)
  }

  /** Batch oracle reused verbatim — the drift-proof twin contract. */
  def stXcorrSql: String = graft.events.EventOps.xcorrSql

  /** Event-time-correct dim enrichment ON the stream — q_temporal_join's
    * live form and the shape every streaming enrichment pipeline needs: a
    * view event joins the SCD2 tier version valid AT ITS OWN event time
    * (joining "current" silently backdates history the moment the dim
    * changes mid-stream). The dim is static per micro-batch (the standard
    * slowly-changing-dim deployment: rebuilt batch-side, swapped in);
    * the interval bound is a residual predicate inside the stream-static
    * equi-join on user_id — stateless per row, NO join state store at all
    * (contrast st_stream_join's symmetric-hash state): at any scale the
    * cost is the dim lookup per event. The per-tier rollup accumulates in
    * Complete mode (exact distinct is unbounded-state in streaming, so the
    * live readout carries view counts; the n_users audit stays on the
    * batch twin). */
  def temporalJoinLive(spark: SparkSession, sfDir: String): DataFrame = {
    val dim = graft.relational.Relational.qScd2(spark, sfDir)
    runToTable(spark, sfDir, OutputMode.Complete()) { src =>
      src.filter(col("event_type") === "view")
        .select(col("user_id").as("v_user"), col("ts_us").as("v_ts_us"))
        .join(dim,
          col("v_user") === col("user_id") &&
          col("v_ts_us") >= col("valid_from_us") &&
          (col("valid_to_us").isNull || col("v_ts_us") < col("valid_to_us")))
        .groupBy(col("tier"))
        .agg(count(lit(1)).as("n_views"))
    }
  }

  val stTemporalJoinSql: String =
    s"""WITH scd AS (${graft.relational.Relational.qScd2Sql}),
       |v AS (
       |  SELECT user_id AS v_user, epoch_us(CAST(ts AS TIMESTAMP)) AS v_ts_us
       |  FROM events WHERE event_type = 'view')
       |SELECT tier, CAST(count(*) AS BIGINT) AS n_views
       |FROM v JOIN scd ON v_user = user_id
       |  AND v_ts_us >= valid_from_us
       |  AND (valid_to_us IS NULL OR v_ts_us < valid_to_us)
       |GROUP BY 1""".stripMargin

  /** The batch replay minus the exact count (streaming can't countDistinct
    * without unbounded state) — CTEs shared with [[graft.events.EventOps]]. */
  def hllUsersSql: String =
    s"""WITH ${graft.events.EventOps.hllReplayCtes}
       |SELECT event_type,
       |  ${graft.events.EventOps.hllEstimateSql} AS est
       |FROM inv""".stripMargin

  // ---- lifecycle activity bitmap (self-anchoring sketch) -------------------

  /** Streaming per-user LIFECYCLE bitmap — `ev_bitmap`'s live twin with a
    * harder anchor problem: batch anchors every user at the corpus start
    * (one pre-scan broadcast), but a stream can't pre-scan, and a user's
    * own first day can arrive late and out of order across micro-batches.
    * [[graft.plans.ShiftingBitmap]] solves it under the state store: the
    * per-user state is 16 bytes of (anchor, bits) that RE-ANCHORS by a
    * saturating shift whenever an earlier day shows up — canonical for the
    * absorbed day set, so any arrival order yields the identical bitmap
    * the batch oracle computes from min-day. Day ≥ first+62 saturates into
    * bit 62 (the same clamp the batch form uses). `ret_w2` (active in days
    * 7–13 after first seen) is the new-user week-2 retention readout. */
  def stBitmap(spark: SparkSession, sfDir: String): DataFrame =
    runToTable(spark, sfDir, OutputMode.Complete()) { src =>
      src.select(col("user_id"), expr("ts_us DIV 86400000000").as("day"))
        .groupBy(col("user_id"))
        .agg(graft.plans.ShiftingBitmap.of(col("day")).as("s"),
          max(col("day")).as("last_day"))
        .select(col("user_id"), col("s.first_day").as("first_day"),
          col("last_day"), col("s.bitmap").as("bitmap"),
          bit_count(col("s.bitmap")).cast("long").as("days_active"),
          (col("s.bitmap").bitwiseAND(lit(127L << 7)) =!= 0L).as("ret_w2"))
    }

  def stBitmapSql: String =
    s"""WITH d AS (
       |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
       |  FROM events),
       |u AS (SELECT user_id, min(day) AS first_day, max(day) AS last_day
       |      FROM d GROUP BY 1),
       |b AS (
       |  SELECT d.user_id,
       |    bit_or(CAST(1 AS BIGINT) << CAST(least(day - first_day, 62) AS INTEGER)) AS bitmap
       |  FROM d JOIN u USING (user_id) GROUP BY 1)
       |SELECT u.user_id, first_day, last_day, bitmap,
       |  CAST(bit_count(bitmap) AS BIGINT) AS days_active,
       |  (bitmap & ${127L << 7}) <> 0 AS ret_w2
       |FROM b JOIN u USING (user_id)""".stripMargin

  // ---- chained windowed aggregation: streaming trending top-k --------------

  /** Streaming per-hour trending top-k — ev_trending's live twin and the
    * chained-stateful-aggregation showcase: TWO stateful aggregations in
    * ONE append-mode query (per-(window, user) counts, then a per-window
    * `TopKByScore` over those counts — `window_time()` keys the second agg
    * off the first's windows, the Spark 3.5+/4 multiple-stateful-operator
    * contract). State is bounded at BOTH levels: the count agg holds only
    * OPEN windows × their active users, the top-k agg holds ≤k entries per
    * open hour (TopKByScore's O(k) buffer); both evict as the watermark
    * passes. Append semantics: an hour emits its FINAL top-k exactly once
    * when the watermark (max event time − 1 h) passes its end — so a
    * bounded replay never finalizes the trailing open hour(s), which the
    * oracle pins with the same cutoff. Ties break (n desc, user asc) —
    * TopKByScore's (score desc, id asc), identical to the batch
    * row_number in ev_trending. */
  def stTrending(spark: SparkSession, sfDir: String): DataFrame =
    runToTable(spark, sfDir, OutputMode.Append()) { src =>
      src.withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"), col("user_id"))
        .agg(count(lit(1)).as("n"))
        .groupBy(window(window_time(col("window")), "1 hour"))
        .agg(graft.plans.TopKAgg.topK(col("n").cast("double"), col("user_id"), 3)
          .as("top"))
        .select(graft.epochUs(col("window.start")).as("window_start_us"),
          posexplode(col("top")))
        .select(col("window_start_us"), col("col.cand").as("user_id"),
          col("col.score").cast("long").as("n"), (col("pos") + 1).cast("long").as("rk"))
    }

  /** Batch replay + the append-mode finalization cutoff: only hours whose
    * end the final watermark (max ts − 1 h) passed ever emit. */
  val stTrendingSql: String =
    """WITH c AS (
      |  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h, user_id,
      |    count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |wm AS (
      |  SELECT max(CAST(ts AS TIMESTAMP)) - INTERVAL 1 HOUR AS w FROM events)
      |SELECT epoch_us(h) AS window_start_us, user_id, n, rk
      |FROM (
      |  SELECT h, user_id, n,
      |    CAST(row_number() OVER (PARTITION BY h ORDER BY n DESC, user_id ASC)
      |      AS BIGINT) AS rk
      |  FROM c) t, wm
      |WHERE rk <= 3 AND h + INTERVAL 1 HOUR <= w""".stripMargin

  // ---- histogram-sketch quantiles in streaming state -----------------------

  /** The histogram quantile sketch maintained IN streaming state —
    * `ev_quantile_sketch`'s live form and the quantile member of the
    * sketch-under-the-state-store family (st_hll_users, st_minhash_dedup):
    * the state is ≤256 bin counters per event type (bounded forever,
    * order/partition/micro-batch-invariant SUMS), and the quantile
    * estimate is the read-time view over the drained sketch (exactly how a
    * serving layer reads a stored sketch — the annTopK post-drain
    * pattern). Estimates hash-match the batch sketch bit-for-bit because
    * every stage is exact-integer math plus one final division. */
  def stQuantileSketch(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val W = org.apache.spark.sql.expressions.Window
    val bins = runToTable(spark, sfDir, OutputMode.Complete()) { src =>
      src.select(col("event_type"),
          least(lit(255L), greatest(lit(0L), floor(col("value") / 4).cast("long")))
            .as("bin"))
        .groupBy(col("event_type"), col("bin"))
        .agg(count(lit(1)).as("cnt"))
    }
    val wCum = W.partitionBy(col("event_type")).orderBy(col("bin"))
      .rowsBetween(W.unboundedPreceding, 0)
    val cumd = bins
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("n", sum(col("cnt")).over(W.partitionBy(col("event_type"))))
      .withColumn("cum_prev", col("cum") - col("cnt"))
    val ps = graft.events.EventOps.sketchQuantiles.toDF("p", "num", "den")
    cumd.crossJoin(broadcast(ps))
      .withColumn("rank", expr("(num * n + den - 1) DIV den"))
      .filter(col("cum") >= col("rank") && col("cum_prev") < col("rank"))
      .select(col("event_type"), col("p"), col("n"),
        round(col("bin") * 4 +
          lit(4.0) * (col("rank") - col("cum_prev")) / col("cnt"), 6).as("est"))
  }

  /** Oracle: the batch sketch SQL verbatim — state-store maintenance must
    * not change a single bin. */
  val stQuantileSketchSql: String = graft.events.EventOps.quantileSketchSql

  // ---- stream-stream interval join ----------------------------------------

  /** Stream-stream inner join with event-time bounds: signups joined to the
    * same user's purchases within 2 hours — the streaming conversion
    * attribution every funnel pipeline runs. Both sides carry watermarks and
    * the join predicate carries the time interval, so state on each side is
    * BOUNDED: Spark drops buffered rows once the other side's watermark
    * passes the interval (state O(rate × window), not O(stream)). The
    * harness's single batch makes the result identical to the relational
    * join the oracle runs. */
  def streamJoin(spark: SparkSession, sfDir: String): DataFrame =
    // r10 OPT (guide §1.2): after the data batch, the engine runs one more
    // NO-DATA micro-batch because the watermark advanced — for this INNER
    // interval join that batch can only EVICT buffered state (inner-join
    // output is emitted in the batch that matches it; a no-data batch has
    // no new rows to match), yet it re-plans and re-executes the full
    // stateful-join operator (~1 s measured, ⅓ of the row). The query
    // stops right after, so eviction work is discarded either way. Scoped
    // to THIS query only: st_trending's no-data batch EMITS its final
    // windows and keeps the default. Output rows are identical (verified
    // against the unchanged oracle).
    withConf(spark, "spark.sql.streaming.noDataMicroBatches.enabled", "false") {
    runToTable(spark, sfDir, OutputMode.Append()) { src =>
      val signups = src.filter(col("event_type") === "signup")
        .select(col("event_id").as("s_id"), col("user_id").as("s_user"),
          col("ts").as("s_ts"))
        .withWatermark("s_ts", "1 hour")
      val purchases = src.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
          col("ts").as("p_ts"))
        .withWatermark("p_ts", "1 hour")
      signups.join(purchases,
          col("s_user") === col("p_user") &&
            col("p_ts") >= col("s_ts") &&
            col("p_ts") <= col("s_ts") + expr("INTERVAL 2 HOURS"))
        .select(col("s_id"), col("p_id"), col("s_user").as("user_id"),
          (unix_micros(col("p_ts")) - unix_micros(col("s_ts"))).as("delay_us"))
    }
    }

  val streamJoinSql: String =
    """SELECT s.event_id AS s_id, p.event_id AS p_id, s.user_id,
      |  epoch_us(CAST(p.ts AS TIMESTAMP)) - epoch_us(CAST(s.ts AS TIMESTAMP)) AS delay_us
      |FROM events s JOIN events p
      |  ON s.user_id = p.user_id
      | AND s.event_type = 'signup' AND p.event_type = 'purchase'
      | AND CAST(p.ts AS TIMESTAMP) >= CAST(s.ts AS TIMESTAMP)
      | AND CAST(p.ts AS TIMESTAMP) <= CAST(s.ts AS TIMESTAMP) + INTERVAL 2 HOUR""".stripMargin

  // ---- streaming rate-anomaly detection -----------------------------------

  final case class SpikeEvent(event_type: String, ts_us: Long)
  final case class SpikeBucket(minute_epoch: Long, n: Long)
  final case class SpikeState(ring: List[SpikeBucket], pending: Option[SpikeBucket])
  final case class SpikeOut(event_type: String, minute_epoch: Long,
    n_events: Long, z: Option[Double], verdict: String)

  /** The pure per-key state transition behind [[stSpike]]: fold this
    * batch's (minute, count) buckets through the state. A bucket is OPEN
    * until a later minute arrives for the key — it sits in `pending` and
    * absorbs same-minute counts from later micro-batches (a batch boundary
    * inside a minute must not emit a half-counted verdict or double-enter
    * the ring). Closing a bucket emits its verdict (exact BigInt variance,
    * the same integer identity as the batch
    * [[graft.events.EventOps.spikes]], Spark-round-compatible HALF_UP
    * rounding) and pushes it into the trailing ring. State is the ring
    * (≤ `spikeWindow` entries) + one pending bucket — the per-key bound.
    * Pre-pending out-of-order buckets are dropped (a real deployment sets
    * a watermark; the sources here are event-time ordered). */
  def spikeFold(eventType: String, prior: SpikeState,
      buckets: Seq[SpikeBucket]): (Seq[SpikeOut], SpikeState) = {
    val win = graft.events.EventOps.spikeWindow
    val out = Vector.newBuilder[SpikeOut]
    var ring = prior.ring
    var pending = prior.pending

    def close(b: SpikeBucket): Unit = {
      if (ring.length == win) {
        val s1 = ring.iterator.map(x => BigInt(x.n)).sum
        val s2 = ring.iterator.map(x => BigInt(x.n) * BigInt(x.n)).sum
        val num = BigInt(win) * s2 - s1 * s1
        val z =
          if (num > 0)
            Some(BigDecimal((b.n.toDouble - s1.toDouble / win) /
              math.sqrt(num.toDouble / (win * (win - 1))))
              .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
          else None
        val verdict =
          if (z.exists(v => math.abs(v) >= graft.events.EventOps.spikeZ)) "spike"
          else if (num == 0 && BigInt(b.n) * win != s1) "spike"
          else "ok"
        out += SpikeOut(eventType, b.minute_epoch, b.n, z, verdict)
      }
      ring = (ring :+ b).takeRight(win)
    }

    buckets.foreach { b =>
      pending match {
        case None => pending = Some(b)
        case Some(p) if b.minute_epoch == p.minute_epoch =>
          pending = Some(p.copy(n = p.n + b.n))
        case Some(p) if b.minute_epoch > p.minute_epoch =>
          close(p); pending = Some(b)
        case Some(_) => // older than the open bucket: late beyond tolerance
      }
    }
    (out.result(), SpikeState(ring, pending))
  }

  /** Streaming form of ev_spike — the live "is something unusual happening"
    * alarm (the reference watches its stream by eyeballing throughput;
    * status.rs only detects SILENCE). Keyed by event_type, the state is the
    * trailing `spikeWindow` bucket counts plus the one OPEN bucket — a
    * fixed-size ring per key, O(types · window) regardless of corpus age.
    * A minute emits its verdict only once CLOSED (a later minute arrived
    * for the key), so a micro-batch boundary inside a minute can neither
    * emit a half-counted verdict nor double-enter the ring —
    * [[spikeFold]]'s split-invariance property (spec'd down to mid-bucket
    * splits) is what makes the emission equal to the batch replay across
    * any boundary placement. The oracle is the batch spikes SQL minus each
    * type's final bucket (still open at stream end — never emitted). */
  def stSpike(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    runToTable(spark, sfDir, OutputMode.Append()) { src =>
      src.select(col("event_type"), col("ts_us")).as[SpikeEvent]
        .groupByKey(_.event_type)
        .flatMapGroupsWithState[SpikeState, SpikeOut](
          OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
          case (etype, events, state) =>
            val buckets = events
              .foldLeft(Map.empty[Long, Long]) { (m, e) =>
                val minute = e.ts_us / 60000000L
                m.updated(minute, m.getOrElse(minute, 0L) + 1L)
              }
              .toSeq.sortBy(_._1)
              .map { case (minute, n) => SpikeBucket(minute * 60L, n) }
            val prior = if (state.exists) state.get else SpikeState(Nil, None)
            val (rows, next) = spikeFold(etype, prior, buckets)
            state.update(next)
            rows.iterator
        }.toDF()
    }
  }

  val stSpikeSql: String =
    s"""WITH base AS (${graft.events.EventOps.spikesSql}),
       |last_min AS (
       |  SELECT event_type,
       |    max(CAST(epoch(date_trunc('minute', CAST(ts AS TIMESTAMP))) AS BIGINT)) AS lm
       |  FROM events GROUP BY 1)
       |SELECT base.* FROM base JOIN last_min USING (event_type)
       |WHERE minute_epoch < lm""".stripMargin

  // ---- streaming SCD2 dim maintenance -------------------------------------

  final case class Scd2Event(user_id: Long, ts_us: Long, tier: Long)
  final case class Scd2State(tier: Long, valid_from_us: Long)
  final case class Scd2Out(user_id: Long, tier: Long,
    valid_from_us: Long, valid_to_us: Long)

  /** Per-key CDC fold: a tier change CLOSES the open version (emit) and
    * opens the next; same-tier events collapse into the open version. The
    * state is one (tier, valid_from) per key — O(keys) forever. Pure and
    * split-invariant by construction (each event folds through the carried
    * state), so micro-batch boundaries can't split or duplicate a version. */
  def scd2Fold(userId: Long, prior: Option[Scd2State],
      events: Seq[Scd2Event]): (Seq[Scd2Out], Option[Scd2State]) = {
    val out = Vector.newBuilder[Scd2Out]
    var open = prior
    events.foreach { e =>
      open match {
        case None => open = Some(Scd2State(e.tier, e.ts_us))
        case Some(o) if o.tier != e.tier =>
          out += Scd2Out(userId, o.tier, o.valid_from_us, e.ts_us)
          open = Some(Scd2State(e.tier, e.ts_us))
        case Some(_) => // same tier: the open version absorbs it
      }
    }
    (out.result(), open)
  }

  /** Streaming form of q_scd2 — dim maintenance on the live change stream:
    * each closed validity interval is emitted the moment its successor
    * version arrives; the OPEN version per key stays in state and is never
    * emitted (append mode can't retract). The oracle is the batch q_scd2
    * minus its null-valid_to rows — exactly the open versions. Events sort
    * by (ts, tier) within the batch group, matching the batch window's
    * deterministic tie-break. */
  def stScd2(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    runToTable(spark, sfDir, OutputMode.Append()) { src =>
      src.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts_us"),
          floor(col("value") / 100).cast("long").as("tier"))
        .as[Scd2Event]
        .groupByKey(_.user_id)
        .flatMapGroupsWithState[Scd2State, Scd2Out](
          OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
          case (uid, events, state) =>
            val sorted = events.toSeq.sortBy(e => (e.ts_us, e.tier))
            val prior = if (state.exists) Some(state.get) else None
            val (rows, next) = scd2Fold(uid, prior, sorted)
            next.foreach(state.update)
            rows.iterator
        }.toDF()
    }
  }

  val stScd2Sql: String =
    s"""SELECT user_id, tier, valid_from_us, valid_to_us
       |FROM (${graft.relational.Relational.qScd2Sql})
       |WHERE valid_to_us IS NOT NULL""".stripMargin

  // ---- streaming CDC apply (change journal with pre-images) ---------------

  final case class CdcEvent(user_id: Long, ts_us: Long, event_id: Long, v: Long)
  final case class CdcState(value: Long) // -1 = absent / deleted
  final case class CdcOut(user_id: Long, ts_us: Long, event_id: Long,
    op: String, before_value: Long, after_value: Long)

  /** Per-key CDC apply fold: each op lands on the carried current value and
    * emits a (before, after) image — the Debezium-shaped change journal.
    * Ops derive deterministically from the payload (`v % 10 == 0` →
    * delete/tombstone, else last-write-wins upsert). State is ONE value per
    * key — O(keys) forever. Pure and split-invariant by construction. */
  def cdcFold(userId: Long, prior: Option[CdcState],
      events: Seq[CdcEvent]): (Seq[CdcOut], Option[CdcState]) = {
    if (events.isEmpty) return (Seq.empty, prior) // identity on empty batch
    var cur = prior.map(_.value).getOrElse(-1L)
    val out = events.map { e =>
      val isDelete = e.v % 10 == 0
      val after = if (isDelete) -1L else e.v
      val row = CdcOut(userId, e.ts_us, e.event_id,
        if (isDelete) "delete" else "upsert", cur, after)
      cur = after
      row
    }
    (out, Some(CdcState(cur)))
  }

  /** Streaming CDC apply over the purchase stream: the current-state table
    * lives in O(keys) state; the emitted journal rows carry pre-images, so
    * a downstream can both audit and reconstruct state at any point. The
    * batch oracle replays the same journal with a lag window over the
    * global (ts, event_id) order. */
  def stCdc(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    runToTable(spark, sfDir, OutputMode.Append()) { src =>
      src.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts_us"), col("event_id"),
          floor(col("value")).cast("long").as("v"))
        .as[CdcEvent]
        .groupByKey(_.user_id)
        .flatMapGroupsWithState[CdcState, CdcOut](
          OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
          case (uid, events, state) =>
            val sorted = events.toSeq.sortBy(e => (e.ts_us, e.event_id))
            val prior = if (state.exists) Some(state.get) else None
            val (rows, next) = cdcFold(uid, prior, sorted)
            next.foreach(state.update)
            rows.iterator
        }.toDF()
    }
  }

  val stCdcSql: String =
    """WITH pe AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_id,
      |    CAST(floor(value) AS BIGINT) AS v
      |  FROM events WHERE event_type = 'purchase'),
      |j AS (
      |  SELECT user_id, ts_us, event_id,
      |    CASE WHEN v % 10 = 0 THEN 'delete' ELSE 'upsert' END AS op,
      |    CASE WHEN v % 10 = 0 THEN -1 ELSE v END AS after_value
      |  FROM pe)
      |SELECT user_id, ts_us, event_id, op,
      |  coalesce(lag(after_value) OVER (PARTITION BY user_id
      |    ORDER BY ts_us ASC, event_id ASC), -1) AS before_value,
      |  after_value
      |FROM j""".stripMargin

  // ---- streaming heavy hitters (Misra–Gries under the state store) ---------

  /** Streaming frequent-key detection — ev_heavy_hitters' live form and the
    * production pairing: a LIVE Misra–Gries summary per event_type under
    * the state store (Complete-mode agg; state = the sketch's O(k) buffer
    * per type, partial-merged across micro-batches by the same
    * mergeable-summary construction the batch path uses), handed to a
    * periodic EXACT confirm. The sketch's candidate SET is merge-order-
    * dependent (a superset of the true heavies, never more than k per
    * type); determinism comes from the confirm pass — candidates are
    * broadcast back over the corpus, non-candidates collapse into one
    * sentinel bucket (so the scan still yields per-type totals in the SAME
    * single aggregation, ≤k+1 keys per type), and the exact threshold
    * cnt·(k+1) > n keeps precisely the true heavy set whatever superset
    * the sketch emitted. Shuffle volume O(types·k·tasks) end to end. */
  def stHeavyHitters(spark: SparkSession, sfDir: String): DataFrame = {
    val k = graft.events.EventOps.hhK
    val sketch = runToTable(spark, sfDir, OutputMode.Complete()) { src =>
      src.select(col("event_type"), floor(col("value")).cast("long").as("bucket"))
        .groupBy(col("event_type"))
        .agg(graft.plans.MisraGries.candidates(col("bucket"), k).as("cands"))
    }
    val candDim = sketch
      .select(col("event_type").as("ct"), explode(col("cands")).as("cb"))
      .withColumn("is_cand", lit(true))
    val ev = graft.Tables(spark, sfDir).events
      .select(col("event_type"), floor(col("value")).cast("long").as("bucket"))
    val counts = ev
      .join(broadcast(candDim),
        col("event_type") === col("ct") && col("bucket") === col("cb"), "left_outer")
      .select(col("event_type"),
        when(col("is_cand"), col("bucket")).otherwise(lit(-1L)).as("bucket"))
      .groupBy(col("event_type"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("event_type"))
    counts
      .withColumn("n", sum(col("cnt")).over(w))
      .filter(col("bucket") >= 0 && col("cnt") * lit(k + 1L) > col("n"))
      .select(col("event_type"), col("bucket"), col("cnt"),
        round(col("cnt").cast("double") / col("n"), 6).as("share"))
  }

  val stHeavyHittersSql: String = {
    val k = graft.events.EventOps.hhK
    s"""WITH b AS (
       |  SELECT event_type, CAST(floor(value) AS BIGINT) AS bucket FROM events),
       |c AS (SELECT event_type, bucket, count(*) AS cnt FROM b GROUP BY 1, 2),
       |t AS (SELECT event_type, count(*) AS n FROM b GROUP BY 1)
       |SELECT c.event_type, bucket, cnt,
       |  round(CAST(cnt AS DOUBLE) / n, 6) AS share
       |FROM c JOIN t ON c.event_type = t.event_type
       |WHERE cnt * ${k + 1} > n""".stripMargin
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "st_heavy_hitters" -> (stHeavyHitters _),
    "st_cdc" -> (stCdc _),
    "st_scd2" -> (stScd2 _),
    "st_spike" -> (stSpike _),
    "st_hll_users" -> (hllUsers _),
    "st_theta_kmv" -> (thetaKmv _),
    "st_cusum" -> (cusumLive _),
    "st_drift" -> (driftLive _),
    "st_chi2_drift" -> (chi2DriftLive _),
    "st_forecast" -> (forecastLive _),
    "st_growth" -> (growthLive _),
    "st_hw_forecast" -> (hwForecastLive _),
    "st_series_sim" -> (seriesSimLive _),
    "st_series_lsh" -> (seriesLshLive _),
    "st_seasonality" -> (seasonalityLive _),
    "st_anomaly_mad" -> (anomalyMadLive _),
    "st_error_budget" -> (errorBudgetLive _),
    "st_xcorr" -> (xcorrLive _),
    "st_temporal_join" -> (temporalJoinLive _),
    "st_session_native" -> (sessionNative _),
    "st_funnel" -> (funnel _),
    "st_pattern" -> (stPattern _),
    "st_bitmap" -> (stBitmap _),
    "st_stream_join" -> (streamJoin _),
    "st_minhash_dedup" -> (minhashDedup _),
    "st_reservoir" -> (stReservoir _),
    "st_ann_topk" -> (annTopK _),
    "st_pipeline" -> (pipeline _),
    "st_window_counts" -> (windowCounts _),
    "st_window_sliding" -> (windowSliding _),
    "st_sessionize" -> (sessionize _),
    "st_dedup" -> (streamDedup _),
    "st_gapfill" -> (stGapfill _),
    "st_rate_limit" -> (rateLimit _),
    "st_silence" -> (silence _),
    "st_geo_velocity" -> (stGeoVelocity _),
    "st_quantile_sketch" -> (stQuantileSketch _),
    "st_trending" -> (stTrending _),
    "st_seen_state" -> (seenState _))

  def oracleSql: Map[String, String] = Map(
    "st_heavy_hitters" -> stHeavyHittersSql,
    "st_cdc" -> stCdcSql,
    "st_scd2" -> stScd2Sql,
    "st_spike" -> stSpikeSql,
    "st_hll_users" -> hllUsersSql,
    "st_theta_kmv" -> thetaKmvSql,
    "st_cusum" -> stCusumSql,
    "st_drift" -> stDriftSql,
    "st_chi2_drift" -> stChi2DriftSql,
    "st_forecast" -> stForecastSql,
    "st_growth" -> stGrowthSql,
    "st_hw_forecast" -> stHwForecastSql,
    "st_series_sim" -> stSeriesSimSql,
    "st_series_lsh" -> stSeriesLshSql,
    "st_seasonality" -> stSeasonalitySql,
    "st_anomaly_mad" -> stAnomalyMadSql,
    "st_error_budget" -> stErrorBudgetSql,
    "st_xcorr" -> stXcorrSql,
    "st_temporal_join" -> stTemporalJoinSql,
    "st_session_native" -> sessionNativeSql,
    "st_funnel" -> funnelSql,
    "st_pattern" -> stPatternSql,
    "st_bitmap" -> stBitmapSql,
    "st_stream_join" -> streamJoinSql,
    "st_minhash_dedup" -> minhashDedupSql,
    "st_reservoir" -> stReservoirSql,
    "st_ann_topk" -> annTopKSql,
    "st_pipeline" -> pipelineSql,
    "st_window_counts" -> windowCountsSql,
    "st_window_sliding" -> windowSlidingSql,
    "st_sessionize" -> sessionizeSql,
    "st_dedup" -> streamDedupSql,
    "st_gapfill" -> stGapfillSql,
    "st_rate_limit" -> rateLimitSql,
    "st_silence" -> silenceSql,
    "st_geo_velocity" -> stGeoVelocitySql,
    "st_quantile_sketch" -> stQuantileSketchSql,
    "st_trending" -> stTrendingSql,
    "st_seen_state" -> seenStateSql)
}
