package graft.streaming

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Effectively-once action dispatch — the reference's rule-action firing
  * (rules.rs:286-331: matched signup → mod-API endpoint call, optionally
  * delayed) as a restart-safe step of a `foreachBatch` sink
  * ([[DelayedDispatcher]], which GraftApp runs on every micro-batch).
  *
  * Structured Streaming's `foreachBatch` is at-least-once across restarts:
  * a batch that dispatched but crashed before the commit re-runs. The
  * dispatcher makes the side effect idempotent the standard way — an
  * append-only dispatch log keyed by (event_id, rule_name). A dispatcher's
  * first batch, which may be a replay, is anti-joined against the log
  * ([[undispatched]]); every later batch is checked against the keys the
  * dispatcher holds or fired within [[MaxHoldUs]] of its clock. Either way
  * replays of LOGGED rows are no-ops. The remaining
  * window is a crash BETWEEN `act` and the log append: that batch's fresh
  * rows re-dispatch once on restart (dispatch-then-log keeps at-least-once
  * — the reference's mod-API calls are idempotent bans/marks, where a
  * duplicate POST is harmless and a LOST one is not; logging first would
  * invert that into at-most-once). The log
  * carries `batch_id` as the audit trail the reference keeps implicitly in
  * Zulip history.
  *
  * `act` stands in for the HTTP call (the reference's POST to the mod API);
  * it receives only rows never dispatched before.
  */
object ActionSink {

  /** Deterministic analog of the reference's randomized action delay
    * (eventhandler.rs:115: `thread_rng().gen_range(30..100) * 1000` ms,
    * drawn ONCE per event and shared by every action that event fires;
    * +1500 ms when the action is `close`, eventhandler.rs:174-178; no delay
    * at all when the rule sets no_delay or the action is not one of
    * engine/boost/ipban/close, eventhandler.rs:167-172). A hash of the
    * event id replaces the RNG draw so restarts, replays, and the oracle
    * all see the same deadline — same [30,100) s distribution, zero state. */
  def actionDelayUs(eventId: Column, action: Column, noDelay: Column): Column =
    when(noDelay ||
        !action.isInCollection(Seq("engine", "boost", "ipban", "close")), lit(0L))
      .otherwise(
        (lit(30L) + pmod(xxhash64(eventId), lit(70L))) * lit(1000000L) +
          when(action === "close", lit(1500000L)).otherwise(lit(0L)))

  /** The longest hold [[actionDelayUs]] gives: (30 + 69) s, +1.5 s for
    * `close`. It bounds how long a [[DelayedDispatcher]] remembers a key. */
  val MaxHoldUs: Long = (30L + 69L) * 1000000L + 1500000L

  /** Rows of `batch` not yet in the dispatch log (dedup within the batch,
    * then anti-join against the log). Only a genuinely ABSENT log means
    * "everything is fresh" — a transient read failure (IO error, corrupt
    * footer) must propagate, not silently re-arm every past action. */
  def undispatched(spark: SparkSession, batch: DataFrame, logDir: String): DataFrame = {
    val deduped = batch.dropDuplicates("event_id", "rule_name")
    val path = new org.apache.hadoop.fs.Path(logDir)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(path)) return deduped // no log yet: everything is fresh
    // the log holds rows of this shape: a known schema skips the footer scan
    val logged = spark.read.schema(StructType(Seq(batch.schema("event_id"),
      batch.schema("rule_name")))).parquet(logDir)
    deduped.join(logged, Seq("event_id", "rule_name"), "left_anti")
  }
}

/** One query's delayed effectively-once dispatch (GraftApp builds one per
  * start). Each row is acted on once the batch clock (the largest `nowUs`
  * passed so far; GraftApp passes the time its batch stamped on every signup)
  * reaches its `due_us` deadline (= ts_us + [[ActionSink.actionDelayUs]]):
  * this executes the reference's randomized hold (eventhandler.rs:180-186
  * sleeps the spawned action task) without parking threads. Rows already due
  * are acted on in the batch that matched them. Later ones wait in memory
  * until a batch's clock passes their deadline, and are appended to the
  * pending log when they are held, so an action with an unreached deadline
  * survives a crash, as in the reference. `act` runs before the log append.
  *
  * Dedup happens when a row is matched: a row whose key (event_id,
  * rule_name) is already held, or fired within [[ActionSink.MaxHoldUs]] of
  * the clock, is dropped, as is a second copy within its batch. A fired key
  * is stamped with the clock it fired at, so an identical signup (same
  * `event_id`) is acted on again only when it is matched more than that
  * horizon after the first one fired, as the reference's in-memory
  * bookkeeping allows. This dedup runs in the driver and starts no job.
  *
  * Only a dispatcher's first batch reads the logs. It seeds the held rows
  * from the pending rows not yet in the dispatch log, stamps the dispatch
  * log's keys whose `ts_us` is within the horizon with that `ts_us` (a lower
  * bound of when they fired), and anti-joins the batch against the whole
  * dispatch log ([[ActionSink.undispatched]]), since it may be a restart's
  * replay stamped with fresh, arbitrarily later `ts_us`; a replayed copy of a
  * held row is dropped as held. So a restart (or a fresh query on the same
  * directories) neither fires a held row early or twice nor loses one. With
  * neither log present it reads nothing. Not thread-safe: a query calls
  * [[dispatch]] from one thread, and a failed call fails its query, so a
  * dispatcher never outlives a failed batch. */
final class DelayedDispatcher(spark: SparkSession, pendingDir: String, logDir: String) {
  private var started = false
  private var clockUs = Long.MinValue // the largest nowUs so far
  /** (event_id, rule_name) → the row, for rows whose deadline the clock has not reached */
  private val held = mutable.HashMap.empty[(Long, String), Row]
  /** (event_id, rule_name) → the clock it fired at, for keys fired within the horizon */
  private val fired = mutable.HashMap.empty[(Long, String), Long]

  private def exists(dir: String): Boolean = {
    val path = new org.apache.hadoop.fs.Path(dir)
    path.getFileSystem(spark.sessionState.newHadoopConf()).exists(path)
  }

  /** Act on `batch`'s due rows and the held rows that `nowUs` makes due. */
  def dispatch(batch: DataFrame, batchId: Long, nowUs: Long)(act: DataFrame => Unit): Unit = {
    val schema = batch.schema
    def local(rows: Seq[Row]): DataFrame = spark.createDataFrame(rows.asJava, schema)
    val (idIdx, ruleIdx) = (schema.fieldIndex("event_id"), schema.fieldIndex("rule_name"))
    val dueIdx = schema.fieldIndex("due_us")
    def key(r: Row) = (r.getLong(idIdx), r.getString(ruleIdx))
    clockUs = math.max(clockUs, nowUs)
    val horizonUs = clockUs - ActionSink.MaxHoldUs
    // one collect of the matches: the source's trigger window bounds them
    val rows =
      if (started) batch.collect().toSeq
      else {
        if (exists(pendingDir))
          ActionSink.undispatched(spark, spark.read.schema(schema).parquet(pendingDir), logDir)
            .collect().foreach(r => held(key(r)) = r)
        if (!exists(logDir)) batch.collect().toSeq
        else {
          spark.read.schema(StructType(Seq("event_id", "rule_name", "ts_us").map(schema(_))))
            .parquet(logDir).filter(col("ts_us") >= horizonUs).collect()
            .foreach(r => fired((r.getLong(0), r.getString(1))) = r.getLong(2))
          ActionSink.undispatched(spark, batch, logDir).collect().toSeq
        }
      }
    started = true
    fired.filterInPlace((_, atUs) => atUs >= horizonUs)
    val (dueNow, later) = rows.distinctBy(key)
      .filterNot(r => held.contains(key(r)) || fired.contains(key(r)))
      .partition(_.getLong(dueIdx) <= clockUs)
    if (later.nonEmpty) {
      local(later).coalesce(1).write.mode("append").parquet(pendingDir)
      later.foreach(r => held(key(r)) = r)
    }
    val fresh = dueNow ++ held.values.filter(_.getLong(dueIdx) <= clockUs)
    if (fresh.nonEmpty) {
      act(local(fresh))
      local(fresh).coalesce(1).withColumn("batch_id", lit(batchId))
        .write.mode("append").parquet(logDir)
      fresh.foreach { r => held -= key(r); fired(key(r)) = clockUs }
    }
  }
}
