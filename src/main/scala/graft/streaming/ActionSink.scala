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
  * append-only dispatch log keyed by (event_id, rule_name). A replayed or
  * read-back batch is anti-joined against the log ([[undispatched]]); a
  * steady batch is checked against the dispatcher's cache of the keys it
  * logged within [[MaxHoldUs]] of its clock. Either way replays of LOGGED
  * rows are no-ops. The remaining window is a crash BETWEEN `act`
  * and the log append: that batch's fresh rows re-dispatch once on restart
  * (dispatch-then-log keeps at-least-once — the reference's mod-API calls
  * are idempotent bans/marks, where a duplicate POST is harmless and a LOST
  * one is not; logging first would invert that into at-most-once). The log
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
  * start). Each row is acted on once the event-time clock (max `ts_us`
  * matched so far — the stream's own watermark) reaches its `due_us`
  * deadline (= ts_us + [[ActionSink.actionDelayUs]]): this executes the
  * reference's randomized hold (eventhandler.rs:180-186 sleeps the spawned
  * action task) without parking threads. Rows already due are acted on in
  * the batch that matched them; only later ones are appended to the pending
  * log, and that log is read back only once its earliest deadline is due.
  * Like the reference, an action with an unreached deadline survives a
  * crash: it is held in the pending log, not lost with the process. A tail
  * event whose deadline no later event ever passes dispatches on the next
  * batch after one arrives. `act` runs before the log append.
  *
  * Dedup has two paths. A steady batch dedups its due rows in memory,
  * within the batch and then against the keys this dispatcher logged whose
  * `ts_us` is at most [[ActionSink.MaxHoldUs]] behind the clock; it runs no
  * job for this. So an identical signup (same `event_id`) that comes back
  * after that horizon is acted on again, as the reference's in-memory
  * bookkeeping does. Two kinds of batch anti-join the whole dispatch log
  * instead ([[ActionSink.undispatched]]): a dispatcher's first batch with
  * matches or held rows, when the dispatch log exists, since it may be a
  * restart's replay stamped with fresh, arbitrarily later `ts_us`; and any
  * batch that reads the pending log back, which returns every held row that
  * ever came due, long-fired ones included.
  *
  * The clock, the earliest pending deadline and the recent keys are a cache
  * of the logs: on its first batch a dispatcher seeds the first two from the
  * pending rows not yet in the dispatch log and the keys from the dispatch
  * log's recent rows, so a restart (or a fresh query on the same
  * directories) neither fires a held row early nor loses one. Not
  * thread-safe: a query calls [[dispatch]] from one thread, and a failed
  * call fails its query, so a dispatcher never outlives a failed batch. */
final class DelayedDispatcher(spark: SparkSession, pendingDir: String, logDir: String) {
  private var seeded = false
  private var clockUs = Long.MinValue // max ts_us matched so far
  private var nextDueUs = Long.MaxValue // earliest deadline held in pending/
  /** (event_id, rule_name) → `ts_us` of the logged keys within the horizon,
    * seeded from the dispatch log by the first batch that has a clock */
  private val logged = mutable.HashMap.empty[(Long, String), Long]
  private var keysSeeded = false

  private def exists(dir: String): Boolean = {
    val path = new org.apache.hadoop.fs.Path(dir)
    path.getFileSystem(spark.sessionState.newHadoopConf()).exists(path)
  }

  def dispatch(batch: DataFrame, batchId: Long)(act: DataFrame => Unit): Unit = {
    val schema = batch.schema
    def local(rows: Seq[Row]): DataFrame = spark.createDataFrame(rows.asJava, schema)
    def pending = spark.read.schema(schema).parquet(pendingDir)
    val (idIdx, ruleIdx) = (schema.fieldIndex("event_id"), schema.fieldIndex("rule_name"))
    val (tsIdx, dueIdx) = (schema.fieldIndex("ts_us"), schema.fieldIndex("due_us"))
    def key(r: Row) = (r.getLong(idIdx), r.getString(ruleIdx))
    if (!seeded) {
      if (exists(pendingDir)) {
        val held = ActionSink.undispatched(spark, pending, logDir)
          .agg(max(col("ts_us")), min(col("due_us"))).head()
        if (!held.isNullAt(0)) { clockUs = held.getLong(0); nextDueUs = held.getLong(1) }
      }
      seeded = true
    }
    // one collect of the matches: the source's trigger window bounds them
    val rows = batch.collect().toSeq
    rows.foreach(r => clockUs = math.max(clockUs, r.getLong(tsIdx)))
    if (clockUs == Long.MinValue) return // nothing matched or held yet
    val horizonUs = clockUs - ActionSink.MaxHoldUs
    // a first batch may be a replay of logged rows; with no log it is not
    val replayable = !keysSeeded && exists(logDir)
    if (replayable)
      spark.read.schema(StructType(Seq("event_id", "rule_name", "ts_us").map(schema(_))))
        .parquet(logDir).filter(col("ts_us") >= horizonUs).collect()
        .foreach(r => logged((r.getLong(0), r.getString(1))) = r.getLong(2))
    keysSeeded = true
    logged.filterInPlace((_, ts) => ts >= horizonUs)
    val (dueNow, later) = rows.partition(_.getLong(dueIdx) <= clockUs)
    if (later.nonEmpty) {
      local(later).coalesce(1).write.mode("append").parquet(pendingDir)
      nextDueUs = math.min(nextDueUs, later.map(_.getLong(dueIdx)).min)
    }
    val heldDue = nextDueUs <= clockUs
    if (dueNow.isEmpty && !heldDue) return
    val fresh =
      if (heldDue) {
        // a held deadline has passed: read the held rows back, and find the
        // next deadline among those still waiting
        val clock = clockUs
        val next = pending.filter(col("due_us") > clock).agg(min(col("due_us"))).head()
        nextDueUs = if (next.isNullAt(0)) Long.MaxValue else next.getLong(0)
        ActionSink.undispatched(spark,
          local(dueNow).unionByName(pending.filter(col("due_us") <= clock)), logDir)
          .collect().toSeq
      } else if (replayable) ActionSink.undispatched(spark, local(dueNow), logDir).collect().toSeq
      else dueNow.distinctBy(key).filterNot(r => logged.contains(key(r)))
    if (fresh.nonEmpty) {
      act(local(fresh))
      local(fresh).coalesce(1).withColumn("batch_id", lit(batchId))
        .write.mode("append").parquet(logDir)
      fresh.foreach(r => logged(key(r)) = r.getLong(tsIdx))
    }
  }
}
