package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Effectively-once action dispatch — the reference's rule-action firing
  * (rules.rs:286-331: matched signup → mod-API endpoint call, optionally
  * delayed) as a restart-safe Spark sink.
  *
  * Structured Streaming's `foreachBatch` is at-least-once across restarts:
  * a batch that dispatched but crashed before the commit re-runs. The
  * dispatcher makes the side effect idempotent the standard way — an
  * append-only dispatch log keyed by (event_id, rule_name); each batch
  * anti-joins the log before acting, so replays of LOGGED rows are no-ops.
  * The remaining window is a crash BETWEEN `act` and the log append: that
  * batch's fresh rows re-dispatch once on restart (dispatch-then-log keeps
  * at-least-once — the reference's mod-API calls are idempotent bans/marks,
  * where a duplicate POST is harmless and a LOST one is not; logging first
  * would invert that into at-most-once). The log carries `batch_id` as the
  * audit trail the reference keeps implicitly in Zulip history.
  *
  * `act` stands in for the HTTP call (the reference's POST to the mod API);
  * it receives only rows never dispatched before.
  */
object ActionSink {

  def dispatch(spark: SparkSession, matched: DataFrame, logDir: String,
      checkpointDir: String)(act: DataFrame => Unit): StreamingQuery =
    matched.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val fresh = undispatched(spark, batch, logDir)
          .persist() // evaluated twice: act + log append
        try {
          act(fresh)
          fresh.withColumn("batch_id", lit(batchId))
            .write.mode("append").parquet(logDir)
        } finally fresh.unpersist()
        ()
      }
      .start()

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

  /** Delayed effectively-once dispatch: rows are STAGED on arrival and only
    * acted on once the event-time clock (max `ts_us` staged so far — the
    * stream's own watermark) passes their `due_us` deadline. This executes
    * the reference's randomized hold (eventhandler.rs:180-186 sleeps the
    * spawned action task) without parking threads: at 100 TB the pending
    * set is a partitioned parquet log and each micro-batch does one
    * bounded anti-join + one due-filter, both pushed to the scan.
    *
    * `matched` must carry `event_id`, `rule_name`, `ts_us`, and `due_us`
    * (= ts_us + [[actionDelayUs]]). Like the reference, an action with an
    * unreached deadline survives a crash: it is re-staged from the pending
    * log, not lost with the process. A tail event whose deadline no later
    * event ever passes dispatches on the next batch after one arrives —
    * the event-time clock is the batch analog of wall-clock sleeping. */
  def dispatchDelayed(spark: SparkSession, matched: DataFrame, pendingDir: String,
      logDir: String, checkpointDir: String)(act: DataFrame => Unit): StreamingQuery =
    matched.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        dispatchDelayedBatch(spark, batch, batchId, pendingDir, logDir)(act)
      }
      .start()

  /** One micro-batch of the delayed dispatch — exposed so a composition
    * that must recompute per-batch state FIRST (GraftApp reloads the rule
    * dim inside its own foreachBatch — a stream-static join would pin the
    * rules file listing at plan time, the RecoverySpec finding) can reuse
    * the staging/clock/dispatch contract verbatim. */
  def dispatchDelayedBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
      pendingDir: String, logDir: String)(act: DataFrame => Unit): Unit = {
    // stage fresh rows (replay-idempotent: anti-join the pending log)
    undispatched(spark, batch, pendingDir).write.mode("append").parquet(pendingDir)
    val pending = spark.read.parquet(pendingDir)
    val clockRow = pending.agg(max(col("ts_us"))).head()
    if (!clockRow.isNullAt(0)) { // an all-empty pending log has no clock yet
      val due = pending.filter(col("due_us") <= clockRow.getLong(0))
      val fresh = undispatched(spark, due, logDir)
        .persist() // evaluated twice: act + log append
      try {
        act(fresh)
        fresh.withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(logDir)
      } finally fresh.unpersist()
    }
    ()
  }

  /** Rows of `batch` not yet in the dispatch log (dedup within the batch,
    * then anti-join against the log). Only a genuinely ABSENT log means
    * "everything is fresh" — a transient read failure (IO error, corrupt
    * footer) must propagate, not silently re-arm every past action. */
  def undispatched(spark: SparkSession, batch: DataFrame, logDir: String): DataFrame = {
    val deduped = batch.dropDuplicates("event_id", "rule_name")
    val path = new org.apache.hadoop.fs.Path(logDir)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(path)) return deduped // no log yet: everything is fresh
    val logged = spark.read.parquet(logDir).select(col("event_id"), col("rule_name"))
    deduped.join(logged, Seq("event_id", "rule_name"), "left_anti")
  }
}
