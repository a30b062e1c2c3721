package graft.streaming

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

/** The reference's rule-action timing (rules.rs:286-331: matched signup →
  * mod-API endpoint call, optionally delayed), which [[DelayedDispatcher]]
  * executes as a restart-safe step of GraftApp's `foreachBatch` sink. */
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
}

/** One query's delayed effectively-once dispatch (GraftApp builds one per
  * start). Each row is acted on once the batch clock (the largest `nowUs`
  * passed so far; GraftApp passes the time its batch stamped on every signup)
  * reaches its `due_us` deadline (= ts_us + [[ActionSink.actionDelayUs]]):
  * this executes the reference's randomized hold (eventhandler.rs:180-186
  * sleeps the spawned action task) without parking threads. Rows already due
  * are acted on in the batch that matched them; later ones wait in memory
  * until a batch's clock passes their deadline. `act` stands in for the
  * reference's POST to the mod API and receives only rows to act on.
  *
  * Dedup happens when a row is matched: a row whose key (event_id,
  * rule_name) is already held, or fired within [[ActionSink.MaxHoldUs]] of
  * the clock, is dropped, as is a second copy within its batch. A fired key
  * is stamped with the clock it fired at, so an identical signup (same
  * `event_id`) is acted on again only when it is matched more than that
  * horizon after the first one fired, as the reference's in-memory
  * bookkeeping allows. This runs in the driver and starts no Spark job.
  *
  * Structured Streaming's `foreachBatch` is at-least-once: a batch that
  * acted but crashed before its commit re-runs on restart. Two logs, one
  * [[BatchJournal]] file per batch id, make that replay a no-op:
  *   - `pending/<batchId>`: the batch's held rows that have not fired yet,
  *     as JSON lines, written before `act` runs, then rewritten (or deleted)
  *     after `act` when some of them fire;
  *   - `dispatched/<batchId>`: the rows the batch fired, plus `batch_id` and
  *     `fired_us` (the clock they fired at), written after `act` (a replay
  *     writes the union of both runs' rows). It is the audit trail the
  *     reference keeps in Zulip history; `spark.read.json` reads it.
  * Only a dispatcher's first batch reads them: all of `pending/` (into the
  * held rows), its own `dispatched/` file (those keys count as fired,
  * whatever `ts_us` the replay carries), and the other `dispatched/` files,
  * newest first, up to the first one that fired wholly before the horizon.
  * Then it follows the rule above. A crash after `act` and before the logs
  * are written re-fires some of that batch's rows once on restart: acting
  * first keeps at-least-once (a duplicate ban or mark is harmless, a lost
  * one is not). Not thread-safe: a query calls [[dispatch]] from one thread,
  * and a failed call fails its query, so no dispatcher outlives a failed batch. */
final class DelayedDispatcher(spark: SparkSession, pendingDir: String, logDir: String) {
  private val pending = BatchJournal.open(pendingDir)
  private val logs = BatchJournal.open(logDir)
  private var started = false
  private var clockUs = Long.MinValue // the largest nowUs so far
  /** (event_id, rule_name) → (the batch that held it, the row), for rows not yet due */
  private val held = mutable.HashMap.empty[(Long, String), (Long, Row)]
  /** (event_id, rule_name) → the clock it fired at, for keys fired within the horizon */
  private val fired = mutable.HashMap.empty[(Long, String), Long]

  /** The rows of each of `journal`'s files `ids`, from one decode that gives
    * one row per line (a line that does not parse gives a row of nulls). */
  private def read(journal: BatchJournal, schema: StructType, ids: Seq[Long]): Seq[Seq[Row]] =
    if (ids.isEmpty) Nil
    else {
      import spark.implicits._
      // the JSON reader skips blank lines: drop them so rows line up with files
      val lines = ids.map(id => journal.readLines(id.toString).filterNot(_.isBlank))
      val rows = spark.read.schema(schema).json(lines.flatten.toDS()).collect()
      val ends = lines.scanLeft(0)(_ + _.size)
      ids.indices.map(i => rows.slice(ends(i), ends(i + 1)).toSeq)
    }

  /** Rewrite `pending/<batchId>` to the batch's rows still held, or delete it. */
  private def settle(batchId: Long): Unit = {
    val rows = held.values.collect { case (`batchId`, r) => r.json }
    if (rows.isEmpty) pending.delete(batchId.toString)
    else pending.writeAtomic(batchId.toString, rows.iterator)
  }

  /** Act on `batch`'s due rows and the held rows that `nowUs` makes due. */
  def dispatch(batch: DataFrame, batchId: Long, nowUs: Long)(act: DataFrame => Unit): Unit = {
    val schema = batch.schema
    val logSchema = schema.add("batch_id", LongType).add("fired_us", LongType)
    val (idIdx, ruleIdx) = (schema.fieldIndex("event_id"), schema.fieldIndex("rule_name"))
    val (dueIdx, firedIdx) = (schema.fieldIndex("due_us"), logSchema.fieldIndex("fired_us"))
    def key(r: Row) = (r.getLong(idIdx), r.getString(ruleIdx))
    clockUs = math.max(clockUs, nowUs)
    val horizonUs = clockUs - ActionSink.MaxHoldUs
    if (!started) {
      val ids = pending.names().flatMap(_.toLongOption)
      ids.zip(read(pending, schema, ids)).foreach { case (id, rows) =>
        rows.foreach(r => held(key(r)) = (id, r))
      }
      read(logs, logSchema, Seq(batchId).filter(id => logs.exists(id.toString)))
        .foreach(_.foreach(r => fired(key(r)) = clockUs))
      // the other files newest first, up to the first one with no row fired
      // within the horizon (an unparsable row has none); 1, 2, 4, … files per
      // decode, as each decode is a Spark job of tens of ms
      var older = logs.names().flatMap(_.toLongOption).filter(_ != batchId).sorted.reverse
      var n = 1
      while (older.nonEmpty) {
        val (chunk, rest) = older.splitAt(n)
        val within = read(logs, logSchema, chunk)
          .takeWhile(_.exists(r => !r.isNullAt(firedIdx) && r.getLong(firedIdx) >= horizonUs))
        within.foreach(_.foreach(r => fired(key(r)) = r.getLong(firedIdx)))
        older = if (within.size < chunk.size) Nil else rest
        n *= 2
      }
      started = true
    }
    fired.filterInPlace((_, atUs) => atUs >= horizonUs)
    // one collect of the matches: the source's trigger window bounds them
    val (dueNow, later) = batch.collect().toSeq.distinctBy(key)
      .filterNot(r => held.contains(key(r)) || fired.contains(key(r)))
      .partition(_.getLong(dueIdx) <= clockUs)
    if (later.nonEmpty) {
      later.foreach(r => held(key(r)) = (batchId, r))
      settle(batchId)
    }
    val heldDue = held.values.filter(_._2.getLong(dueIdx) <= clockUs).toSeq
    val fresh = dueNow ++ heldDue.map(_._2)
    if (fresh.nonEmpty) {
      act(spark.createDataFrame(fresh.asJava, schema))
      fresh.foreach { r => held -= key(r); fired(key(r)) = clockUs }
      heldDue.map(_._1).distinct.foreach(settle)
      val name = batchId.toString
      val prior = if (logs.exists(name)) logs.readLines(name) else Nil
      logs.writeAtomic(name, prior.iterator ++ fresh.iterator.map(r =>
        new GenericRowWithSchema((r.toSeq :+ batchId :+ clockUs).toArray, logSchema).json))
    }
  }
}
