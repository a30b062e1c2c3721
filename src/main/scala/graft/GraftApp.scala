package graft

import java.util.concurrent.atomic.AtomicBoolean
import javax.annotation.concurrent.GuardedBy

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.commands.CommandParser
import graft.rules.{RuleEngine, Rules, RuleStore}
import graft.streaming.{ActionSink, DelayedDispatcher, NdjsonIngest}
import graft.zulip.{ZulipClient, ZulipConf, ZulipRtm, ZulipSupervisor}

/** The reference program (main.rs:13-54) as ONE supervised composition —
  * every channel of the Rust process mapped to its Spark-native part:
  *
  *   - `eventstream::watch_event_stream` → the `http-ndjson` DataSourceV2
  *     signup stream ([[NdjsonIngest.fromHttp]]), silence-supervised by the
  *     source itself (status.rs:36-45's 90 s watchdog, the source's
  *     default `silenceRestartMs`).
  *   - `eventhandler::handle_events` → a foreachBatch loop that logs the
  *     batch for `seen`, matches it via the broadcast rule join against the
  *     in-memory rule snapshot (the reference's rule vector; rebuilt from the
  *     rules file only after a mutation), and hands the matches to one
  *     [[DelayedDispatcher]] per start: due-now actions fire in the same
  *     batch, the randomized 30–100 s holds wait in the pending log
  *     (effectively-once either way).
  *   - `zulip::rtm::connect_to_zulip` + `status::status_loop` → [[ZulipRtm]]
  *     under [[ZulipSupervisor]] (300 s ping watchdog), commands dispatched
  *     by [[commandDispatcher]] against the same rule snapshot and file.
  *   - `signup::rules::expiry_loop` → a sweep thread that runs
  *     [[RuleStore.sweepNotices]]/[[RuleStore.sweep]] on a cadence and posts
  *     each once-only notice to the notify stream.
  *
  * Everything here is composition of independently-specced parts; the
  * GraftAppSpec exercises the whole loop against a live local fake feed +
  * fake Zulip: a command adds a rule, the very next event matches it, the
  * action dispatches, the expiry sweep notifies.
  */
object GraftApp {

  final case class Handles(
      events: StreamingQuery,
      zulip: Thread,
      expiry: Thread,
      stop: AtomicBoolean) {
    def shutdown(): Unit = {
      stop.set(true)
      events.stop()
      // await the worker threads — returning while a sweep's store mutation
      // is mid-save would let "after shutdown" readers race a live writer
      // (and a JVM exit then kill the daemon mid-overwrite). Never
      // interrupt them: an interrupted write is exactly the truncation the
      // staged save exists to avoid. Both loops poll `stop`, so the waits
      // are bounded by one sleep + one sweep.
      expiry.join(120000L)
      zulip.join(10000L)
      // a timed-out join means a wedged worker is STILL a live writer —
      // returning silently would re-open the exact after-shutdown
      // reader/writer race the joins exist to close; fail loudly instead
      // so the caller knows the store may still be mutating
      if (expiry.isAlive || zulip.isAlive)
        throw new IllegalStateException(
          "GraftApp.shutdown: worker thread(s) still alive after join " +
            s"timeout (expiry=${expiry.isAlive}, zulip=${zulip.isAlive}) — " +
            "the rules store may still have a live writer")
    }
  }

  /** Serializes every touch of the rules store. Three threads share it
    * (Zulip commands, the expiry sweep, the micro-batches), and a plain
    * `load → transform → save(overwrite)` is doubly unsafe concurrently:
    * overwrite deletes the very files a lazy load still reads
    * (self-overwrite), and two writers stomp one `_temporary` dir. So every
    * read goes through the snapshot below and every write holds the lock
    * across its read-modify-write. The reference has the same critical
    * section implicitly — one mpsc consumer owns the rules (main.rs:15). */
  private val rulesLock = new Object

  /** The rules of each store path (one JVM can run two apps), held as local
    * rows like the reference's in-memory rule vector. A frame built on them
    * is a local relation: matching a batch against it reads no file, and
    * a write built from it cannot read the files it overwrites. Every
    * mutation drops its path's entry, so the next read reloads the file. */
  @GuardedBy("rulesLock")
  private val snapshots = mutable.Map.empty[String, (StructType, Array[Row])]

  /** The current rules of `rulesPath`, loaded from the file only when a
    * mutation has happened since the last load. */
  private[graft] def rules(spark: SparkSession, rulesPath: String): DataFrame = {
    val (schema, rows) = rulesLock.synchronized {
      snapshots.getOrElseUpdate(rulesPath, {
        val df = RuleStore.load(spark, rulesPath)
        (df.schema, df.collect())
      })
    }
    spark.createDataFrame(rows.toSeq.asJava, schema)
  }

  private[graft] def mutateRules(spark: SparkSession, rulesPath: String)(
      f: DataFrame => DataFrame): Unit =
    rulesLock.synchronized {
      // dropped even when the save fails: it may have changed the store
      try RuleStore.save(f(rules(spark, rulesPath)), rulesPath)
      finally snapshots.remove(rulesPath)
    }

  /** One expiry sweep: advance the once-only notice counters and drop the
    * expired rules in one store mutation, and return the notices to post.
    * Posting happens after the save (at-most-once notices, like the
    * reference, which posts from the same pass that mutates state). */
  private[graft] def sweepRules(spark: SparkSession, rulesPath: String,
      nowUs: Long): Seq[(String, String)] = {
    var notices = Seq.empty[(String, String)]
    mutateRules(spark, rulesPath) { cur =>
      val noticed = RuleStore.sweepNotices(cur, nowUs)
      notices = noticed.filter(col("notice").isNotNull)
        .select(col("name"), col("notice")).collect().toSeq
        .map(r => (r.getString(0), r.getString(1)))
      RuleStore.sweep(noticed.drop("notice"), nowUs)
    }
    notices
  }

  /** The one column of the event log `seen` reads. Schema-less reads of
    * parquet sample a footer, which costs a job. */
  private val seenSchema = StructType(Seq(StructField("username", StringType)))

  /** Zulip command dispatch against the rule snapshot the event pipeline
    * matches with; a mutation saves the file and drops the snapshot, so its
    * effect reaches the very next batch (the reference's in-memory handoff,
    * made durable). */
  def commandDispatcher(spark: SparkSession, rulesPath: String,
      eventLogDir: String): CommandParser.Parsed => Option[String] = {
    // `rules test` criteria may call is_in_ip_range (lua.rs:85-100)
    graft.plans.GraftExtensions.install(spark)
    p => {
      def store = rules(spark, rulesPath)
      def saveAnd(f: DataFrame => DataFrame, reply: String): Option[String] = {
        mutateRules(spark, rulesPath)(f); Some(reply)
      }
      p.kind match {
        case "status" => Some("I'm alive!")
        case "list" =>
          val names = store.select(col("name")).collect().map(_.getString(0)).sorted
          Some(if (names.isEmpty) "No rules." else names.mkString(", "))
        case "show" =>
          val rows = store.filter(col("name") === p.name.get).toJSON.collect()
          Some(rows.headOption.getOrElse(s"No rule named ${p.name.get}"))
        case "remove" => saveAnd(RuleStore.remove(_, p.name.get),
          s"Rule ${p.name.get} removed.")
        case "enable_re" => saveAnd(RuleStore.setEnabled(_, p.name.get, enabled = true),
          "Rules enabled.")
        case "disable_re" => saveAnd(RuleStore.setEnabled(_, p.name.get, enabled = false),
          "Rules disabled.")
        case "renew" =>
          val newExp = Rules.nowUs + p.expiryDays.get.toLong * 86400L * 1000000L
          saveAnd(RuleStore.renew(_, p.name.get, newExp), s"Rule ${p.name.get} renewed.")
        case "add" =>
          CommandParser.toRuleRow(p, Rules.nowUs) match {
            case Some(row) =>
              try saveAnd(RuleStore.add(_, row, spark), s"Rule ${row.name} added.")
              catch { case e: IllegalArgumentException => Some(e.getMessage) }
            case None => Some("Could not compile rule")
          }
        case "test" =>
          // the Lua-criterion analog (rules test $code$): evaluate the SQL
          // predicate against the namechk synthetic user (lua.rs semantics)
          val verdict =
            try {
              import spark.implicits._
              Seq((0L, "testuser", "qwe@asd.zxc", "127.0.0.1",
                  Option.empty[String], Option.empty[String], false, 0L))
                .toDF("event_id", "username", "email", "ip", "ua", "fingerprint",
                  "susp_ip", "ts_us")
                .select(RuleEngine.sqlCriterion(p.value.get).as("v"))
                .head().get(0)
            } catch { case e: Exception => s"error: ${e.getMessage}" }
          Some(s"Result: $verdict")
        case "namechk" =>
          val hits = RuleEngine.namechk(spark, p.name.get, store).collect()
          Some(if (hits.isEmpty) "No rule matches that username."
          else hits.map(r => s"${r.getString(0)} -> ${r.getString(1)}").mkString("; "))
        case "seen" =>
          val path = new org.apache.hadoop.fs.Path(eventLogDir)
          val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
          if (!fs.exists(path)) Some("Username not seen recently")
          else {
            val n = spark.read.schema(seenSchema).parquet(eventLogDir)
              .filter(col("username") === p.name.get).count()
            Some(if (n > 0) s"Seen: ${p.name.get} ($n events)" else "Username not seen recently")
          }
        case _ => Some("Could not parse user command")
      }
    }
  }

  /** Start the whole program. `feedUrl` is the NDJSON signup feed (the
    * reference's event stream); rules live at `rulesPath`; actions land in
    * `logDir` with the pending hold in `pendingDir`. */
  def start(
      spark: SparkSession,
      conf: ZulipConf,
      feedUrl: String,
      workDir: String,
      zulipBaseUrlOverride: Option[String] = None,
      sweepMs: Long = 15000L,
      zulipCheckMs: Long = 1000L,
      zulipSilenceRestartMs: Long = 300000L): Handles = {
    val rulesPath = conf.rulesPath
    val pendingDir = s"$workDir/pending"
    val logDir = s"$workDir/dispatched"
    val eventLogDir = s"$workDir/events"
    val stop = new AtomicBoolean(false)
    val client = new ZulipClient(conf, zulipBaseUrlOverride)

    // eventhandler.handle_events: per micro-batch, log events, match against
    // the rule snapshot, stamp deadlines, dispatch effectively-once
    val signups = NdjsonIngest.fromHttp(spark, feedUrl)
      .withColumn("event_id",
        graft.functions.Portable.hash64(concat_ws("|", col("username"),
          col("email"), col("ip"))))
      .withColumn("ts_us", unix_micros(current_timestamp()))
    // a new app reads the store as it is on disk now
    rulesLock.synchronized(snapshots.remove(rulesPath))
    val dispatcher = new DelayedDispatcher(spark, pendingDir, logDir)
    val events = signups.writeStream
      .option("checkpointLocation", s"$workDir/checkpoint")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val b = batch.persist()
        try {
          b.write.mode("append").parquet(eventLogDir) // the `seen` memory
          val matched = RuleEngine.matches(b, rules(spark, rulesPath))
            .select(col("event_id"), col("name").as("rule_name"),
              col("username"), col("actions"), col("no_delay"), col("ts_us"))
            .withColumn("due_us", col("ts_us") + ActionSink.actionDelayUs(
              col("event_id"), col("actions"), col("no_delay")))
          dispatcher.dispatch(matched, batchId) { fresh =>
            fresh.collect().foreach { r =>
              client.postMessage(
                s"action ${r.getAs[String]("actions")} on ${r.getAs[String]("username")} " +
                  s"(rule ${r.getAs[String]("rule_name")})",
                conf.zulipNotifyStream, conf.zulipNotifyTopic)
            }
          }
        } finally b.unpersist()
        ()
      }
      .start()

    // zulip rtm + status_loop: supervised command connection
    val supervisor = new ZulipSupervisor(conf, client,
      ZulipRtm.parseOrError(commandDispatcher(spark, rulesPath, eventLogDir)),
      silenceRestartMs = zulipSilenceRestartMs, checkMs = zulipCheckMs)
    val zulipThread = supervisor.start(stop)

    // signup::rules::expiry_loop: once-only notices + expired-rule sweep.
    // The sleep is sliced so shutdown latency is ~200 ms + one in-flight
    // sweep, not the sweep cadence (an hourly-config sweep would otherwise
    // blow through shutdown's 120 s join and read as a wedged writer).
    val expiryThread = new Thread(() => {
      while (!stop.get()) {
        val end = System.currentTimeMillis() + sweepMs
        var left = sweepMs
        while (!stop.get() && left > 0) {
          Thread.sleep(math.min(200L, left))
          left = end - System.currentTimeMillis()
        }
        if (!stop.get()) {
          try {
            sweepRules(spark, rulesPath, Rules.nowUs).foreach { case (name, notice) =>
              client.postMessage(s"Rule $name: $notice",
                conf.zulipNotifyStream, conf.zulipNotifyTopic)
            }
          } catch {
            case e: Exception =>
              System.err.println(s"expiry sweep failed: ${e.getMessage}")
          }
        }
      }
    }, "graft-expiry")
    expiryThread.setDaemon(true)
    expiryThread.start()

    Handles(events, zulipThread, expiryThread, stop)
  }
}
