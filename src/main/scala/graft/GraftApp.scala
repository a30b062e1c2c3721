package graft

import java.time.Clock
import java.util.Locale
import java.util.concurrent.atomic.AtomicBoolean
import javax.annotation.concurrent.GuardedBy

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.commands.CommandParser
import graft.rules.{RuleEngine, RuleStore}
import graft.streaming.{ActionSink, DelayedDispatcher, NdjsonIngest}
import graft.zulip.{ZulipClient, ZulipConf, ZulipRtm, ZulipSupervisor}

/** The reference program (main.rs:13-54) as ONE supervised composition —
  * every channel of the Rust process mapped to its Spark-native part:
  *
  *   - `eventstream::watch_event_stream` → the `http-ndjson` DataSourceV2
  *     signup stream ([[NdjsonIngest.fromHttp]]), silence-supervised by the
  *     source itself (status.rs:36-45's 90 s watchdog, the source's
  *     default `silenceRestartMs`).
  *   - `eventhandler::handle_events` → a foreachBatch loop
  *     ([[handleEvents]]) that matches each batch via the broadcast rule
  *     join against the in-memory rule snapshot (the reference's rule
  *     vector; read from the rules file when an app starts, then replaced
  *     by the rows each mutation saves) in one collect, hands the matches
  *     to one [[DelayedDispatcher]] per start (due-now actions fire in the
  *     same batch; the randomized 30–100 s holds wait in memory until a
  *     batch's time passes their deadline; effectively-once either way,
  *     through per-batch JSON-line files in the pending and dispatch logs,
  *     with no Spark job), and then adds the batch's signups to the app's
  *     [[SeenRing]] for `seen`.
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
      // (and a JVM exit then kill the daemon mid-save). Never interrupt
      // them: an interrupt can end a save between its write and its
      // rename. Both loops poll `stop`, so the waits are bounded by one
      // sleep + one sweep.
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
    * (Zulip commands, the expiry sweep, the micro-batches), and two
    * concurrent `snapshot → transform → save` passes would each lose the
    * other's change. So every read goes through the snapshot below and
    * every write holds the lock across its read-modify-write. The reference
    * has the same critical section implicitly — one mpsc consumer owns the
    * rules (main.rs:15). */
  private val rulesLock = new Object

  /** The rules of each store path (one JVM can run two apps), held as local
    * rows like the reference's in-memory rule vector. A frame built on them
    * is a local relation: matching a batch against it reads no file. A
    * mutation replaces its path's entry with the rows it saved, so only a
    * missing entry (a new app, or a failed save) reads the file. */
  @GuardedBy("rulesLock")
  private val snapshots = mutable.Map.empty[String, Array[Row]]

  /** The current rules of `rulesPath` as rows of [[RuleStore.Schema]]. */
  private def snapshot(spark: SparkSession, rulesPath: String): Array[Row] =
    rulesLock.synchronized {
      snapshots.getOrElseUpdate(rulesPath, RuleStore.load(spark, rulesPath).collect())
    }

  private[graft] def rules(spark: SparkSession, rulesPath: String): DataFrame =
    spark.createDataFrame(snapshot(spark, rulesPath).toSeq.asJava, RuleStore.Schema)

  private[graft] def mutateRules(spark: SparkSession, rulesPath: String)(
      f: DataFrame => DataFrame): Unit =
    rulesLock.synchronized {
      try snapshots(rulesPath) = RuleStore.save(f(rules(spark, rulesPath)), rulesPath)
      catch {
        // a failed save may have changed the store: the next read reloads it
        case e: Throwable => snapshots.remove(rulesPath); throw e
      }
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

  /** The reference's `seen` memory (eventhandler.rs:90-116, 395-416): the
    * usernames of the last [[SeenRing.Capacity]] signups, with an occurrence
    * count per username that ignores case. It lives in memory only, so a
    * restart forgets it, as the reference's does. The batch thread adds and
    * the Zulip thread reads, so both hold the ring's lock. */
  final class SeenRing {
    @GuardedBy("this") private val ring = mutable.ArrayDeque.empty[String]
    @GuardedBy("this") private val counts = mutable.HashMap.empty[String, Int]

    private def fold(username: String): String = username.toLowerCase(Locale.ROOT)

    def add(usernames: Iterable[String]): Unit = synchronized {
      usernames.foreach { u =>
        val k = fold(u)
        ring.append(k)
        counts(k) = counts.getOrElse(k, 0) + 1
        if (ring.size > SeenRing.Capacity) {
          val old = ring.removeHead()
          if (counts(old) == 1) counts.remove(old) else counts(old) -= 1
        }
      }
    }

    def count(username: String): Int = synchronized(counts.getOrElse(fold(username), 0))
  }

  object SeenRing {
    val Capacity = 10000
  }

  private def micros(clock: Clock): Long = clock.millis() * 1000L

  /** Zulip command dispatch against the rule snapshot the event pipeline
    * matches with; a mutation saves the file and replaces the snapshot, so
    * its effect reaches the very next batch (the reference's in-memory
    * handoff, made durable). `seen` answers from `seen` without running a
    * job; `add`, `renew` and `namechk` read the time from `clock`. */
  def commandDispatcher(spark: SparkSession, rulesPath: String, seen: SeenRing,
      clock: Clock): CommandParser.Parsed => Option[String] = {
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
          // a disabled rule's name in parentheses (rules.rs:113-124)
          val names = snapshot(spark, rulesPath).sortBy(_.getAs[String]("name")).map { r =>
            val name = r.getAs[String]("name")
            if (r.getAs[Any]("enabled") == true) name else s"($name)"
          }
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
          val newExp = micros(clock) + p.expiryDays.get.toLong * 86400L * 1000000L
          saveAnd(RuleStore.renew(_, p.name.get, newExp), s"Rule ${p.name.get} renewed.")
        case "add" =>
          CommandParser.toRuleRow(p, micros(clock)) match {
            case Some(row) => rulesLock.synchronized {
              if (snapshot(spark, rulesPath).exists(_.getAs[String]("name") == row.name))
                Some(s"Rule ${row.name} already exists.")
              else
                try saveAnd(RuleStore.add(_, row, spark), s"Rule ${row.name} added.")
                catch { case e: IllegalArgumentException => Some(e.getMessage) }
            }
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
          val hits = RuleEngine.namechk(spark, p.name.get, store, micros(clock)).collect()
          Some(if (hits.isEmpty) "No rule matches that username."
          else hits.map(r => s"${r.getString(0)} -> ${r.getString(1)}").mkString("; "))
        case "seen" =>
          val n = seen.count(p.name.get)
          Some(if (n > 0) s"Seen: ${p.name.get} ($n events)" else "Username not seen recently")
        case _ => Some("Could not parse user command")
      }
    }
  }

  /** `eventhandler::handle_events` as a `foreachBatch` body. One collect
    * matches the batch against the rule snapshot at `clock`'s time and
    * returns every signup, with its matches if it has any (a collect of the
    * local rows built from it runs no job). The matches go to one
    * [[DelayedDispatcher]] on `workDir`'s logs, with the largest `ts_us` of
    * the batch's signups as its clock, so a held action comes due on the
    * first batch after its deadline whether or not that batch matches
    * anything. The dispatcher hands each action's notice to `post`; then each
    * signup goes into `seen` once, however many rules it matched. Adding to
    * `seen` last keeps a `seen` reply from running ahead of the batch. */
  private[graft] def handleEvents(spark: SparkSession, rulesPath: String, workDir: String,
      clock: Clock, seen: SeenRing)(post: String => Unit): (DataFrame, Long) => Unit = {
    val dispatcher = new DelayedDispatcher(spark, s"$workDir/pending", s"$workDir/dispatched")
    (batch, batchId) => {
      val joined = batch.withColumn("signup", monotonically_increasing_id())
        .join(broadcast(rules(spark, rulesPath)),
          RuleEngine.gate(micros(clock)) && RuleEngine.criterion, "left_outer")
        .select(col("event_id"), col("name").as("rule_name"), col("username"),
          col("actions"), col("no_delay"), col("ts_us"), col("signup"))
        .withColumn("due_us", col("ts_us") + ActionSink.actionDelayUs(
          col("event_id"), col("actions"), col("no_delay")))
      val rows = joined.collect()
      val matched = rows.filter(_.getAs[String]("rule_name") != null)
      // the time the batch stamped on its signups, matched or not; a batch
      // with no signups has no time and cannot bring a hold due
      rows.map(_.getAs[Long]("ts_us")).maxOption.foreach { nowUs =>
        dispatcher.dispatch(spark.createDataFrame(matched.toSeq.asJava, joined.schema)
          .drop("signup"), batchId, nowUs) { fresh =>
          fresh.collect().foreach { r =>
            post(s"action ${r.getAs[String]("actions")} on ${r.getAs[String]("username")} " +
              s"(rule ${r.getAs[String]("rule_name")})")
          }
        }
      }
      seen.add(rows.distinctBy(_.getAs[Long]("signup")).map(_.getAs[String]("username")))
    }
  }

  /** Start the whole program. `feedUrl` is the NDJSON signup feed (the
    * reference's event stream); rules live at `rulesPath`; fired actions
    * are logged to `workDir/dispatched/<batchId>` and held ones to
    * `workDir/pending/<batchId>`, as JSON lines (`spark.read.json` reads
    * either log).
    * `clock` stamps rule additions, renewals, the expiry sweep and the
    * match gate. */
  def start(
      spark: SparkSession,
      conf: ZulipConf,
      feedUrl: String,
      workDir: String,
      zulipBaseUrlOverride: Option[String] = None,
      sweepMs: Long = 15000L,
      zulipCheckMs: Long = 1000L,
      zulipSilenceRestartMs: Long = 300000L,
      clock: Clock = Clock.systemUTC()): Handles = {
    val rulesPath = conf.rulesPath
    val stop = new AtomicBoolean(false)
    val client = new ZulipClient(conf, zulipBaseUrlOverride)
    val signups = NdjsonIngest.fromHttp(spark, feedUrl)
      .withColumn("event_id",
        graft.functions.Portable.hash64(concat_ws("|", col("username"),
          col("email"), col("ip"))))
      .withColumn("ts_us", unix_micros(current_timestamp()))
    // a new app reads the store as it is on disk now
    rulesLock.synchronized(snapshots.remove(rulesPath))
    val seen = new SeenRing
    val events = signups.writeStream
      .option("checkpointLocation", s"$workDir/checkpoint")
      .foreachBatch(handleEvents(spark, rulesPath, workDir, clock, seen)(
        client.postMessage(_, conf.zulipNotifyStream, conf.zulipNotifyTopic)))
      .start()

    // zulip rtm + status_loop: supervised command connection
    val supervisor = new ZulipSupervisor(conf, client,
      ZulipRtm.parseOrError(commandDispatcher(spark, rulesPath, seen, clock)),
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
            sweepRules(spark, rulesPath, micros(clock)).foreach { case (name, notice) =>
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
