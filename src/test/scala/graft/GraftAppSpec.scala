package graft

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.time.{Clock, Instant, ZoneId, ZoneOffset}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.rules.{RuleEngine, RuleRow, Rules, RuleStore}
import graft.zulip.{ZulipConf, ZulipRtm}

/** The whole reference program (main.rs:13-54) running as one composition
  * against a live fake feed + fake Zulip: a moderator command adds a rule
  * over Zulip, the very next signup on the event stream matches it, the
  * action dispatches effectively-once to the notify stream, and the expiry
  * sweep posts its once-only notice — every channel of the Rust process
  * exercised in a single run. */
class GraftAppSpec extends AnyFunSuite {
  import SparkTest._

  private def respond(ex: HttpExchange, body: String, status: Int = 200): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.sendResponseHeaders(status, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.getResponseBody.close()
  }

  test("GraftApp: Zulip command -> rule file -> stream match -> delayed dispatch -> expiry notice") {
    val work = java.nio.file.Files.createTempDirectory("graft_app").toString
    val rulesPath = s"$work/rules.json"

    // fake Zulip: poll 1 delivers the moderator's add-rule command
    val posted = new ConcurrentLinkedQueue[String]()
    val polls = new AtomicInteger(0)
    val zulip = HttpServer.create(new InetSocketAddress("localhost", 0), 0)
    zulip.createContext("/api/v1/register", (ex: HttpExchange) => {
      try respond(ex, """{"result":"success","queue_id":"q-1"}""") finally ex.close()
    })
    zulip.createContext("/api/v1/events", (ex: HttpExchange) => {
      try {
        // redeliver the command (fresh id each poll) until the bot replies —
        // the real server would hold undelivered queue events the same way
        val n = polls.incrementAndGet()
        val replied = posted.toArray(Array.empty[String])
          .exists(_.contains("content=Rule+e2e+added."))
        val batch =
          if (!replied) Seq(
            s"""{"id":$n,"type":"message","message":{"content":"@**graftbot** signup rules add e2e if username contains mal then notify","display_recipient":"cmd-stream","subject":"cmd-topic"}}""")
          else {
            Thread.sleep(100) // long-poll pacing
            Seq(s"""{"id":$n,"type":"heartbeat"}""")
          }
        respond(ex, s"""{"result":"success","events":[${batch.mkString(",")}]}""")
      } finally ex.close()
    })
    zulip.createContext("/api/v1/messages", (ex: HttpExchange) => {
      try {
        posted.add(new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8))
        respond(ex, """{"result":"success"}""")
      } finally ex.close()
    })
    zulip.setExecutor(java.util.concurrent.Executors.newCachedThreadPool())
    zulip.start()

    // fake signup feed: every (re)connection delivers one fresh signup
    val feedHits = new AtomicInteger(0)
    val feed = HttpServer.create(new InetSocketAddress("localhost", 0), 0)
    feed.createContext("/feed", (ex: HttpExchange) => {
      try {
        val n = feedHits.incrementAndGet()
        ex.sendResponseHeaders(200, 0)
        val os = ex.getResponseBody
        os.write((s"""{"t":"signup","username":"mal$n","email":"mal$n@x.example","ip":"9.9.9.$n"}""" + "\n")
          .getBytes(StandardCharsets.UTF_8))
        os.flush()
        os.close()
      } finally ex.close()
    })
    feed.setExecutor(java.util.concurrent.Executors.newCachedThreadPool())
    feed.start()

    val zport = zulip.getAddress.getPort
    val conf = ZulipConf.default.copy(
      rulesPath = rulesPath,
      zulipBotToken = "tok123",
      zulipBotId = "bot@example.org",
      zulipBotUsername = "graftbot",
      zulipCommandStream = "cmd-stream",
      zulipCommandTopic = "cmd-topic",
      zulipNotifyStream = "notify-stream",
      zulipNotifyTopic = "notify-topic",
      zulipUrl = s"localhost:$zport")

    // preseed the store with a non-matching rule already inside its expiry
    // notice window (expiring in 12 h at the fixed evaluation instant) so
    // the first sweep posts the once-only "expiring_soon"
    RuleStore.save(Rules.dfFor(spark, Seq(
      RuleRow("r_old", "ip_match", "1.2.3.4", 0, enabled = true, suspOnly = false,
        noDelay = false, Some(Rules.nowUs + 12L * 3600L * 1000000L), "notify"))),
      rulesPath)

    val handles = GraftApp.start(spark, conf,
      s"http://localhost:${feed.getAddress.getPort}/feed", work,
      zulipBaseUrlOverride = Some(s"http://localhost:$zport"),
      sweepMs = 500L, zulipCheckMs = 60000L, zulipSilenceRestartMs = 600000L,
      clock = Clock.fixed(Instant.ofEpochMilli(Rules.nowUs / 1000L), ZoneOffset.UTC))
    try {
      val deadline = System.currentTimeMillis() + 60000
      def all: Seq[String] = posted.toArray(Array.empty[String]).toSeq
      def done: Boolean =
        all.exists(_.contains("content=Rule+e2e+added.")) &&
          all.exists(m => m.contains("to=notify-stream") &&
            m.contains("content=action+notify+on+mal")) &&
          all.exists(_.contains("content=Rule+r_old%3A+expiring_soon"))
      while (!done && System.currentTimeMillis() < deadline) Thread.sleep(200)
      assert(all.exists(_.contains("content=Rule+e2e+added.")),
        s"command reply missing in $all")
      assert(all.exists(m => m.contains("to=notify-stream") &&
        m.contains("content=action+notify+on+mal")),
        s"dispatched action missing in $all")
      assert(all.exists(_.contains("expiring_soon")),
        s"expiry notice missing in $all")
      assert(handles.events.exception.isEmpty,
        s"streaming pipeline died: ${handles.events.exception}")
      // quiesce before reading the log: a batch still in flight may not
      // have written its dispatch file yet
      handles.events.processAllAvailable()
      handles.events.stop()
    } finally {
      handles.shutdown()
      zulip.stop(0)
      feed.stop(0)
    }
    // Post-shutdown reads: the app's own accesses go through its rules
    // lock, but this spec-side load doesn't. After shutdown no writer is live.
    // effectively-once: the dispatch log never carries a duplicate key
    val log = spark.read.json(s"$work/dispatched")
      .select("event_id", "rule_name").collect().map(_.toSeq)
    assert(log.distinct.length == log.length, "duplicate dispatch")
    // the store now holds both rules: the swept survivor and the added one
    val names = RuleStore.load(spark, rulesPath)
      .select("name").collect().map(_.getString(0)).toSet
    assert(names == Set("r_old", "e2e"))
  }

  test("rules test: is_in_ip_range resolves on a session without the extensions") {
    // a fresh session has none of the functions earlier specs installed
    val fresh = spark.newSession()
    val work = java.nio.file.Files.createTempDirectory("graft_cmd").toString
    val reply = ZulipRtm.parseOrError(
      GraftApp.commandDispatcher(fresh, s"$work/rules.json", new GraftApp.SeenRing,
        Clock.systemUTC()))
    assert(reply("signup rules test `is_in_ip_range(ip, '127.0.0.0', '127.255.255.255')`")
      .contains("Result: true"))
  }

  private def rule(name: String, pattern: String, expiryUs: Option[Long] = None) =
    RuleRow(name, "username_contains", pattern, 0, enabled = true, suspOnly = false,
      noDelay = false, expiryUs, "notify")

  /** Signups as the live stream stamps them, minus the feed. */
  private def signups(rows: (String, Long)*): DataFrame = {
    import spark.implicits._
    rows.map { case (u, ts) => (u, s"$u@x.example", "9.9.9.9", Option.empty[String],
        Option.empty[String], false, ts) }
      .toDF("username", "email", "ip", "ua", "fingerprint", "susp_ip", "ts_us")
      .withColumn("event_id", xxhash64(col("username")))
  }

  /** The rules a micro-batch would match `username` against right now. */
  private def matching(rulesPath: String, username: String): Set[String] =
    RuleEngine.matches(signups(username -> 0L), GraftApp.rules(spark, rulesPath))
      .select("name").collect().map(_.getString(0)).toSet

  test("rule snapshot: a remove command reaches the next batch's match") {
    val work = java.nio.file.Files.createTempDirectory("graft_snap_rm").toString
    val rulesPath = s"$work/rules.json"
    RuleStore.save(Rules.dfFor(spark, Seq(rule("r_mal", "mal"), rule("r_al", "al"))), rulesPath)
    val reply = ZulipRtm.parseOrError(
      GraftApp.commandDispatcher(spark, rulesPath, new GraftApp.SeenRing, Clock.systemUTC()))
    assert(matching(rulesPath, "mal1") == Set("r_mal", "r_al"))
    assert(reply("signup rules remove r_mal").contains("Rule r_mal removed."))
    assert(matching(rulesPath, "mal1") == Set("r_al"))
    assert(reply("signup rules list").contains("r_al"))
  }

  test("rule snapshot: a rule dropped by the expiry sweep stops matching") {
    val work = java.nio.file.Files.createTempDirectory("graft_snap_sweep").toString
    val rulesPath = s"$work/rules.json"
    val dayUs = 86400L * 1000000L
    RuleStore.save(Rules.dfFor(spark, Seq(
      rule("r_soon", "mal", Some(Rules.nowUs + dayUs)), rule("r_kept", "al"))), rulesPath)
    assert(matching(rulesPath, "mal1") == Set("r_soon", "r_kept"))
    // five days on, r_soon is more than three days past its expiry
    val notices = GraftApp.sweepRules(spark, rulesPath, Rules.nowUs + 5L * dayUs)
    assert(notices == Seq("r_soon" -> "expiring_soon"))
    assert(matching(rulesPath, "mal1") == Set("r_kept"))
  }

  test("rule snapshot: a failed save still forces a reload") {
    val work = java.nio.file.Files.createTempDirectory("graft_snap_fail").toString
    val rulesPath = s"$work/rules.json"
    RuleStore.save(Rules.dfFor(spark, Seq(rule("r_old", "mal"))), rulesPath)
    assert(matching(rulesPath, "mal1") == Set("r_old"))
    // a mutation that failed after the new rules landed in the file
    intercept[java.io.IOException] {
      GraftApp.mutateRules(spark, rulesPath) { _ =>
        RuleStore.save(Rules.dfFor(spark, Seq(rule("r_new", "mal"))), rulesPath)
        throw new java.io.IOException("failed after the write")
      }
    }
    assert(matching(rulesPath, "mal1") == Set("r_new"))
  }

  /** One app's batch handler and command replies over `rules`, the action
    * notices the handler posts, and its rules path. */
  private def app(rules: Seq[RuleRow], clock: Clock = Clock.systemUTC()) = {
    val work = java.nio.file.Files.createTempDirectory("graft_handler").toString
    val rulesPath = s"$work/rules.json"
    RuleStore.save(Rules.dfFor(spark, rules), rulesPath)
    val seen = new GraftApp.SeenRing
    val posted = mutable.ArrayBuffer.empty[String]
    val handle = GraftApp.handleEvents(spark, rulesPath, work, clock, seen)(posted += _)
    (handle, ZulipRtm.parseOrError(GraftApp.commandDispatcher(spark, rulesPath, seen, clock)),
      posted, rulesPath)
  }

  test("seen: exact replies after a batch, a lookup that ignores case, a repeat counted twice") {
    val (handle, reply, _, _) = app(Seq(rule("r_none", "zzz")))
    assert(reply("signup seen alice").contains("Username not seen recently"))
    handle(signups("alice" -> 1L, "bob" -> 1L), 0L)
    assert(reply("signup seen alice").contains("Seen: alice (1 events)"))
    assert(reply("signup seen carol").contains("Username not seen recently"))
    assert(reply("signup seen BOB").contains("Seen: BOB (1 events)"))
    handle(signups("Alice" -> 2L), 1L)
    assert(reply("signup seen alice").contains("Seen: alice (2 events)"))
  }

  test("seen: a signup that matches two rules is counted once") {
    val (handle, reply, posted, _) = app(Seq(rule("r_mal", "mal"), rule("r_al", "al")))
    handle(signups("mal1" -> 1L), 0L)
    assert(posted.sorted == Seq("action notify on mal1 (rule r_al)",
      "action notify on mal1 (rule r_mal)"))
    assert(reply("signup seen mal1").contains("Seen: mal1 (1 events)"))
  }

  test("delayed dispatch: a held close fires on the first batch past its deadline, match or not") {
    val (handle, _, posted, _) = app(Seq(rule("r_close", "mal").copy(actions = "close")))
    handle(signups("mal1" -> 0L), 0L)
    assert(posted.isEmpty, "a close is held for 31.5 to 101.5 s")
    handle(signups("bob" -> 200000000L), 1L)
    assert(posted == Seq("action close on mal1 (rule r_close)"))
  }

  test("seen: the 10 001st signup pushes the oldest one out") {
    val seen = new GraftApp.SeenRing
    val cap = GraftApp.SeenRing.Capacity
    seen.add(Seq("first", "twice") ++ (2 until cap - 1).map(i => s"u$i") ++ Seq("twice"))
    assert(seen.count("first") == 1 && seen.count("twice") == 2)
    seen.add(Seq("last"))
    assert(seen.count("first") == 0 && seen.count("u2") == 1 && seen.count("last") == 1)
    seen.add(Seq("u"))
    assert(seen.count("twice") == 1, "the older of two occurrences left the ring")
  }

  /** A clock that a spec moves by hand. */
  private final class StepClock(@volatile var now: Instant) extends Clock {
    def getZone: ZoneId = ZoneOffset.UTC
    override def withZone(zone: ZoneId): Clock = this
    def instant(): Instant = now
  }

  test("real clock: a rule matches before its expiry and stops matching after it") {
    val clock = new StepClock(Instant.parse("2031-03-01T00:00:00Z"))
    val (handle, reply, posted, _) = app(Seq(rule("r_none", "zzz")), clock)
    // no expiry given: the rule expires 182 days after the clock's now
    assert(reply("signup rules add r_mal if username contains mal then notify")
      .contains("Rule r_mal added."))
    handle(signups("mal1" -> 1L), 0L)
    assert(posted == Seq("action notify on mal1 (rule r_mal)"))
    clock.now = clock.now.plusSeconds(181L * 86400L)
    handle(signups("mal2" -> 2L), 1L)
    assert(posted.size == 2, "a day before its expiry the rule still matches")
    clock.now = clock.now.plusSeconds(2L * 86400L)
    handle(signups("mal3" -> 3L), 2L)
    assert(posted == Seq("action notify on mal1 (rule r_mal)",
      "action notify on mal2 (rule r_mal)"), "an expired rule matched")
  }

  test("real clock: each expiry notice is posted once, and the rule is dropped 3 days after expiry") {
    val clock = new StepClock(Instant.parse("2031-03-01T00:00:00Z"))
    val work = java.nio.file.Files.createTempDirectory("graft_expiry").toString
    val rulesPath = s"$work/rules.json"
    val expiry = clock.now.plusSeconds(10L * 86400L)
    RuleStore.save(Rules.dfFor(spark,
      Seq(rule("r_exp", "mal", Some(expiry.toEpochMilli * 1000L)))), rulesPath)
    val reply = ZulipRtm.parseOrError(
      GraftApp.commandDispatcher(spark, rulesPath, new GraftApp.SeenRing, clock))
    // two sweeps at `t`, at the clock's time, as the app's expiry loop runs them
    def sweepsAt(t: Instant): Seq[(String, String)] = {
      clock.now = t
      Seq.fill(2)(GraftApp.sweepRules(spark, rulesPath, clock.millis() * 1000L)).flatten
    }
    assert(sweepsAt(expiry.minusSeconds(12L * 3600L)) == Seq("r_exp" -> "expiring_soon"))
    assert(sweepsAt(expiry.plusSeconds(3600L)) == Seq("r_exp" -> "expired"))
    assert(sweepsAt(expiry.plusSeconds(2L * 86400L)).isEmpty)
    assert(reply("signup rules list").contains("r_exp"), "kept for 3 days after expiry")
    assert(sweepsAt(expiry.plusSeconds(3L * 86400L + 3600L)).isEmpty)
    assert(reply("signup rules list").contains("No rules."))
  }

  /** The clock the catalogue's rules are evaluated at, so commands and
    * `matching` share one time. */
  private val fixedClock = Clock.fixed(Instant.ofEpochMilli(Rules.nowUs / 1000L), ZoneOffset.UTC)
  private val dayUs = 86400L * 1000000L

  test("rules add: a duplicate name is refused, and the old rule keeps matching") {
    val (_, reply, _, rulesPath) = app(Seq(rule("r_mal", "mal")))
    assert(reply("signup rules add r_mal if username contains bob then notify")
      .contains("Rule r_mal already exists."))
    assert(matching(rulesPath, "mal1") == Set("r_mal"))
    assert(matching(rulesPath, "bob1").isEmpty, "the refused pattern matches nothing")
    assert(RuleStore.load(spark, rulesPath).select("pattern").collect().map(_.getString(0))
      .toSeq == Seq("mal"), "a refused add writes nothing")
  }

  test("rules list: a disabled rule's name is in parentheses, sorted by name") {
    val (_, reply, _, _) = app(Seq(rule("r_c", "c"), rule("r_b", "b"), rule("r_a", "a")))
    assert(reply("signup rules disable-re ^r_b").contains("Rules disabled."))
    assert(reply("signup rules list").contains("r_a, (r_b), r_c"))
  }

  test("rule snapshot: every mutating command and a sweep reach the next match, and the snapshot equals the file") {
    val (_, reply, _, rulesPath) = app(Seq(
      rule("r_soon", "mal", Some(Rules.nowUs + dayUs)),
      rule("r_old", "mal", Some(Rules.nowUs - dayUs))), fixedClock)
    def step(want: Set[String]): Unit = {
      assert(matching(rulesPath, "mal1") == want)
      assert(GraftApp.rules(spark, rulesPath).collect().toSet ==
        RuleStore.load(spark, rulesPath).collect().toSet, "the snapshot drifted from the file")
    }
    step(Set("r_soon"))
    assert(reply("signup rules add r_al if username contains al then notify")
      .contains("Rule r_al added."))
    step(Set("r_soon", "r_al"))
    assert(reply("signup rules disable-re ^r_soon").contains("Rules disabled."))
    step(Set("r_al"))
    assert(reply("signup rules enable-re ^r_soon").contains("Rules enabled."))
    step(Set("r_soon", "r_al"))
    assert(reply("signup rules renew r_old 14d").contains("Rule r_old renewed."))
    step(Set("r_soon", "r_al", "r_old"))
    assert(reply("signup rules remove r_al").contains("Rule r_al removed."))
    step(Set("r_soon", "r_old"))
    // five days on, r_soon is more than three days past its expiry
    GraftApp.sweepRules(spark, rulesPath, Rules.nowUs + 5L * dayUs)
    step(Set("r_old"))
  }

  /** The Spark jobs `body` starts on this thread, and the physical plans of
    * their SQL executions. */
  private def jobsOf(body: => Unit): (Int, Seq[String]) = {
    val key = "graft.spec.tag"
    val tag = java.util.UUID.randomUUID().toString
    val execIds = new ConcurrentLinkedQueue[Long]()
    val plans = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).foreach { p =>
          if (p.getProperty(key) == tag)
            execIds.add(Option(p.getProperty("spark.sql.execution.id")).fold(-1L)(_.toLong))
          else if (p.getProperty(key) == s"$tag-end") flushed.countDown()
        }
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          plans.put(s.executionId, s.physicalPlanDescription)
        case _ => ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setLocalProperty(key, tag)
      body
      // the listener bus delivers events in order, asynchronously: once it
      // has delivered this marker job, it has delivered every earlier event
      spark.sparkContext.setLocalProperty(key, s"$tag-end")
      spark.sparkContext.parallelize(Seq(1), 1).count()
      assert(flushed.await(30, java.util.concurrent.TimeUnit.SECONDS), "listener bus flush")
    } finally {
      spark.sparkContext.setLocalProperty(key, null)
      spark.sparkContext.removeSparkListener(listener)
    }
    val ids = execIds.asScala.toSeq
    (ids.size, ids.distinct.flatMap(id => Option(plans.get(id))))
  }

  test("job budget: the batch after an add command, and the one after a sweep, runs at most 2 Spark jobs and reads no rules file") {
    val (handle, reply, posted, rulesPath) =
      app(Seq(rule("r_soon", "zzz", Some(Rules.nowUs + dayUs))), fixedClock)
    handle(signups("mal0" -> 1L), 0L) // the dispatcher's first batch
    assert(reply("signup rules add r_mal if username contains mal then notify")
      .contains("Rule r_mal added."))
    val (addJobs, addPlans) = jobsOf(handle(signups("mal1" -> 2L), 1L))
    // five days on, r_soon is more than three days past its expiry
    GraftApp.sweepRules(spark, rulesPath, Rules.nowUs + 5L * dayUs)
    val (sweepJobs, sweepPlans) = jobsOf(handle(signups("mal2" -> 3L), 2L))
    assert(posted == Seq("action notify on mal1 (rule r_mal)", "action notify on mal2 (rule r_mal)"))
    assert(GraftApp.rules(spark, rulesPath).select("name").collect().map(_.getString(0))
      .toSeq == Seq("r_mal"), "the sweep dropped r_soon")
    for ((after, jobs, plans) <- Seq(("add", addJobs, addPlans), ("sweep", sweepJobs, sweepPlans))) {
      assert(jobs <= 2, s"Spark jobs in the batch after the $after: $jobs\n${plans.mkString("\n")}")
      assert(!plans.exists(_.contains(rulesPath)),
        s"the batch after the $after read the rules file:\n${plans.mkString("\n")}")
    }
  }

  test("job budget: a steady micro-batch with matches and no holds runs at most 2 Spark jobs") {
    val work = java.nio.file.Files.createTempDirectory("graft_jobs").toString
    val rulesPath = s"$work/rules.json"
    RuleStore.save(Rules.dfFor(spark, Seq(rule("r_mal", "mal"))), rulesPath)
    val zulip = HttpServer.create(new InetSocketAddress("localhost", 0), 0)
    zulip.createContext("/api/v1/register", (ex: HttpExchange) => {
      try respond(ex, """{"result":"success","queue_id":"q-1"}""") finally ex.close()
    })
    zulip.createContext("/api/v1/events", (ex: HttpExchange) => {
      try {
        Thread.sleep(200)
        respond(ex, """{"result":"success","events":[{"id":1,"type":"heartbeat"}]}""")
      } finally ex.close()
    })
    val posts = new AtomicInteger(0)
    zulip.createContext("/api/v1/messages", (ex: HttpExchange) => {
      try {
        ex.getRequestBody.readAllBytes(); posts.incrementAndGet()
        respond(ex, """{"result":"success"}""")
      } finally ex.close()
    })
    zulip.setExecutor(java.util.concurrent.Executors.newCachedThreadPool())
    zulip.start()
    // one signup every 50 ms, every one matching r_mal (notify: no hold)
    @volatile var feeding = true
    val feed = HttpServer.create(new InetSocketAddress("localhost", 0), 0)
    feed.createContext("/feed", (ex: HttpExchange) => {
      try {
        ex.sendResponseHeaders(200, 0)
        val os = ex.getResponseBody
        var n = 0
        while (feeding) {
          n += 1
          os.write((s"""{"t":"signup","username":"mal$n","email":"m$n@x.example","ip":"9.9.$n.1"}""" +
            "\n").getBytes(StandardCharsets.UTF_8))
          os.flush()
          Thread.sleep(50)
        }
        os.close()
      } catch { case _: java.io.IOException => () } finally ex.close()
    })
    feed.setExecutor(java.util.concurrent.Executors.newCachedThreadPool())
    feed.start()

    // every Spark job as (query, micro-batch, SQL execution), from the job
    // properties, and every SQL execution's root and physical plan
    val jobs = new ConcurrentLinkedQueue[(String, Long, Long)]()
    val execs = new java.util.concurrent.ConcurrentHashMap[Long, (Long, String)]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).foreach { p =>
          val q = p.getProperty("sql.streaming.queryId")
          val b = p.getProperty("streaming.sql.batchId")
          val x = Option(p.getProperty("spark.sql.execution.id")).fold(-1L)(_.toLong)
          if (q != null && b != null) jobs.add((q, b.toLong, x))
        }
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          execs.put(s.executionId,
            (s.rootExecutionId.getOrElse(s.executionId), s.physicalPlanDescription))
        case _ => ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val zport = zulip.getAddress.getPort
    val conf = ZulipConf.default.copy(rulesPath = rulesPath, zulipBotToken = "tok",
      zulipBotId = "bot@example.org", zulipBotUsername = "graftbot",
      zulipCommandStream = "cmd", zulipCommandTopic = "cmd", zulipNotifyStream = "notify",
      zulipNotifyTopic = "actions", zulipUrl = s"localhost:$zport")
    val handles = GraftApp.start(spark, conf,
      s"http://localhost:${feed.getAddress.getPort}/feed", work,
      zulipBaseUrlOverride = Some(s"http://localhost:$zport"), sweepMs = 600000L)
    try {
      // steady state: batches after the first one, each with input (so with matches)
      def steady = handles.events.recentProgress.filter(p => p.batchId > 0 && p.numInputRows > 0)
      val deadline = System.currentTimeMillis() + 120000
      while (steady.length < 5 && System.currentTimeMillis() < deadline) Thread.sleep(200)
      val batches = steady.map(_.batchId).take(5)
      assert(batches.length == 5, "five steady micro-batches")
      Thread.sleep(500) // the listener bus delivers job starts asynchronously
      val qid = handles.events.id.toString
      val ours = jobs.asScala.filter(_._1 == qid).toSeq
      val counts = batches.map(b => b -> ours.count(_._2 == b)).toMap
      // each of the batch's SQL executions (with those nested under them):
      // its jobs and the paths its plan reads or writes, else its scans
      def steps(b: Long): String = {
        val ids = ours.filter(_._2 == b).map(_._3).toSet
        val roots = ids.flatMap(id => Option(execs.get(id)).map(_._1))
        execs.asScala.toSeq.sortBy(_._1)
          .filter { case (id, (root, _)) => ids(id) || roots(root) }
          .map { case (id, (root, plan)) =>
            val paths = "file:[^\\s,\\])]+".r.findAllIn(plan).toSeq.distinct
            val scans = "\\w*Scan\\w*".r.findAllIn(plan).toSeq.distinct
            s"exec $id (root $root): ${ours.count(_._3 == id)} jobs, " +
              (if (paths.nonEmpty) paths.mkString(" ") else scans.mkString(" "))
          }.mkString(s"batch $b: ", "; ", "")
      }
      assert(counts.values.forall(n => n > 0 && n <= 2),
        s"Spark jobs per batch: $counts\n" + batches.map(steps).mkString("\n"))
      assert(posts.get() > 0, "the matches were dispatched")
      assert(!new java.io.File(s"$work/pending").exists(), "notify actions are never held")
      assert(!new java.io.File(s"$work/events").exists(), "`seen` keeps no event log")
    } finally {
      feeding = false
      spark.sparkContext.removeSparkListener(listener)
      handles.shutdown()
      zulip.stop(0)
      feed.stop(0)
    }
  }
}
