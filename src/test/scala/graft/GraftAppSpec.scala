package graft

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.scalatest.funsuite.AnyFunSuite

import graft.rules.{RuleRow, Rules, RuleStore}
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
      sweepMs = 500L, zulipCheckMs = 60000L, zulipSilenceRestartMs = 600000L)
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
      // quiesce before reading the log — a first append still in flight has
      // an empty dir (schema inference fails) until its commit lands
      handles.events.processAllAvailable()
      handles.events.stop()
    } finally {
      handles.shutdown()
      zulip.stop(0)
      feed.stop(0)
    }
    // Post-shutdown reads: the app's own accesses go through its rules
    // lock, but this spec-side load doesn't — reading while the 500 ms
    // expiry sweep may be mid-overwrite (delete + _temporary + rename) can
    // see an empty dir. After shutdown no writer is live.
    // effectively-once: the dispatch log never carries a duplicate key
    val log = spark.read.parquet(s"$work/dispatched")
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
      GraftApp.commandDispatcher(fresh, s"$work/rules.json", s"$work/events"))
    assert(reply("signup rules test `is_in_ip_range(ip, '127.0.0.0', '127.255.255.255')`")
      .contains("Result: true"))
  }
}
