package graft

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** Exercises the custom `http-ndjson` DataSourceV2 streaming source against
  * a real chunked-HTTP server, including the drop-and-reconnect path the
  * reference handles (eventstream.rs:62-72). */
class HttpSourceSpec extends AnyFunSuite {
  import SparkTest._

  private def serve(path: String)(handler: (Int, HttpExchange) => Unit): (HttpServer, String) = {
    val server = HttpServer.create(new InetSocketAddress("localhost", 0), 0)
    val hits = new AtomicInteger(0)
    server.createContext(path, (ex: HttpExchange) => {
      try handler(hits.incrementAndGet(), ex) finally ex.close()
    })
    server.setExecutor(java.util.concurrent.Executors.newCachedThreadPool())
    server.start()
    (server, s"http://localhost:${server.getAddress.getPort}$path")
  }

  private def chunked(ex: HttpExchange, lines: Seq[String]): Unit = {
    ex.sendResponseHeaders(200, 0) // length 0 => chunked transfer
    val os = ex.getResponseBody
    lines.foreach { l => os.write((l + "\n").getBytes(StandardCharsets.UTF_8)); os.flush() }
    os.close() // server drops the stream; client must reconnect
  }

  /** Writes lines "0", "1", … "n-1" as fast as the reader takes them. */
  private def flood(ex: HttpExchange, n: Int): Unit = {
    ex.sendResponseHeaders(200, 0)
    val os = new java.io.BufferedOutputStream(ex.getResponseBody, 1 << 16)
    try {
      (0 until n).foreach(i => os.write(s"$i\n".getBytes(StandardCharsets.UTF_8)))
      os.close()
    } catch { case _: java.io.IOException => () } // a stopped reader hung up
  }

  /** A fresh, empty replay-journal directory for one source instance. */
  private def journalDir(): String =
    java.nio.file.Files.createTempDirectory("http_replay").toString + "/graft-replay"

  private def metric(s: sources.HttpNdjsonMicroBatchStream, key: String): Long =
    s.metrics(java.util.Optional.empty()).get(key).toLong

  private def collectUntil(queryName: String, n: Int,
      q: org.apache.spark.sql.streaming.StreamingQuery): Array[Row] = {
    val deadline = System.currentTimeMillis() + 30000
    var rows = Array.empty[Row]
    while (rows.length < n && System.currentTimeMillis() < deadline) {
      q.processAllAvailable()
      rows = spark.table(queryName).collect()
      if (rows.length < n) Thread.sleep(100)
    }
    rows
  }

  test("http-ndjson: chunked lines stream in and survive a server drop") {
    val batch1 = Seq("""{"t":"signup","username":"u1"}""", """{"t":"signup","username":"u2"}""")
    val batch2 = Seq("""{"t":"signup","username":"u3"}""")
    val (server, url) = serve("/feed") { (hit, ex) =>
      hit match {
        case 1 => chunked(ex, batch1)
        case 2 => chunked(ex, batch2)
        case _ => chunked(ex, Nil) // drained: empty stream, client keeps retrying
      }
    }
    val q = spark.readStream.format("http-ndjson")
      .option("url", url).option("reconnectDelayMs", 100).load()
      .writeStream.format("memory").queryName("http_feed").outputMode("append").start()
    try {
      val rows = collectUntil("http_feed", 3, q)
      assert(rows.map(_.getAs[String]("value")).toSet == (batch1 ++ batch2).toSet,
        "all lines across both connections arrive exactly once")
      assert(rows.forall(_.getAs[java.sql.Timestamp]("recv_ts") != null))
    } finally { q.stop(); server.stop(0) }
  }

  test("http-ndjson sse mode: data: framing, multi-line events, comments skipped") {
    val sse = Seq(
      ": keepalive comment",
      "event: signup",
      "data: {\"part\":1,",
      "data: \"part2\":2}",
      "",
      "data: single",
      "")
    val (server, url) = serve("/sse") { (hit, ex) =>
      if (hit == 1) chunked(ex, sse) else chunked(ex, Nil)
    }
    val q = spark.readStream.format("http-ndjson")
      .option("url", url).option("mode", "sse").option("reconnectDelayMs", 100).load()
      .writeStream.format("memory").queryName("http_sse").outputMode("append").start()
    try {
      val rows = collectUntil("http_sse", 2, q)
      val vals = rows.map(_.getAs[String]("value")).toSet
      assert(vals == Set("{\"part\":1,\n\"part2\":2}", "single"), s"got $vals")
    } finally { q.stop(); server.stop(0) }
  }

  test("maxLinesPerTrigger bounds each micro-batch without losing lines") {
    val lines = (1 to 7).map(i => s"""{"n":$i}""")
    val (server, url) = serve("/paced") { (hit, ex) =>
      if (hit == 1) chunked(ex, lines) else chunked(ex, Nil)
    }
    val q = spark.readStream.format("http-ndjson")
      .option("url", url).option("reconnectDelayMs", 100)
      .option("maxLinesPerTrigger", 2).load()
      .writeStream.format("memory").queryName("http_paced").outputMode("append").start()
    try {
      val rows = collectUntil("http_paced", 7, q)
      assert(rows.map(_.getAs[String]("value")).toSet == lines.toSet,
        "rate-limited triggers must still deliver every line exactly once")
      assert(q.recentProgress.count(_.numInputRows > 0) >= 4,
        "7 lines at <=2/trigger need at least 4 non-empty batches")
    } finally { q.stop(); server.stop(0) }
  }

  test("checkpoint restart: re-running the uncommitted batch delivers empty, not a crash-loop") {
    // No live server needed: the restart path is pure offset bookkeeping.
    val s = new sources.HttpNdjsonMicroBatchStream("http://localhost:1/none",
      sse = false, reconnectDelayMs = 60000, readTimeoutMs = 0,
      maxLinesPerTrigger = Long.MaxValue, replayDir = journalDir())
    try {
      // offset-log restore: committed batch ended at 3, uncommitted at 5 —
      // deserializeOffset rebases the fresh (empty) buffer to the max (5)
      s.deserializeOffset("3")
      s.deserializeOffset("5")
      // Spark re-runs the uncommitted batch [3,5): those lines died with
      // the previous process — it must come back empty so the query can
      // commit past it, not fail the require and crash-loop
      assert(s.planInputPartitions(sources.HttpLineOffset(3), sources.HttpLineOffset(5)).isEmpty)
      // a window STRADDLING the base with no journal to stitch from is a
      // bookkeeping bug (trimmed lines a batch still addresses), still loud
      intercept[IllegalStateException] {
        s.planInputPartitions(sources.HttpLineOffset(3), sources.HttpLineOffset(6))
      }
    } finally s.stop()
  }

  test("checkpoint journal: a killed process's uncommitted batch replays byte-identical") {
    // The exactly-once-without-Kafka contract: process A plans two batches,
    // commits only the first, dies. Process B restores the SAME checkpoint
    // while the feed is gone — Spark re-runs the uncommitted window, and the
    // journal must serve back the identical (value, recv_ts) rows that died
    // with A's buffer (the pre-journal behavior was a loud empty delivery).
    val lines = (1 to 5).map(i => s"""{"n":$i}""")
    val (server, url) = serve("/journal") { (hit, ex) =>
      if (hit == 1) chunked(ex, lines) else chunked(ex, Nil)
    }
    val replay = java.nio.file.Files.createTempDirectory("http_journal")
      .toString + "/graft-replay"
    def values(ps: Array[org.apache.spark.sql.connector.read.InputPartition]) =
      ps.flatMap(_.asInstanceOf[sources.HttpLinesPartition].rows).toSeq
    val a = new sources.HttpNdjsonMicroBatchStream(url, sse = false,
      reconnectDelayMs = 100, readTimeoutMs = 0,
      maxLinesPerTrigger = Long.MaxValue, replayDir = replay)
    var batch2 = Seq.empty[(String, Long)]
    try {
      val deadline = System.currentTimeMillis() + 30000
      var end = 0L
      while (end < 5 && System.currentTimeMillis() < deadline) {
        end = a.latestOffset().asInstanceOf[sources.HttpLineOffset].n
        if (end < 5) Thread.sleep(50)
      }
      assert(end == 5, s"tap must buffer all 5 lines, saw $end")
      val batch1 = values(a.planInputPartitions(
        sources.HttpLineOffset(0), sources.HttpLineOffset(3)))
      batch2 = values(a.planInputPartitions(
        sources.HttpLineOffset(3), sources.HttpLineOffset(5)))
      assert(batch1.map(_._1) == lines.take(3))
      assert(batch2.map(_._1) == lines.drop(3))
      a.commit(sources.HttpLineOffset(3))
      // committed journal entry pruned; the uncommitted one survives
      // (window files only — _committed/.crc are watermark bookkeeping)
      val left = new java.io.File(replay).list().filter(_.matches("\\d+-\\d+")).toSet
      assert(left == Set("3-5"), s"journal after commit(3): $left")
    } finally { a.stop(); server.stop(0) }

    // "fresh process": new instance, same journal, feed unreachable
    val b = new sources.HttpNdjsonMicroBatchStream("http://localhost:1/none",
      sse = false, reconnectDelayMs = 60000, readTimeoutMs = 0,
      maxLinesPerTrigger = Long.MaxValue, replayDir = replay)
    try {
      b.deserializeOffset("3")
      b.deserializeOffset("5")
      val replayed = values(b.planInputPartitions(
        sources.HttpLineOffset(3), sources.HttpLineOffset(5)))
      assert(replayed == batch2,
        s"replayed window must be byte-identical incl. recv_ts: $replayed vs $batch2")
      // once the engine commits the replayed batch, its journal entry goes
      b.commit(sources.HttpLineOffset(5))
      assert(new java.io.File(replay).list().filter(_.matches("\\d+-\\d+")).isEmpty)
    } finally b.stop()
  }

  test("query-level stop/restart on one checkpoint: no loss, no duplication") {
    val first = (1 to 4).map(i => s"""{"a":$i}""")
    val second = (5 to 7).map(i => s"""{"a":$i}""")
    // phase-gated feed: the tap reconnects as soon as a chunked response
    // ends, so "serve second on the next hit" would leak the second batch
    // into run 1 — the gate only opens it after run 1 has fully stopped
    val phase2 = new java.util.concurrent.atomic.AtomicBoolean(false)
    val served = new java.util.concurrent.atomic.AtomicInteger(0)
    val (server, url) = serve("/restart") { (hit, ex) =>
      if (hit == 1) chunked(ex, first)
      else if (phase2.get && served.compareAndSet(0, 1)) chunked(ex, second)
      else chunked(ex, Nil)
    }
    // memory sink refuses checkpoint recovery; foreachBatch supports it —
    // the production sink shape for this source anyway
    val ckpt = java.nio.file.Files.createTempDirectory("http_ckpt").toString
    val got = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def run(n: Int): Seq[String] = {
      val q = spark.readStream.format("http-ndjson")
        .option("url", url).option("reconnectDelayMs", 100).load()
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.select("value").collect().foreach(r => got.add(r.getString(0)))
          ()
        }
        .option("checkpointLocation", ckpt).start()
      try {
        val deadline = System.currentTimeMillis() + 30000
        while (got.size < n && System.currentTimeMillis() < deadline) {
          q.processAllAvailable(); Thread.sleep(100)
        }
      } finally q.stop()
      got.toArray(Array.empty[String]).toSeq
    }
    val got1 = run(first.size)
    assert(got1.sorted == first.sorted, s"run 1 must see exactly the first batch: $got1")
    phase2.set(true)
    val all =
      try run(first.size + second.size)
      finally server.stop(0)
    assert(all.sorted == (first ++ second).sorted,
      s"restart must lose nothing and duplicate nothing: $all")
  }

  test("silent-stream watchdog: a stalled connection times out and reconnects") {
    val (server, url) = serve("/stall") { (hit, ex) =>
      if (hit == 1) {
        // one line, then stall without closing — only the watchdog can save us
        ex.sendResponseHeaders(200, 0)
        val os = ex.getResponseBody
        os.write("{\"a\":1}\n".getBytes(StandardCharsets.UTF_8)); os.flush()
        Thread.sleep(5000)
        os.close()
      } else chunked(ex, if (hit == 2) Seq("{\"a\":2}") else Nil)
    }
    val q = spark.readStream.format("http-ndjson")
      .option("url", url).option("reconnectDelayMs", 100)
      .option("silenceTimeoutMs", 300).load()
      .writeStream.format("memory").queryName("http_stall").outputMode("append").start()
    try {
      val rows = collectUntil("http_stall", 2, q)
      assert(rows.map(_.getAs[String]("value")).toSet == Set("{\"a\":1}", "{\"a\":2}"),
        "watchdog must abandon the stalled connection and pick up the fresh stream")
    } finally { q.stop(); server.stop(0) }
  }

  test("event-silence supervisor: keepalives without events force a restart") {
    // hit 1: one event, then only SSE comments — bytes keep flowing, so a
    // byte-level read timeout never fires; only the event-silence watchdog
    // (status.rs:20-68) can declare the feed dead and restart it.
    val (server, url) = serve("/silent") { (hit, ex) =>
      if (hit == 1) {
        ex.sendResponseHeaders(200, 0)
        val os = ex.getResponseBody
        os.write("data: one\n\n".getBytes(StandardCharsets.UTF_8)); os.flush()
        try (1 to 50).foreach { _ =>
          os.write(": keepalive\n".getBytes(StandardCharsets.UTF_8)); os.flush()
          Thread.sleep(100)
        } catch { case _: Exception => () } // watchdog disconnected us — expected
        try os.close() catch { case _: Exception => () }
      } else chunked(ex, if (hit == 2) Seq("data: two", "") else Nil)
    }
    val q = spark.readStream.format("http-ndjson")
      .option("url", url).option("mode", "sse").option("reconnectDelayMs", 100)
      .option("silenceRestartMs", 400).load()
      .writeStream.format("memory").queryName("http_silent").outputMode("append").start()
    try {
      val rows = collectUntil("http_silent", 2, q)
      assert(rows.map(_.getAs[String]("value")).toSet == Set("one", "two"),
        "supervisor must restart the silent-but-alive connection and pick up the fresh stream")
    } finally { q.stop(); server.stop(0) }
  }

  test("event-silence supervisor: a feed that sends no bytes at all is restarted") {
    // the watchdog's disconnect() waits for a read blocked on a byte-silent
    // feed, so the read timeout (silenceRestartMs unless set) ends that read
    val release = new java.util.concurrent.CountDownLatch(1)
    val (server, url) = serve("/mute") { (hit, ex) =>
      if (hit == 1) {
        ex.sendResponseHeaders(200, 0)
        val os = ex.getResponseBody
        os.write("{\"a\":1}\n".getBytes(StandardCharsets.UTF_8)); os.flush()
        release.await(60, java.util.concurrent.TimeUnit.SECONDS) // open, no bytes
        try os.close() catch { case _: java.io.IOException => () }
      } else chunked(ex, if (hit == 2) Seq("{\"a\":2}") else Nil)
    }
    val q = spark.readStream.format("http-ndjson")
      .option("url", url).option("reconnectDelayMs", 100)
      .option("silenceRestartMs", 400).load()
      .writeStream.format("memory").queryName("http_mute").outputMode("append").start()
    try {
      val t0 = System.currentTimeMillis()
      val rows = collectUntil("http_mute", 2, q)
      val ms = System.currentTimeMillis() - t0
      assert(rows.map(_.getAs[String]("value")).toSet == Set("{\"a\":1}", "{\"a\":2}"))
      assert(ms < 10000, s"the mute connection was restarted only after $ms ms")
    } finally { release.countDown(); q.stop(); server.stop(0) }
  }

  test("stop() returns at once on an open but silent feed, and no later line is buffered") {
    val release = new java.util.concurrent.CountDownLatch(1)
    val (server, url) = serve("/quiet") { (hit, ex) =>
      if (hit == 1) {
        ex.sendResponseHeaders(200, 0)
        val os = ex.getResponseBody
        os.write("{\"a\":1}\n".getBytes(StandardCharsets.UTF_8)); os.flush()
        release.await(30, java.util.concurrent.TimeUnit.SECONDS) // silent, held open
        try {
          os.write("{\"a\":2}\n".getBytes(StandardCharsets.UTF_8)); os.flush(); os.close()
        } catch { case _: java.io.IOException => () }
      } else chunked(ex, Nil)
    }
    val s = new sources.HttpNdjsonMicroBatchStream(url, sse = false,
      reconnectDelayMs = 100, readTimeoutMs = 0,
      maxLinesPerTrigger = Long.MaxValue, replayDir = journalDir())
    try {
      val deadline = System.currentTimeMillis() + 10000
      while (s.latestOffset() != sources.HttpLineOffset(1) &&
          System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(s.latestOffset() == sources.HttpLineOffset(1), "first line must arrive")
      val t0 = System.nanoTime()
      s.stop() // the reader is blocked in readLine on the silent stream
      val ms = (System.nanoTime() - t0) / 1e6
      assert(ms < 1000, s"stop() took $ms ms on a silent feed")
      release.countDown() // the feed speaks again: the stopped reader drops it
      Thread.sleep(300)
      assert(s.latestOffset() == sources.HttpLineOffset(1), "no line after stop")
    } finally { release.countDown(); server.stop(0) }
  }

  test("full reference program live: HTTP tap -> rule engine -> matched actions") {
    // r_email_contains ('@MAIL3', ci, no expiry) must fire for the first
    // signup; the second matches no standing rule
    val lines = Seq(
      """{"t":"signup","username":"baddie","email":"bad@mail3.example","ip":"9.9.9.9","userAgent":"Mozilla/5.0 something long enough"}""",
      """{"t":"signup","username":"innocent","email":"b@y.io","ip":"8.8.8.8","userAgent":"Mozilla/5.0 something long enough"}""")
    val (server, url) = serve("/live") { (hit, ex) =>
      if (hit == 1) chunked(ex, lines) else chunked(ex, Nil)
    }
    val signups = graft.streaming.NdjsonIngest.fromHttp(spark, url, reconnectDelayMs = 100)
      .withColumn("fingerprint", org.apache.spark.sql.functions.coalesce(
        org.apache.spark.sql.functions.col("fingerprint"),
        org.apache.spark.sql.functions.lit("")))
    val matched = graft.rules.RuleEngine
      .matches(signups, graft.rules.Rules.df(spark))
      .select("username", "name", "actions")
    val q = matched.writeStream.format("memory").queryName("http_live")
      .outputMode("append").start()
    try {
      val rows = collectUntil("http_live", 1, q)
      assert(rows.exists(r => r.getAs[String]("username") == "baddie" &&
        r.getAs[String]("name") == "r_email_contains"),
        s"email rule must fire, got ${rows.mkString(",")}")
      assert(!rows.exists(_.getAs[String]("username") == "innocent"))
    } finally { q.stop(); server.stop(0) }
  }

  test("NdjsonIngest.fromHttp: end-to-end signup pipeline off the HTTP tap") {
    val lines = Seq(
      """{"t":"signup","username":"alice","email":"a@x.io","ip":"1.2.3.4","userAgent":"curl/7.1","suspIp":true}""",
      """garbage line""",
      """{"t":"other","username":"bob"}""",
      """{"t":"signup","username":"carol","email":"c@y.io","ip":"5.6.7.8"}""")
    val (server, url) = serve("/events") { (hit, ex) =>
      if (hit == 1) chunked(ex, lines) else chunked(ex, Nil)
    }
    val q = graft.streaming.NdjsonIngest.fromHttp(spark, url, reconnectDelayMs = 100)
      .writeStream.format("memory").queryName("http_signups").outputMode("append").start()
    try {
      val rows = collectUntil("http_signups", 2, q)
      assert(rows.map(_.getAs[String]("username")).toSet == Set("alice", "carol"))
    } finally { q.stop(); server.stop(0) }
  }

  test("a feed that outruns the engine: the buffer stays at its cap, every line once and in order") {
    val cap = sources.HttpNdjson.BufferCap
    val total = 10 * cap
    val (server, url) = serve("/flood") { (hit, ex) =>
      if (hit == 1) flood(ex, total) else chunked(ex, Nil)
    }
    // the watchdog checks every 50 ms; the consumer below leaves the reader
    // waiting on a full buffer for longer than this after each batch
    val s = new sources.HttpNdjsonMicroBatchStream(url, sse = false,
      reconnectDelayMs = 100, readTimeoutMs = 0, maxLinesPerTrigger = Long.MaxValue,
      replayDir = journalDir(), silenceRestartMs = 300)
    try {
      var (start, next, outOfOrder, maxBuffered) = (0L, 0L, 0L, 0L)
      val deadline = System.currentTimeMillis() + 60000
      while (next < total && System.currentTimeMillis() < deadline) {
        maxBuffered = math.max(maxBuffered, metric(s, "bufferedLines"))
        val end = s.latestOffset(sources.HttpLineOffset(start), s.getDefaultReadLimit)
          .asInstanceOf[sources.HttpLineOffset].n
        if (end == start) Thread.sleep(20)
        else {
          assert(end - start <= cap / 2, s"batch [$start,$end) is over the read limit")
          s.planInputPartitions(sources.HttpLineOffset(start), sources.HttpLineOffset(end))
            .flatMap(_.asInstanceOf[sources.HttpLinesPartition].rows).foreach { r =>
              if (r._1 != next.toString) outOfOrder += 1
              next += 1
            }
          // as Spark does: the previous batch commits once this one is planned
          s.commit(sources.HttpLineOffset(start))
          start = end
          Thread.sleep(400)
        }
      }
      assert(next == total && outOfOrder == 0,
        s"$next of $total lines arrived, $outOfOrder out of place")
      assert(maxBuffered == cap, s"the buffer peaked at $maxBuffered lines, cap $cap")
      assert(metric(s, "silenceRestarts") == 0,
        "time spent waiting on a full buffer is not event silence")
    } finally { s.stop(); server.stop(0) }
  }

  test("stop() returns at once while the reader waits on a full buffer") {
    val cap = sources.HttpNdjson.BufferCap
    val (server, url) = serve("/full") { (hit, ex) =>
      if (hit == 1) flood(ex, 2 * cap) else chunked(ex, Nil)
    }
    val s = new sources.HttpNdjsonMicroBatchStream(url, sse = false,
      reconnectDelayMs = 100, readTimeoutMs = 0, maxLinesPerTrigger = Long.MaxValue,
      replayDir = journalDir())
    try {
      val deadline = System.currentTimeMillis() + 30000
      while (metric(s, "bufferedLines") < cap && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      assert(metric(s, "bufferedLines") == cap, "the flood must fill the buffer")
      Thread.sleep(200) // the reader now waits in offer with the next line
      val t0 = System.nanoTime()
      s.stop()
      val ms = (System.nanoTime() - t0) / 1e6
      assert(ms < 1000, s"stop() took $ms ms with the reader waiting on a full buffer")
      def reader = Thread.getAllStackTraces.keySet.asScala
        .exists(t => t.getName == s"http-ndjson-$url" && t.isAlive)
      val gone = System.currentTimeMillis() + 5000
      while (reader && System.currentTimeMillis() < gone) Thread.sleep(20)
      assert(!reader, "the stopped reader must leave its wait and exit")
      assert(metric(s, "bufferedLines") == cap, "no line after stop")
    } finally server.stop(0)
  }

  test("admission control: a second instance replays the first's uncommitted window from the journal") {
    val cap = sources.HttpNdjson.BufferCap
    val (server, url) = serve("/replay") { (hit, ex) =>
      if (hit == 1) flood(ex, 2 * cap) else chunked(ex, Nil)
    }
    val replay = java.nio.file.Files.createTempDirectory("http_admit")
      .toString + "/graft-replay"
    def rows(s: sources.HttpNdjsonMicroBatchStream, a: Long, b: Long) =
      s.planInputPartitions(sources.HttpLineOffset(a), sources.HttpLineOffset(b))
        .flatMap(_.asInstanceOf[sources.HttpLinesPartition].rows).toSeq
    def next(s: sources.HttpNdjsonMicroBatchStream, from: Long) =
      s.latestOffset(sources.HttpLineOffset(from), s.getDefaultReadLimit)
        .asInstanceOf[sources.HttpLineOffset].n
    val a = new sources.HttpNdjsonMicroBatchStream(url, sse = false,
      reconnectDelayMs = 100, readTimeoutMs = 0, maxLinesPerTrigger = 1000,
      replayDir = replay)
    var batch2 = Seq.empty[(String, Long)]
    try {
      val deadline = System.currentTimeMillis() + 30000
      while (metric(a, "bufferedLines") < cap && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      assert(next(a, 0) == 1000 && next(a, 1000) == 2000, "1000 lines per trigger")
      assert(rows(a, 0, 1000).map(_._1) == (0 until 1000).map(_.toString))
      batch2 = rows(a, 1000, 2000)
      a.commit(sources.HttpLineOffset(1000))
    } finally { a.stop(); server.stop(0) } // dies with a full buffer and [1000,2000) open

    val b = new sources.HttpNdjsonMicroBatchStream("http://localhost:1/none",
      sse = false, reconnectDelayMs = 60000, readTimeoutMs = 0,
      maxLinesPerTrigger = 1000, replayDir = replay)
    try {
      b.deserializeOffset("1000")
      b.deserializeOffset("2000")
      assert(rows(b, 1000, 2000) == batch2, "the uncommitted window replays byte-identical")
      assert(batch2.map(_._1) == (1000 until 2000).map(_.toString))
      assert(next(b, 2000) == 2000, "nothing new is buffered after the restart")
    } finally b.stop()
  }

  test("progress events carry the source metrics and the buffered end") {
    val lines = (1 to 3).map(i => s"""{"m":$i}""")
    val (server, url) = serve("/metrics") { (hit, ex) =>
      if (hit == 1) chunked(ex, lines) else chunked(ex, Nil)
    }
    val q = spark.readStream.format("http-ndjson")
      .option("url", url).option("reconnectDelayMs", 100).load()
      .writeStream.format("memory").queryName("http_metrics").outputMode("append").start()
    try {
      assert(collectUntil("http_metrics", 3, q).length == 3)
      val src = q.lastProgress.sources(0)
      assert(src.metrics.keySet.asScala ==
        Set("bufferedLines", "connects", "silenceRestarts", "consecutiveFailures"))
      assert(src.metrics.get("connects").toInt >= 1 && src.metrics.get("silenceRestarts") == "0")
      assert(src.latestOffset == "3" && src.endOffset == "3", src.json)
    } finally { q.stop(); server.stop(0) }
  }

  test("NdjsonIngest.fromHttp runs the event-silence supervisor with default options") {
    val (server, url) = serve("/supervised") { (_, ex) => chunked(ex, Nil) }
    val q = graft.streaming.NdjsonIngest.fromHttp(spark, url)
      .writeStream.format("memory").queryName("http_supervised").outputMode("append").start()
    def watchdog = Thread.getAllStackTraces.keySet.asScala
      .exists(t => t.getName == s"http-ndjson-watchdog-$url" && t.isAlive)
    try {
      val deadline = System.currentTimeMillis() + 30000
      while (!watchdog && System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(watchdog, "the live feed must run with its silence watchdog")
    } finally { q.stop(); server.stop(0) }
  }
}
