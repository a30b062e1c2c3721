package graft.sources

import java.io.{BufferedReader, InputStreamReader}
import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets
import java.util
import java.util.Optional
import javax.annotation.concurrent.GuardedBy

import scala.collection.mutable.ListBuffer

import org.apache.spark.internal.Logging
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, ReportsSourceMetrics, SupportsAdmissionControl}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.streaming.BatchJournal

/** Custom Structured Streaming source for HTTP chunked NDJSON / SSE feeds —
  * the reference's ingest loop (eventstream.rs:14-73: open a chunked HTTP
  * response, split on newlines, reconnect with a fixed backoff when the
  * stream drops) re-expressed as a DataSourceV2 `MicroBatchStream`.
  *
  * {{{
  *   spark.readStream.format("http-ndjson")
  *     .option("url", "http://host/api/stream/event")
  *     .option("mode", "ndjson")            // or "sse" (data: framing)
  *     .option("reconnectDelayMs", 7000)    // reference backoff, eventstream.rs:69
  *     .option("silenceRestartMs", 90000)   // event-silence restart, 0 = off
  *     .option("silenceTimeoutMs", 90000)   // byte-level read timeout, 0 = none
  *     .option("maxLinesPerTrigger", 1000)  // at most BufferCap / 2
  *     .load()                              // => value STRING, recv_ts TIMESTAMP
  * }}}
  *
  * A background thread owns the HTTP connection and appends lines to a
  * buffer of at most [[HttpNdjson.BufferCap]] lines; when it is full the
  * reader waits, which pushes back on the feed through TCP instead of
  * dropping lines. The engine owns batch sizes (`SupportsAdmissionControl`):
  * each micro-batch drains a [start, end) slice by line count, and `commit`
  * trims the buffer. Unlike Spark's built-in text-socket source
  * (driver-buffered, non-replayable), every PLANNED batch is also persisted
  * under the query's checkpoint dir (`<checkpoint>/graft-replay/<start>-<end>`,
  * written before the batch is handed to the engine, pruned at commit) — so
  * a restarted query re-reads the last uncommitted batch IDENTICALLY
  * instead of losing it, and the stop/restart contract is no-loss/no-dup for
  * every line the engine ever saw. What replay cannot cover is lines the
  * FEED emitted while no process was connected — that gap needs a durable
  * broker (Kafka) in front of the feed; this connector is the direct-tap
  * equivalent of the reference's process.
  */
class HttpNdjsonSourceProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "http-ndjson"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    HttpNdjson.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new HttpNdjsonTable(new CaseInsensitiveStringMap(properties))
}

object HttpNdjson {
  val schema: StructType = StructType(Seq(
    StructField("value", StringType),
    StructField("recv_ts", TimestampType)))

  /** Lines the reader may hold before it stops reading the feed. The read
    * limit is at most half of it: Spark commits batch N only after it plans
    * N+1, so a full buffer must still hold a next batch to plan. */
  val BufferCap = 65536
  val Partitions = 2 // input partitions per micro-batch
  val SilenceRestartMs = 90000L // the reference's event-silence threshold (status.rs)
}

class HttpNdjsonTable(options: CaseInsensitiveStringMap) extends Table with SupportsRead {
  override def name(): String = s"http-ndjson(${options.get("url")})"
  override def schema(): StructType = HttpNdjson.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with Scan {
      override def build(): Scan = this
      override def readSchema(): StructType = HttpNdjson.schema
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
        val silenceRestartMs = options.getLong("silenceRestartMs", HttpNdjson.SilenceRestartMs)
        new HttpNdjsonMicroBatchStream(
          url = Option(options.get("url")).getOrElse(
            throw new IllegalArgumentException("http-ndjson requires option 'url'")),
          sse = options.getOrDefault("mode", "ndjson").equalsIgnoreCase("sse"),
          reconnectDelayMs = options.getLong("reconnectDelayMs", 7000L),
          // byte-level watchdog: the reader reconnects after a read blocked
          // this long (0 = never). Defaults to silenceRestartMs: disconnect()
          // cannot end a read on a feed that sends no bytes at all.
          readTimeoutMs = options.getLong("silenceTimeoutMs", silenceRestartMs).toInt,
          maxLinesPerTrigger = options.getLong("maxLinesPerTrigger", Long.MaxValue),
          // EVENT-silence supervisor (status.rs:20-68): restart the
          // connection when no event arrived for this long. Distinct from
          // silenceTimeoutMs: SSE keepalive comments reset a byte-level
          // read timeout but are not events. 0 = disabled.
          silenceRestartMs = silenceRestartMs,
          replayDir = s"$checkpointLocation/graft-replay")
      }
    }
}

/** Line-count offset (monotonic over the life of the query). */
case class HttpLineOffset(n: Long) extends Offset {
  override def json(): String = n.toString
}

class HttpNdjsonMicroBatchStream(
    url: String,
    sse: Boolean,
    reconnectDelayMs: Long,
    readTimeoutMs: Int,
    maxLinesPerTrigger: Long,
    replayDir: String,
    silenceRestartMs: Long = HttpNdjson.SilenceRestartMs)
  extends MicroBatchStream with SupportsAdmissionControl with ReportsSourceMetrics
  with Logging {

  private val lock = new Object
  // lines [baseOffset, baseOffset + buffer.size); commit(n) trims below n
  @GuardedBy("lock") private val buffer = new ListBuffer[(String, Long)]
  @GuardedBy("lock") private var baseOffset = 0L
  @GuardedBy("lock") private var connects = 0
  @GuardedBy("lock") private var blocked = false // `offer` waits for room
  @volatile private var stopped = false
  @volatile private var lastError: Throwable = _
  @volatile private var consecutiveFailures = 0
  @volatile private var conn: HttpURLConnection = _

  // ---- event-silence supervisor (status.rs:20-68) --------------------------
  // Tracks the last EVENT (offered line), not the last byte: a connection
  // kept alive by SSE comments or TCP keepalives while the feed is dead is
  // exactly the failure the reference's status loop restarts on. Time the
  // reader spends waiting on a full buffer is the engine's lag, not silence.
  @volatile private var lastEventAtMs = System.currentTimeMillis()
  @volatile private var silenceRestarts = 0

  private val watchdog: Option[Thread] =
    if (silenceRestartMs <= 0) None
    else Some(new Thread(s"http-ndjson-watchdog-$url") {
      setDaemon(true)
      override def run(): Unit = {
        while (!stopped) {
          try Thread.sleep(math.max(1L, silenceRestartMs / 6)) // status.rs:73: 15 s at 90 s
          catch { case _: InterruptedException => return }
          if (lock.synchronized(!stopped && !blocked &&
              System.currentTimeMillis() - lastEventAtMs > silenceRestartMs)) {
            logWarning(s"http-ndjson: no event for >$silenceRestartMs ms — " +
              "restarting event stream watcher")
            silenceRestarts += 1
            lastEventAtMs = System.currentTimeMillis() // status.rs:38 resets the clock
            Option(conn).foreach(_.disconnect()) // reader loop reconnects after backoff
          }
        }
      }
    })

  private val reader = new Thread(s"http-ndjson-$url") {
    setDaemon(true)
    override def run(): Unit = {
      try while (!stopped) {
        try {
          val c = URI.create(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
          conn = c
          c.setReadTimeout(readTimeoutMs)
          c.setRequestProperty("Accept",
            if (sse) "text/event-stream" else "application/x-ndjson")
          val in = new BufferedReader(
            new InputStreamReader(c.getInputStream, StandardCharsets.UTF_8))
          lock.synchronized { connects += 1 }
          consecutiveFailures = 0
          lastEventAtMs = System.currentTimeMillis() // fresh connection, fresh clock
          try {
            val dataAcc = new StringBuilder // SSE: accumulated data: lines
            var line = in.readLine()
            while (line != null && !stopped) {
              if (sse) {
                // SSE framing (WHATWG spec): "data:" lines accumulate; a blank
                // line dispatches the event; ":" comments and other fields skip.
                if (line.isEmpty) {
                  if (dataAcc.nonEmpty) { offer(dataAcc.result()); dataAcc.clear() }
                } else if (line.startsWith("data:")) {
                  if (dataAcc.nonEmpty) dataAcc.append('\n')
                  dataAcc.append(line.stripPrefix("data:").stripPrefix(" "))
                }
              } else if (line.nonEmpty) offer(line)
              line = in.readLine()
            }
            if (sse && dataAcc.nonEmpty) offer(dataAcc.result())
          } finally {
            in.close(); c.disconnect()
          }
        } catch {
          case e: Throwable if !stopped =>
            lastError = e
            consecutiveFailures += 1
            // log the failure; latestOffset escalates to a query error
            // once the failures are persistent — without that a typo'd
            // URL / DNS / TLS error retries forever while the stream
            // reads as merely idle
            logWarning(s"http-ndjson connect/read failed (will retry in " +
              s"$reconnectDelayMs ms): $e")
        }
        // stream ended or failed: the reference retries after a fixed pause
        if (!stopped) Thread.sleep(reconnectDelayMs)
      } catch { case _: InterruptedException if stopped => () } // stop() cut a pause short
    }
  }
  // Resume the line numbering where the previous process stopped — BEFORE
  // the reader thread can buffer anything. Without this, a restarted
  // instance numbers fresh lines from 0, colliding with the committed
  // history (observed: the engine then plans a backwards [4,3) batch and a
  // stitched window whose journal segment was pruned). The resume point is
  // the persisted committed watermark (written at every commit) advanced
  // past any journaled planned-but-uncommitted window.
  locally {
    try {
      var resume = 0L
      if (journal.exists("_committed"))
        resume = journal.readLines("_committed").head.trim.toLong
      journal.names().foreach(n => parseWindow(n).foreach { case (_, b) =>
        resume = math.max(resume, b)
      })
      if (resume > 0L) lock.synchronized { baseOffset = resume }
    } catch {
      case e0: Throwable =>
        // degraded: the deserializeOffset rebase heuristic still prevents
        // a crash-loop, at the cost of redelivering nothing
        logWarning(s"http-ndjson: cannot restore resume point from " +
          s"$replayDir (falling back to offset-rebase heuristic): $e0")
    }
  }

  reader.start()
  watchdog.foreach(_.start())

  /** Append one event; waits while the buffer is full, drops it after `stop`. */
  private def offer(line: String): Unit = lock.synchronized {
    blocked = true
    while (buffer.size >= HttpNdjson.BufferCap && !stopped) lock.wait()
    blocked = false
    lastEventAtMs = System.currentTimeMillis()
    if (!stopped) buffer += ((line, lastEventAtMs * 1000L))
  }

  // ---- checkpoint-backed batch replay ---------------------------------------
  // Every planned [start, end) slice is persisted as
  // `<replayDir>/<start>-<end>` BEFORE the engine sees its partitions and
  // pruned at commit, so the one batch a restart re-runs (planned, never
  // committed) re-reads byte-identical instead of vanishing with the old
  // process's buffer. Format: one line per event, `<recvTsUs> <base64(utf8)>`
  // — base64 because an SSE event can legally contain embedded newlines.
  // All journal IO happens on the driver (plan/commit time), through
  // [[BatchJournal]]: java.nio for local checkpoint dirs, Hadoop FS
  // for hdfs/object-store ones (see the journal's scaladoc for why the
  // local path must NOT go through the Hadoop local FS).

  private lazy val journal: BatchJournal = BatchJournal.open(replayDir)

  private def parseWindow(name: String): Option[(Long, Long)] =
    name.split("-") match {
      case Array(a, b) if a.nonEmpty && b.nonEmpty &&
        a.forall(_.isDigit) && b.forall(_.isDigit) => Some((a.toLong, b.toLong))
      case _ => None
    }

  private def encodeRow(row: (String, Long)): String =
    row._2.toString + " " + java.util.Base64.getEncoder
      .encodeToString(row._1.getBytes(StandardCharsets.UTF_8))

  private def decodeRow(l: String): (String, Long) = {
    val i = l.indexOf(' ')
    (new String(java.util.Base64.getDecoder.decode(l.substring(i + 1)),
      StandardCharsets.UTF_8), l.substring(0, i).toLong)
  }

  /** Persist a planned slice (idempotent: an existing file wins — a re-plan
    * of the same window must serve the bytes the engine already saw). */
  private def writeReplay(s: Long, e: Long, slice: Array[(String, Long)]): Unit =
    try {
      val name = s"$s-$e"
      if (!journal.exists(name)) journal.writeAtomic(name, slice.iterator.map(encodeRow))
    } catch {
      case e0: Throwable =>
        // a failed journal write must FAIL the batch (surfaces as a query
        // error and the batch retries), not silently downgrade the source
        // to non-replayable
        throw new IllegalStateException(
          s"http-ndjson: cannot persist replay slice [$s,$e) under $replayDir", e0)
    }

  /** Load the journaled lines covering [s, upTo), stitched greedily from
    * whole journal files ([s,x) + [x,y) + …). The engine can merge an
    * uncommitted window with fresh data on restart, so the requested range
    * is not always a single file's exact window. Returns None on any gap. */
  private def readReplayRange(s: Long, upTo: Long): Option[Array[(String, Long)]] = {
    if (upTo <= s) return Some(Array.empty)
    val spans = journal.names().flatMap(n => parseWindow(n).map { case (a, b) => (a, b, n) })
    val rows = new ListBuffer[(String, Long)]
    var cur = s
    while (cur < upTo) {
      // greedy: the file starting exactly at cur that reaches furthest
      // without overshooting (overlapping entries exist when a merged
      // restart window was re-journaled over its prefix)
      spans.filter(sp => sp._1 == cur && sp._2 <= upTo).sortBy(-_._2).headOption match {
        case Some((_, e0, n)) => rows ++= journal.readLines(n).map(decodeRow); cur = e0
        case None => return None
      }
    }
    Some(rows.toArray)
  }

  /** Drop journal files fully below the committed offset — a committed
    * batch never re-runs. Best-effort: a missed prune only leaves a small
    * file for the next commit to sweep. */
  private def pruneReplay(committed: Long): Unit =
    try journal.names().foreach { n =>
      parseWindow(n).foreach { case (_, b) => if (b <= committed) journal.delete(n) }
    } catch {
      case e0: Throwable =>
        logWarning(s"http-ndjson: replay prune under $replayDir failed " +
          s"(will retry at next commit): $e0")
    }

  override def initialOffset(): Offset = HttpLineOffset(0L)

  override def deserializeOffset(json: String): Offset = {
    val n = json.toLong
    lock.synchronized {
      // checkpoint restart: a live tap cannot replay, so ADOPT the
      // committed offset as the numbering base for what the fresh buffer
      // holds — without the rebase, the restored start offset addresses a
      // window the new instance never buffered: planInputPartitions slices
      // empty, and commit() then silently discards the first post-restart
      // batch of real lines
      if (n > baseOffset + buffer.size) baseOffset = n
    }
    HttpLineOffset(n)
  }

  /** Connect failures in a row before the query is failed instead of
    * retrying silently (the reference's loop retries forever; a Spark query
    * should surface a dead endpoint to its monitoring). */
  private val maxConsecutiveFailures = 8

  /** Everything buffered, whatever the read limit. */
  override def latestOffset(): Offset =
    latestOffset(initialOffset(), ReadLimit.allAvailable())

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = lock.synchronized {
    if (consecutiveFailures >= maxConsecutiveFailures)
      throw new IllegalStateException(
        s"http-ndjson: $consecutiveFailures consecutive connect failures to $url",
        lastError)
    val from = math.max(start.asInstanceOf[HttpLineOffset].n, baseOffset)
    val rows = limit match {
      case m: ReadMaxRows => m.maxRows
      case _ => Long.MaxValue
    }
    HttpLineOffset(from + math.max(0L, math.min(baseOffset + buffer.size - from, rows)))
  }

  override def getDefaultReadLimit: ReadLimit =
    ReadLimit.maxRows(math.min(maxLinesPerTrigger, HttpNdjson.BufferCap / 2))

  /** The buffered end, so each progress event shows the engine's lag. */
  override def reportLatestOffset(): Offset =
    lock.synchronized(HttpLineOffset(baseOffset + buffer.size))

  override def metrics(latestConsumedOffset: Optional[Offset]): util.Map[String, String] =
    lock.synchronized(util.Map.of(
      "bufferedLines", buffer.size.toString,
      "connects", connects.toString,
      "silenceRestarts", silenceRestarts.toString,
      "consecutiveFailures", consecutiveFailures.toString))

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val (s, e) = (start.asInstanceOf[HttpLineOffset].n, end.asInstanceOf[HttpLineOffset].n)
    // snapshot the buffer decision under the lock; journal IO stays outside.
    // Three shapes (base = the trim/restart watermark):
    //   s >= base          — all-live window (the steady-state batch)
    //   e <= base          — all-pre-restart window (the re-run of a batch
    //                        the dead process planned but never committed)
    //   s < base < e       — STRADDLE: on restart the engine can merge the
    //                        uncommitted window with freshly buffered data
    //                        into one batch ([committed, latestOffset())) —
    //                        journal rows cover [s, base), the live buffer
    //                        covers [base, e)
    val (liveRows, journalUpTo) = lock.synchronized {
      if (e <= baseOffset) (None, Some(e))
      else if (s >= baseOffset)
        (Some(buffer.slice((s - baseOffset).toInt, (e - baseOffset).toInt).toArray),
          None)
      else
        (Some(buffer.slice(0, (e - baseOffset).toInt).toArray), Some(baseOffset))
    }
    val journalRows = journalUpTo.map(upTo => readReplayRange(s, upTo))
    val slice = (journalRows, liveRows) match {
      case (None, Some(fresh)) =>
        // journal BEFORE the engine sees the partitions: once planned, a
        // batch must be reproducible even if this process dies uncommitted
        if (fresh.nonEmpty) writeReplay(s, e, fresh)
        fresh
      case (Some(Some(j)), Some(fresh)) =>
        // straddle: stitched batch, re-journaled under ITS window so a
        // second crash before commit replays the merged batch identically
        logInfo(s"http-ndjson: restart stitched window [$s,$e): " +
          s"${j.length} journaled + ${fresh.length} live lines")
        val all = j ++ fresh
        if (all.nonEmpty) writeReplay(s, e, all)
        all
      case (Some(None), Some(_)) =>
        // a straddling window with NO journal coverage means commit()
        // trimmed lines a batch still addresses — an empty/partial delivery
        // would silently drop data, so stay loud
        throw new IllegalStateException(
          s"offset window [$s,$e) straddles trimmed base with no journal " +
            "coverage — lines were trimmed that a batch still addresses")
      case (Some(Some(j)), None) =>
        logInfo(s"http-ndjson: restart replayed window [$s,$e) " +
          s"(${j.length} lines) from the checkpoint journal")
        j
      case (Some(None), None) =>
        // a pre-restart window the journal does not cover (a checkpoint
        // from before the journal existed): deliver empty, loudly, so the
        // query commits past it instead of crash-looping
        logWarning(s"http-ndjson: restart re-ran pre-restart window [$s,$e) " +
          "with no journal entry — delivering empty (those lines were " +
          "lost with the previous process)")
        Array.empty[(String, Long)]
      case (None, None) => Array.empty[(String, Long)] // unreachable
    }
    if (slice.isEmpty) return Array.empty
    val k = math.max(1, math.min(HttpNdjson.Partitions, slice.length))
    slice.grouped((slice.length + k - 1) / k)
      .map(g => HttpLinesPartition(g): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
        val rows = p.asInstanceOf[HttpLinesPartition].rows
        new PartitionReader[InternalRow] {
          private var i = -1
          override def next(): Boolean = { i += 1; i < rows.length }
          override def get(): InternalRow = new GenericInternalRow(
            Array[Any](UTF8String.fromString(rows(i)._1), rows(i)._2))
          override def close(): Unit = ()
        }
      }
    }

  /** Persist the committed watermark (atomic tmp+rename) — the restart
    * resume point when no uncommitted journal window remains. Best-effort:
    * on failure the journal's max window end still bounds the resume, and
    * below that the offset-rebase heuristic still prevents a crash-loop. */
  private def persistCommitted(n: Long): Unit =
    try journal.writeAtomic("_committed", Iterator(n.toString))
    catch {
      case e0: Throwable =>
        logWarning(s"http-ndjson: cannot persist committed watermark $n: $e0")
    }

  override def commit(end: Offset): Unit = {
    val n = end.asInstanceOf[HttpLineOffset].n
    lock.synchronized {
      val drop = (n - baseOffset).toInt
      if (drop > 0) { buffer.remove(0, math.min(drop, buffer.size)); baseOffset = n }
      lock.notifyAll() // room for a reader waiting in `offer`
    }
    persistCommitted(n)
    pruneReplay(n)
  }

  /** Returns at once: `offer` drops any line after it, and the reader closes
    * its own connection (`disconnect()` here would wait for the stream lock
    * that a read blocked on a silent feed holds). */
  override def stop(): Unit = {
    lock.synchronized { stopped = true; lock.notifyAll() }
    reader.interrupt()
    watchdog.foreach(_.interrupt())
  }
}

/** A [start, end) slice of received lines, shipped to the executor. */
case class HttpLinesPartition(rows: Array[(String, Long)]) extends InputPartition
