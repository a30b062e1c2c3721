package graftbench

import java.io.{BufferedReader, InputStreamReader, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlanInfo}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{GraftApp, SparkEntry}
import graft.zulip.ZulipConf

/** The Spark side of the benchmark. It drives the program only through its
  * public entry points: `GraftApp.start` / `Handles` for the live bot and
  * `SparkEntry.queries` for the batch catalogue.
  *
  * Protocol: the orchestrator (run.py) writes one command per line to stdin
  * and reads lines starting with `@` from stdout. Everything the harness
  * measures is reported raw; the orchestrator computes the metrics.
  *
  *   live:  start <k> <workDir> <feedUrl> <zulipUrl> <rulesPath>
  *          stop <k>           -> @stopped k <seconds>
  *          dump <path>        -> @dumped   (trace records as JSON)
  *          exit
  *   batch: one untimed pass on `warmData`, then timed passes on `data`
  *          until `seconds` have elapsed, printing one @query line per
  *          query of every pass.
  */
object Harness {

  private val t0Ms = ManagementFactory.getRuntimeMXBean.getStartTime

  def say(line: String): Unit = synchronized {
    System.out.println("@" + line)
    System.out.flush()
  }

  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum

  def heapMb: Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

  def main(args: Array[String]): Unit = {
    val opts = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val cpus = opts("cpus")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", opts("localDir"))
      .config("spark.sql.warehouse.dir", opts("localDir") + "/warehouse")
      // the catalogue's throwaway streaming checkpoints stay in the run directory
      .config("graft.streaming.checkpointDir", opts("localDir") + "/graft-ckpt")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    say(s"session ${(System.currentTimeMillis() - t0Ms) / 1000.0}")
    val tracer = if (opts.get("trace").contains("1")) Some(new Tracer(spark)) else None
    try opts("mode") match {
      case "live" => live(spark, tracer)
      case "batch" => batch(spark, tracer, opts("data"), opts("warmData"),
        opts("queries").split(",").toSeq, opts("seconds").toDouble, opts.get("dump"))
    } finally spark.stop()
  }

  // ---------------------------------------------------------------- live --

  private def live(spark: SparkSession, tracer: Option[Tracer]): Unit = {
    val instances = mutable.Map.empty[Int, GraftApp.Handles]
    val queryToInstance = new java.util.concurrent.ConcurrentHashMap[String, Int]()
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        e.exception.foreach(x => say(s"error query ${e.id} terminated: ${x.replace('\n', ' ')}"))
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val k = queryToInstance.getOrDefault(e.progress.id.toString, -1)
        say(s"progress $k $gcMs $heapMb ${e.progress.json}")
      }
    })
    val in = new BufferedReader(new InputStreamReader(System.in, StandardCharsets.UTF_8))
    var line = in.readLine()
    while (line != null && line != "exit") {
      val w = line.split(" ")
      w(0) match {
        case "start" =>
          val k = w(1).toInt
          val conf = ZulipConf.default.copy(
            rulesPath = w(5), zulipBotToken = "bench-token", zulipBotId = "bot@bench.test",
            zulipBotUsername = "graftbot", zulipCommandStream = "mod", zulipCommandTopic = "cmd",
            zulipNotifyStream = "notify", zulipNotifyTopic = "actions",
            zulipUrl = w(4).stripPrefix("http://"))
          val called = System.currentTimeMillis()
          val h = GraftApp.start(spark, conf, w(3), w(2), zulipBaseUrlOverride = Some(w(4)))
          queryToInstance.put(h.events.id.toString, k)
          instances(k) = h
          say(s"started $k $called")
        case "stop" =>
          val k = w(1).toInt
          val t = System.nanoTime()
          instances.remove(k).foreach(_.shutdown())
          say(s"stopped $k ${(System.nanoTime() - t) / 1e9}")
        case "dump" =>
          tracer.foreach(_.dump(w(1)))
          say("dumped")
        case other => say(s"error unknown command $other")
      }
      line = in.readLine()
    }
  }

  // --------------------------------------------------------------- batch --

  private def batch(spark: SparkSession, tracer: Option[Tracer], data: String, warmData: String,
      names: Seq[String], seconds: Double, dump: Option[String]): Unit = {
    val sc = spark.sparkContext
    def pass(p: Int, dir: String): Unit = names.foreach { q =>
      sc.setJobGroup(s"q|$p|$q", s"$q pass $p")
      val t0 = System.nanoTime()
      val r = try {
        val df = SparkEntry.queries(q)(spark, dir)
        val t1 = System.nanoTime()
        val rows = df.count()
        val t2 = System.nanoTime()
        s"$p $q ${(t1 - t0) / 1e9} ${(t2 - t1) / 1e9} $rows ok"
      } catch {
        case NonFatal(e) =>
          s"$p $q ${(System.nanoTime() - t0) / 1e9} 0 -1 " +
            s"${e.getClass.getSimpleName}:${String.valueOf(e.getMessage).replace('\n', ' ').take(200)}"
      } finally {
        sc.clearJobGroup()
        spark.catalog.clearCache()
      }
      say(s"query $r ${System.currentTimeMillis()} $gcMs $heapMb")
    }
    // untimed, in this thread, as graft.Bench warms up: one pass on the small
    // tables pays for JIT compilation and code generation
    pass(-1, warmData)
    System.gc() // the warm-up's garbage is not charged to the timed passes
    say(s"timed ${(System.currentTimeMillis() - t0Ms) / 1000.0} ${System.currentTimeMillis()}")
    val end = System.nanoTime() + (seconds * 1e9).toLong
    var p = 0
    while (p == 0 || System.nanoTime() < end) { pass(p, data); p += 1 }
    say(s"passes $p ${System.currentTimeMillis()}")
    dump.foreach(d => tracer.foreach(_.dump(d)))
  }
}

/** Per-layer trace: a SparkListener and a QueryExecutionListener that keep
  * raw per-execution, per-job and per-stage records. Jobs are tied to SQL
  * executions through `spark.sql.execution.id`; each execution is tagged
  * with the data path it writes or reads (the classification itself is done
  * by the orchestrator from the paths recorded here). The time spent inside
  * the callbacks is kept, so the run can report the trace's own overhead. */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {

  private final case class Exec(id: Long, root: Long, start: Long, group: String,
      writes: String, reads: Seq[String], var end: Long = -1L)
  private final case class Job(exec: Long, batch: String, group: String, stages: Seq[Int])
  private final class StageAgg { var cpuNs = 0L; var shuffleWrite = 0L }

  private val execs = mutable.LinkedHashMap.empty[Long, Exec]
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.HashMap.empty[Int, StageAgg]
  private val planMs = mutable.HashMap.empty[Long, Double]
  // a QueryExecution seen by one listener and not yet by the other, mapped to
  // its execution id (java.lang.Long) or its planning time (java.lang.Double)
  private val unpaired = new java.util.IdentityHashMap[AnyRef, AnyRef]()
  @volatile private var callbackNs = 0L

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  private def timed(f: => Unit): Unit = {
    val t = System.nanoTime()
    synchronized(f)
    callbackNs += System.nanoTime() - t
  }

  /** Paths of the file scans in a plan. */
  private def readPaths(info: SparkPlanInfo): Seq[String] = {
    val own = info.metadata.get("Location").toSeq.flatMap { l =>
      val i = l.indexOf('['); val j = l.lastIndexOf(']')
      if (i >= 0 && j > i) l.substring(i + 1, j).split(",\\s*").toSeq else Seq(l)
    }
    own ++ info.children.flatMap(readPaths)
  }

  /** Output path of a file write command, if the plan is one. */
  private def writePath(info: SparkPlanInfo): Option[String] =
    if (info.nodeName.contains("InsertIntoHadoopFsRelationCommand")) {
      val s = info.simpleString
      val i = s.indexOf("file:")
      if (i < 0) None else Some(s.substring(i).takeWhile(c => c != ',' && c != ' '))
    } else info.children.view.flatMap(writePath).headOption

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart => timed {
      execs(e.executionId) = Exec(e.executionId, e.rootExecutionId.getOrElse(e.executionId),
        e.time, e.jobGroupId.getOrElse(""), writePath(e.sparkPlanInfo).getOrElse(""),
        readPaths(e.sparkPlanInfo).distinct)
    }
    case e: SparkListenerSQLExecutionEnd => timed {
      execs.get(e.executionId).foreach { x =>
        x.end = e.time
        // the event's QueryExecution is the one the QueryExecutionListener
        // sees; the accessor is sql-private, hence reflection
        val qe = e.getClass.getMethod("qe").invoke(e)
        if (qe != null) unpaired.remove(qe) match {
          case ms: java.lang.Double => planMs(e.executionId) = ms
          case _ => unpaired.put(qe, java.lang.Long.valueOf(e.executionId))
        }
      }
    }
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    jobs(e.jobId) = Job(prop("spark.sql.execution.id").toLongOption.getOrElse(-1L),
      prop("streaming.sql.batchId"), prop("spark.jobGroup.id"), e.stageIds)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val a = stages.getOrElseUpdate(e.stageId, new StageAgg)
    Option(e.taskMetrics).foreach { m =>
      a.cpuNs += m.executorCpuTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
    }
  }

  private def recordPlan(qe: QueryExecution): Unit = timed {
    val phases = qe.tracker.phases
    val ms = Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs.toDouble).sum
    unpaired.remove(qe) match {
      case id: java.lang.Long => planMs(id) = ms
      case _ => unpaired.put(qe, java.lang.Double.valueOf(ms))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordPlan(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    recordPlan(qe)

  private def q(s: String): String = Tracer.quote(s)

  /** Write every record as one JSON document. Waits for the listener bus so
    * the events of finished work are all in. */
  def dump(path: String): Unit = {
    var last = -1L
    var quiet = 0
    while (quiet < 3) { // the bus is drained once no callback ran for 300 ms
      Thread.sleep(100)
      val now = callbackNs
      quiet = if (now == last) quiet + 1 else 0
      last = now
    }
    val json = synchronized {
      val ex = execs.values.map { e =>
        s"""{"id":${e.id},"root":${e.root},"start":${e.start},"end":${e.end},""" +
          s""""group":${q(e.group)},"writes":${q(e.writes)},""" +
          s""""reads":[${e.reads.map(q).mkString(",")}],"plan_ms":${planMs.getOrElse(e.id, -1.0)}}"""
      }
      val jb = jobs.values.map { j =>
        s"""{"exec":${j.exec},"batch":${q(j.batch)},"group":${q(j.group)},""" +
          s""""stages":[${j.stages.mkString(",")}]}"""
      }
      val st = stages.map { case (id, a) =>
        s""""$id":{"cpu_ns":${a.cpuNs},"shuffle_write":${a.shuffleWrite}}"""
      }
      s"""{"execs":[${ex.mkString(",\n")}],\n"jobs":[${jb.mkString(",\n")}],\n""" +
        s""""stages":{${st.mkString(",\n")}},\n"callback_ms":${callbackNs / 1e6}}"""
    }
    val w = new PrintWriter(Files.newBufferedWriter(Paths.get(path), StandardCharsets.UTF_8))
    try w.write(json) finally w.close()
  }
}

object Tracer {
  def quote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
}
