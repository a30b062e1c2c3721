package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal

/** Dev tool (not part of the driver contract), one main with three modes:
  *
  *   time <sfDir> <q>…            three timed runs per query (builder + count)
  *   prof <sfDir> <q> [reps]      per-batch `durationMs` of a streaming row,
  *                                to locate the harness's fixed per-row cost
  *   plan <sfDir> <outDir> [q,…]  `explain("formatted")` per query to
  *                                `<outDir>/<q>.txt` (default: every query)
  *
  * The session comes from [[LocalSpark]] (`SPARK_GRAFT_CPUS`, default 4).
  * Each mode takes the session and leaves it running, so specs call them on
  * the shared test session. Plans are captured on the BUILT frame: eager
  * builders (k-means/PQ training, the streaming harness rows) run real jobs
  * while building, and their dumped plan is only the post-loop tail.
  */
object Dev {
  private val usage =
    "usage: graft.Dev time <sfDir> <q>... | prof <sfDir> <q> [reps] | plan <sfDir> <outDir> [q,...]"

  def main(args: Array[String]): Unit = {
    val mode: SparkSession => Unit = args.toList match {
      case "time" :: sfDir :: names if names.nonEmpty => time(_, sfDir, names)
      case "prof" :: sfDir :: name :: reps if reps.size <= 1 =>
        prof(_, sfDir, name, reps.headOption.fold(3)(_.toInt))
      case "plan" :: sfDir :: outDir :: only if only.size <= 1 =>
        plan(_, sfDir, outDir, only.headOption.map(_.split(',').toSet))
      case _ => System.err.println(usage); sys.exit(2)
    }
    val spark = LocalSpark.session()
    try mode(spark) finally spark.stop()
  }

  /** Rows and seconds of one builder + `count()`, under the cache protocol. */
  private def timedCount(spark: SparkSession, sfDir: String, name: String): (Long, Double) =
    LocalSpark.consume(spark) {
      val t0 = System.nanoTime()
      val n = SparkEntry.queries(name)(spark, sfDir).count()
      (n, (System.nanoTime() - t0) / 1e9)
    }

  def time(spark: SparkSession, sfDir: String, names: Seq[String]): Unit =
    for (name <- names; i <- 1 to 3) {
      val (_, dt) = timedCount(spark, sfDir, name)
      println(f"$name run$i: $dt%.3f s")
    }

  def prof(spark: SparkSession, sfDir: String, name: String, reps: Int): Unit = {
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit =
        println(s"[prof] query started ${System.nanoTime() / 1e9}")
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val p = e.progress
        println(s"[prof] batch ${p.batchId}: rows=${p.numInputRows} durations=${p.durationMs}")
      }
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        println(s"[prof] query terminated ${System.nanoTime() / 1e9}")
    }
    spark.streams.addListener(listener)
    try (1 to reps).foreach { i =>
      val (n, dt) = timedCount(spark, sfDir, name)
      println(f"[prof] $name run$i: $dt%.3f s ($n rows)")
    } finally spark.streams.removeListener(listener)
  }

  def plan(spark: SparkSession, sfDir: String, outDir: String,
      only: Option[Set[String]]): Unit = {
    Files.createDirectories(Paths.get(outDir))
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        val text = LocalSpark.consume(spark) {
          try fn(spark, sfDir).queryExecution.explainString(FormattedMode)
          catch { case NonFatal(e) => s"PLAN FAILED: ${e.getClass.getName}: ${e.getMessage}\n" }
        }
        Files.writeString(Paths.get(outDir, s"$name.txt"), text)
      }
  }
}
