package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.scalatest.funsuite.AnyFunSuite

/** Restart-safety: checkpointed streaming jobs resume without loss or
  * duplication, and the action dispatcher is effectively-once across
  * replays — the properties that let the reference program run unattended. */
class RecoverySpec extends AnyFunSuite {
  import SparkTest._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** events split into two parquet files so the file source has two
    * distinct micro-batches to discover. */
  private def splitEvents(): String = {
    val dir = tmp("ev_split")
    val ev = Tables(spark, sf).events
    ev.filter(col("event_id") % 2 === 0).coalesce(1).write.mode("append").parquet(dir)
    ev.filter(col("event_id") % 2 === 1).coalesce(1).write.mode("append").parquet(dir)
    dir
  }

  /** The delayed sink GraftApp runs: one `DelayedDispatcher` per query. */
  private def dispatchDelayed(matched: DataFrame, pendingDir: String, logDir: String,
      ckpt: String)(act: DataFrame => Unit): StreamingQuery = {
    val dispatcher = new graft.streaming.DelayedDispatcher(spark, pendingDir, logDir)
    matched.writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // the batch's clock: the largest `ts_us` among its rows
        val now = batch.agg(max(col("ts_us"))).head()
        if (!now.isNullAt(0)) dispatcher.dispatch(batch, batchId, now.getLong(0))(act)
      }
      .start()
  }

  test("grouped counts survive a stop/restart on the same checkpoint") {
    val srcDir = tmp("ev_incr")
    val ckpt = tmp("ckpt")
    val ev = Tables(spark, sf).events
    val schema = ev.schema
    def stream() = spark.readStream.schema(schema).parquet(srcDir)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))

    // run 1 sees only the first half, then stops
    ev.filter(col("event_id") % 2 === 0).coalesce(1).write.mode("append").parquet(srcDir)
    val q1 = stream().writeStream.format("memory").queryName("rec1")
      .outputMode("complete").option("checkpointLocation", ckpt).start()
    try q1.processAllAvailable() finally q1.stop()
    val partial = spark.table("rec1").collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    // second half lands while the job is DOWN; the restart must recover its
    // aggregation state from the checkpoint and produce complete totals
    ev.filter(col("event_id") % 2 === 1).coalesce(1).write.mode("append").parquet(srcDir)
    val q2 = stream().writeStream.format("memory").queryName("rec2")
      .outputMode("complete").option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    val resumed = spark.table("rec2").collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    val expected = ev.groupBy(col("event_type")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(resumed == expected, s"resumed run must complete the totals: $resumed vs $expected")
    assert(partial.values.sum < expected.values.sum, "first run saw only the first file")
  }

  test("live rule update: a stream-static match picks up a rules-file rewrite mid-stream") {
    // the reference mutates its rule set at runtime (rules.rs add/remove
    // while the stream runs); the Spark analog is a stream-static join
    // whose static side re-executes per micro-batch — a RuleStore.save
    // between batches must take effect without restarting the query
    val srcDir = tmp("ev_rules_live")
    val rulesDir = tmp("rules_live")
    val ev = Tables(spark, sf).events

    def rule(name: String, pattern: String) = rules.RuleRow(
      name, "username_contains", pattern, 0, enabled = true, suspOnly = false,
      noDelay = true, expiryUs = None, actions = "notify_zulip")

    val spark0 = spark
    import spark0.implicits._
    def rulesDf(rs: rules.RuleRow*) = rs.toSeq
      .map(r => (r.name, r.kind, r.pattern, r.numArg, r.enabled, r.suspOnly,
        r.noDelay, r.expiryUs, r.actions))
      .toDF("name", "kind", "pattern", "num_arg", "enabled", "susp_only",
        "no_delay", "expiry_us", "actions")

    rules.RuleStore.save(rulesDf(rule("r_v1", "ER_1")), rulesDir)

    // a plain stream-static join pins the static side's FILE LISTING at
    // plan time (an overwritten rules file turns into FAILED_READ_FILE,
    // verified empirically) — the production pattern for a live-updated
    // dim is re-loading it INSIDE foreachBatch, where each micro-batch
    // builds a fresh plan (and a fresh file index) for the dim
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
    val q = events.Signups.derive(
        spark.readStream.schema(ev.schema).parquet(srcDir))
      .writeStream.foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.join(rules.RuleStore.load(batch.sparkSession, rulesDir)
            .filter(col("enabled") && col("kind") === "username_contains"),
          expr("instr(upper(username), upper(pattern)) > 0"))
          .select(col("event_id"), col("name"))
          .collect()
          .foreach(r => got.add(r.getLong(0) -> r.getString(1)))
        ()
      }.start()
    try {
      // batch 1 under rules v1
      ev.filter(col("event_id") % 2 === 0).coalesce(1).write.mode("append").parquet(srcDir)
      q.processAllAvailable()
      val after1 = got.toArray(Array.empty[(Long, String)])
      assert(after1.nonEmpty && after1.forall(_._2 == "r_v1"))

      // rules REWRITTEN while the query keeps running
      rules.RuleStore.save(rulesDf(rule("r_v2", "ER_2")), rulesDir)

      // batch 2 must match under v2 only
      ev.filter(col("event_id") % 2 === 1).coalesce(1).write.mode("append").parquet(srcDir)
      q.processAllAvailable()
      val batch2 = got.toArray(Array.empty[(Long, String)]).filter(_._1 % 2 == 1)
      assert(batch2.nonEmpty, "batch 2 must produce matches")
      assert(batch2.forall(_._2 == "r_v2"),
        "post-rewrite micro-batches must match against the NEW rule set")
    } finally q.stop()
  }

  test("minhash dedup bucket ownership survives stop/restart and matches batch replay") {
    val srcDir = tmp("docs_incr")
    val ckpt = tmp("ckpt_mh")
    val docs = Tables(spark, sf).documents
    val schema = docs.schema
    def owners() = {
      val arrs = spark.readStream.schema(schema).parquet(srcDir)
        .select(col("doc_id"),
          graft.plans.ShingleHashes(col("text"), 3, distinct = true).as("hs_arr"))
      dedup.Dedup.bandRows(arrs)
        .groupBy(col("band"), col("key")).agg(min(col("doc_id")).as("keeper"))
    }
    docs.filter(col("doc_id") % 2 === 0).coalesce(1).write.mode("append").parquet(srcDir)
    val q1 = owners().writeStream.format("memory").queryName("mh1")
      .outputMode("complete").option("checkpointLocation", ckpt).start()
    try q1.processAllAvailable() finally q1.stop()
    // second half lands while the job is down; ownership state must recover
    docs.filter(col("doc_id") % 2 === 1).coalesce(1).write.mode("append").parquet(srcDir)
    val q2 = owners().writeStream.format("memory").queryName("mh2")
      .outputMode("complete").option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    val resumed = spark.table("mh2").select("keeper").distinct()
      .collect().map(_.getLong(0)).sorted
    // min-ownership is order-independent, so recovery == one-shot batch
    val batch = dedup.Dedup.bandRows(
        docs.select(col("doc_id"),
          graft.plans.ShingleHashes(col("text"), 3, distinct = true).as("hs_arr")))
      .groupBy(col("band"), col("key")).agg(min(col("doc_id")).as("keeper"))
      .select("keeper").distinct().collect().map(_.getLong(0)).sorted
    assert(resumed.sameElements(batch))
  }

  test("action dispatch is effectively-once across a replayed batch") {
    import spark.implicits._
    import graft.streaming.DelayedDispatcher
    val pendingDir = tmp("dispatch_pend") + "/pending"
    val logDir = tmp("dispatch_log") + "/log"
    val batch = matches((1L, "r_a", "close", 0L), (2L, "r_b", "notify", 0L),
      (1L, "r_a", "close", 0L))
    val now = graft.streaming.ActionSink.MaxHoldUs // past every deadline
    var acted = Seq.empty[(Long, String)]
    def act(df: org.apache.spark.sql.DataFrame): Unit =
      acted ++= df.select("event_id", "rule_name").as[(Long, String)].collect()

    // first delivery: in-batch duplicate collapses, both rules fire once
    new DelayedDispatcher(spark, pendingDir, logDir).dispatch(batch, 0L, now)(act)
    assert(acted.sorted == Seq((1L, "r_a"), (2L, "r_b")))

    // replay of the same batch (the at-least-once case): nothing re-fires
    val replay = new DelayedDispatcher(spark, pendingDir, logDir)
    replay.dispatch(batch, 0L, now)(act)
    assert(acted.size == 2, "replayed batch must not re-dispatch")

    // a genuinely new match still goes out
    replay.dispatch(matches((3L, "r_a", "close", 0L)), 1L, now)(act)
    assert(acted.sorted == Seq((1L, "r_a"), (2L, "r_b"), (3L, "r_a")))
  }

  test("dispatchDelayed holds actions until the event-time clock passes their deadline") {
    import spark.implicits._
    val srcDir = tmp("delay_src")
    val pendingDir = tmp("delay_pend") + "/pending"
    val logDir = tmp("delay_log") + "/log"

    def matchedStream() = {
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("rule_name", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("action", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("no_delay", org.apache.spark.sql.types.BooleanType),
        org.apache.spark.sql.types.StructField("ts_us", org.apache.spark.sql.types.LongType)))
      spark.readStream.schema(schema).parquet(srcDir)
        .withColumn("due_us", col("ts_us") +
          graft.streaming.ActionSink.actionDelayUs(col("event_id"), col("action"), col("no_delay")))
    }
    def run(ckpt: String): Unit = {
      val q = dispatchDelayed(matchedStream(), pendingDir, logDir, ckpt)(_ => ())
      try q.processAllAvailable() finally q.stop()
    }
    // file 1: a delayed close at t=0 (deadline in [31.5, 101.5) s) and an
    // undelayed notify at t=10 s — the clock reaches 10 s, so only the
    // notify may dispatch; the close MUST still be pending
    Seq((1L, "r_close", "close", false, 0L), (2L, "r_notify", "notify", false, 10000000L))
      .toDF("event_id", "rule_name", "action", "no_delay", "ts_us")
      .coalesce(1).write.mode("append").parquet(srcDir)
    run(tmp("delay_ckpt1"))
    val after1 = spark.read.json(logDir).select("event_id").as[Long].collect().toSet
    assert(after1 == Set(2L), s"no dispatch before its deadline — got $after1")

    // file 2: a later event pushes the clock past every deadline
    Seq((3L, "r_notify", "notify", true, 200000000L))
      .toDF("event_id", "rule_name", "action", "no_delay", "ts_us")
      .coalesce(1).write.mode("append").parquet(srcDir)
    run(tmp("delay_ckpt2"))
    val after2 = spark.read.json(logDir).select("event_id").as[Long].collect().toSet
    assert(after2 == Set(1L, 2L, 3L), s"deadline passed -> dispatch, got $after2")

    // full replay on a FRESH checkpoint (at-least-once): nothing re-fires
    run(tmp("delay_ckpt3"))
    assert(spark.read.json(logDir).count() == 3, "effectively-once after restart")
  }

  /** Matches as GraftApp stamps them: `due_us` = `ts_us` + the action delay. */
  private def matches(rows: (Long, String, String, Long)*) = {
    import spark.implicits._
    rows.toDF("event_id", "rule_name", "actions", "ts_us")
      .withColumn("due_us", col("ts_us") + graft.streaming.ActionSink.actionDelayUs(
        col("event_id"), col("actions"), lit(false)))
  }

  /** A dispatcher's `act` that records the event ids it is handed. */
  private final class Acted {
    val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
    def apply(df: org.apache.spark.sql.DataFrame): Unit =
      ids ++= df.select("event_id").collect().map(_.getLong(0))
  }

  private def exists(dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  test("DelayedDispatcher: a held close survives a restart and fires once, after its deadline") {
    import graft.streaming.DelayedDispatcher
    val pendingDir = tmp("held_pend") + "/pending"
    val logDir = tmp("held_log") + "/log"
    val acted = new Acted
    // deadline of a close at t=0: somewhere in [31.5, 101.5) s
    new DelayedDispatcher(spark, pendingDir, logDir)
      .dispatch(matches((1L, "r_close", "close", 0L)), 0L, 0L)(acted(_))
    assert(acted.ids.isEmpty && spark.read.json(pendingDir).count() == 1)

    // restart: a new dispatcher on the same logs
    val d2 = new DelayedDispatcher(spark, pendingDir, logDir)
    d2.dispatch(matches((2L, "r_notify", "notify", 10000000L)), 1L, 10000000L)(acted(_))
    assert(acted.ids == Seq(2L), "the clock (10 s) is before the close's deadline")
    d2.dispatch(matches((3L, "r_notify", "notify", 200000000L)), 2L, 200000000L)(acted(_))
    assert(acted.ids.sorted == Seq(1L, 2L, 3L), "the clock (200 s) passed the deadline")
    d2.dispatch(matches((4L, "r_notify", "notify", 300000000L)), 3L, 300000000L)(acted(_))
    new DelayedDispatcher(spark, pendingDir, logDir)
      .dispatch(matches((5L, "r_notify", "notify", 400000000L)), 4L, 400000000L)(acted(_))
    assert(acted.ids.sorted == Seq(1L, 2L, 3L, 4L, 5L), s"the close fired once: ${acted.ids}")
  }

  test("DelayedDispatcher: notify-only batches never create the pending log") {
    val pendingDir = tmp("notify_pend") + "/pending"
    val logDir = tmp("notify_log") + "/log"
    val acted = new Acted
    val d = new graft.streaming.DelayedDispatcher(spark, pendingDir, logDir)
    d.dispatch(matches((1L, "r_a", "notify", 0L), (2L, "r_b", "alt", 5L)), 0L, 5L)(acted(_))
    d.dispatch(matches((3L, "r_a", "notify", 10L)), 1L, 10L)(acted(_))
    assert(acted.ids.sorted == Seq(1L, 2L, 3L))
    assert(!exists(pendingDir), "nothing was held, so nothing was staged")
    assert(spark.read.json(logDir).count() == 3)
  }

  test("DelayedDispatcher: an in-batch duplicate fires once; a replay on a fresh dispatcher fires nothing") {
    val pendingDir = tmp("dup_pend") + "/pending"
    val logDir = tmp("dup_log") + "/log"
    val acted = new Acted
    val batches = Seq(
      matches((1L, "r_a", "notify", 0L), (1L, "r_a", "notify", 0L),
        (2L, "r_close", "close", 0L), (2L, "r_close", "close", 0L)) -> 0L,
      matches((3L, "r_a", "notify", 200000000L)) -> 200000000L)
    val d = new graft.streaming.DelayedDispatcher(spark, pendingDir, logDir)
    batches.zipWithIndex.foreach { case ((b, now), i) => d.dispatch(b, i.toLong, now)(acted(_)) }
    assert(acted.ids.sorted == Seq(1L, 2L, 3L), s"each match fires once: ${acted.ids}")

    // at-least-once delivery replays both batches into a new query
    val replay = new graft.streaming.DelayedDispatcher(spark, pendingDir, logDir)
    batches.zipWithIndex.foreach { case ((b, now), i) =>
      replay.dispatch(b, i.toLong, now)(acted(_))
    }
    assert(acted.ids.sorted == Seq(1L, 2L, 3L), s"the replay fired again: ${acted.ids}")
    assert(spark.read.json(logDir).count() == 3)
  }

  test("DelayedDispatcher: an identical signup re-fires only once the hold horizon has passed") {
    import graft.streaming.ActionSink.MaxHoldUs
    val acted = new Acted
    val d = new graft.streaming.DelayedDispatcher(spark,
      tmp("horizon_pend") + "/pending", tmp("horizon_log") + "/log")
    d.dispatch(matches((1L, "r_a", "notify", 0L)), 0L, 0L)(acted(_))
    d.dispatch(matches((1L, "r_a", "notify", MaxHoldUs)), 1L, MaxHoldUs)(acted(_))
    assert(acted.ids == Seq(1L), "within the horizon the same key is a duplicate")
    d.dispatch(matches((1L, "r_a", "notify", MaxHoldUs + 1L)), 2L, MaxHoldUs + 1L)(acted(_))
    assert(acted.ids == Seq(1L, 1L), "past the horizon the same key fires again")
  }

  test("DelayedDispatcher: a replay stamped 10 min after the logged batch fires nothing") {
    val pendingDir = tmp("late_pend") + "/pending"
    val logDir = tmp("late_log") + "/log"
    val acted = new Acted
    new graft.streaming.DelayedDispatcher(spark, pendingDir, logDir)
      .dispatch(matches((1L, "r_a", "notify", 0L), (2L, "r_b", "alt", 0L)), 0L, 0L)(acted(_))
    val replay = new graft.streaming.DelayedDispatcher(spark, pendingDir, logDir)
    val tenMin = 600L * 1000000L
    replay.dispatch(matches((1L, "r_a", "notify", tenMin), (2L, "r_b", "alt", tenMin)), 0L,
      tenMin)(acted(_))
    replay.dispatch(matches((3L, "r_a", "notify", tenMin + 1L)), 1L, tenMin + 1L)(acted(_))
    assert(acted.ids.sorted == Seq(1L, 2L, 3L), s"the replay fired again: ${acted.ids}")
  }

  test("DelayedDispatcher: a close fired long ago stays fired, and a restart finds no pending file") {
    val pendingDir = tmp("old_pend") + "/pending"
    val logDir = tmp("old_log") + "/log"
    val acted = new Acted
    val d = new graft.streaming.DelayedDispatcher(spark, pendingDir, logDir)
    val s = 1000000L
    d.dispatch(matches((1L, "r_close", "close", 0L)), 0L, 0L)(acted(_))
    d.dispatch(matches((2L, "r_a", "notify", 200L * s)), 1L, 200L * s)(acted(_))
    assert(acted.ids.sorted == Seq(1L, 2L), "the close came due at 200 s")
    // much later, a second held close comes due, long past the first
    // close's horizon
    d.dispatch(matches((3L, "r_close", "close", 1000L * s)), 2L, 1000L * s)(acted(_))
    d.dispatch(matches((4L, "r_a", "notify", 1200L * s)), 3L, 1200L * s)(acted(_))
    assert(acted.ids.sorted == Seq(1L, 2L, 3L, 4L), s"the old close fired again: ${acted.ids}")
    // each close's pending file went when it fired, so a restart holds nothing
    assert(new java.io.File(pendingDir).list().isEmpty, "a fired close left its pending file")
    new graft.streaming.DelayedDispatcher(spark, pendingDir, logDir)
      .dispatch(matches((5L, "r_a", "notify", 1400L * s)), 4L, 1400L * s)(acted(_))
    assert(acted.ids.sorted == Seq(1L, 2L, 3L, 4L, 5L), s"a close fired again: ${acted.ids}")
  }

  test("DelayedDispatcher: a held close replayed 10 min later on a fresh dispatcher fires once") {
    import graft.streaming.ActionSink.MaxHoldUs
    val pendingDir = tmp("replay_held_pend") + "/pending"
    val logDir = tmp("replay_held_log") + "/log"
    val acted = new Acted
    // the batch holds the close, then its query dies before the commit
    new graft.streaming.DelayedDispatcher(spark, pendingDir, logDir)
      .dispatch(matches((1L, "r_close", "close", 0L)), 0L, 0L)(acted(_))
    assert(acted.ids.isEmpty, "the close is held")
    // the restart replays that batch stamped with a fresh time: the held copy
    // read back from the pending log is past its deadline and fires, and the
    // replayed copy (same key, later deadline) is a duplicate of it
    val tenMin = 600L * 1000000L
    val d = new graft.streaming.DelayedDispatcher(spark, pendingDir, logDir)
    d.dispatch(matches((1L, "r_close", "close", tenMin)), 0L, tenMin)(acted(_))
    assert(acted.ids == Seq(1L), "the close read back from the pending log is due")
    d.dispatch(matches((2L, "r_a", "notify", tenMin + MaxHoldUs)), 1L, tenMin + MaxHoldUs)(acted(_))
    assert(acted.ids.sorted == Seq(1L, 2L), s"the close fired twice: ${acted.ids}")
  }

  test("DelayedDispatcher: an identical signup matched while its close is held, or soon after it fired, is a duplicate") {
    import graft.streaming.ActionSink.MaxHoldUs
    val acted = new Acted
    val d = new graft.streaming.DelayedDispatcher(spark,
      tmp("held_dup_pend") + "/pending", tmp("held_dup_log") + "/log")
    val s = 1000000L
    d.dispatch(matches((1L, "r_close", "close", 0L)), 0L, 0L)(acted(_))
    // the same signup again at 50 s, whether or not the first came due yet
    d.dispatch(matches((1L, "r_close", "close", 50L * s)), 1L, 50L * s)(acted(_))
    d.dispatch(matches((2L, "r_a", "notify", MaxHoldUs)), 2L, MaxHoldUs)(acted(_))
    assert(acted.ids.sorted == Seq(1L, 2L), "the close came due by 101.5 s")
    // and again 10 s after it fired
    d.dispatch(matches((1L, "r_close", "close", MaxHoldUs + 10L * s)), 3L,
      MaxHoldUs + 10L * s)(acted(_))
    d.dispatch(matches((3L, "r_a", "notify", 2 * MaxHoldUs + 10L * s)), 4L,
      2 * MaxHoldUs + 10L * s)(acted(_))
    assert(acted.ids.sorted == Seq(1L, 2L, 3L), s"the close fired twice: ${acted.ids}")
  }

  test("DelayedDispatcher: after its first batch, firing a held close and a due-now notify runs no Spark job") {
    val pendingDir = tmp("jobs_pend") + "/pending"
    val logDir = tmp("jobs_log") + "/log"
    val acted = new Acted
    val d = new graft.streaming.DelayedDispatcher(spark, pendingDir, logDir)
    d.dispatch(matches((1L, "r_close", "close", 0L)), 0L, 0L)(acted(_))
    assert(acted.ids.isEmpty, "the close is held")
    // the jobs this thread starts, told apart by a local property
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.spec.tag") == tag))
          jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setLocalProperty("graft.spec.tag", tag)
    try {
      d.dispatch(matches((2L, "r_a", "notify", 200000000L)), 1L, 200000000L)(acted(_))
      // the listener bus delivers job starts asynchronously
      val deadline = System.currentTimeMillis() + 10000
      while (jobs.get() == 0 && System.currentTimeMillis() < deadline) Thread.sleep(50)
      Thread.sleep(500)
    } finally {
      spark.sparkContext.setLocalProperty("graft.spec.tag", null)
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(acted.ids.sorted == Seq(1L, 2L), "the clock (200 s) passed the close's deadline")
    assert(jobs.get() == 0, s"Spark jobs for the batch: ${jobs.get()}")
  }

  test("DelayedDispatcher: a held close's pending file shrinks as it fires, and a restart between fires it once") {
    import spark.implicits._
    import graft.streaming.DelayedDispatcher
    val pendingDir = tmp("shrink_pend") + "/pending"
    val logDir = tmp("shrink_log") + "/log"
    val acted = new Acted
    def heldRows = {
      val f = new java.io.File(pendingDir, "0")
      if (f.exists()) Files.readAllLines(f.toPath).size else 0
    }
    // two closes matched at 0 s with different deadlines
    val closes = matches((1L, "r_close", "close", 0L), (2L, "r_close", "close", 0L))
    val due = closes.select("event_id", "due_us").as[(Long, Long)].collect().toMap
    assert(due(1L) != due(2L), s"fixture: the closes share a deadline: $due")
    val Seq(first, second) = Seq(1L, 2L).sortBy(due)
    new DelayedDispatcher(spark, pendingDir, logDir).dispatch(closes, 0L, 0L)(acted(_))
    assert(acted.ids.isEmpty && heldRows == 2)
    // the first close comes due; the query then dies before the second does
    val d = new DelayedDispatcher(spark, pendingDir, logDir)
    d.dispatch(matches((3L, "r_a", "notify", due(first))), 1L, due(first))(acted(_))
    assert(acted.ids.sorted == Seq(first, 3L).sorted && heldRows == 1)
    // the restart holds only the second close, and fires it once
    val restarted = new DelayedDispatcher(spark, pendingDir, logDir)
    restarted.dispatch(matches((4L, "r_a", "notify", due(second))), 2L, due(second))(acted(_))
    assert(heldRows == 0, "the pending file outlived its last close")
    restarted.dispatch(matches((5L, "r_a", "notify", due(second) + 1L)), 3L, due(second) + 1L)(
      acted(_))
    new DelayedDispatcher(spark, pendingDir, logDir)
      .dispatch(matches((6L, "r_a", "notify", due(second) + 2L)), 4L, due(second) + 2L)(acted(_))
    assert(acted.ids.sorted == Seq(1L, 2L, 3L, 4L, 5L, 6L), s"a close fired twice: ${acted.ids}")
  }

  test("DelayedDispatcher: a first batch follows the steady path's re-fire rule") {
    import graft.streaming.ActionSink.MaxHoldUs
    import graft.streaming.DelayedDispatcher
    for (restart <- Seq(false, true)) {
      val pendingDir = tmp("refire_pend") + "/pending"
      val logDir = tmp("refire_log") + "/log"
      val acted = new Acted
      val steady = new DelayedDispatcher(spark, pendingDir, logDir)
      def on = if (restart) new DelayedDispatcher(spark, pendingDir, logDir) else steady
      val t = 5000L * 1000000L
      steady.dispatch(matches((1L, "r_a", "notify", t)), 0L, t)(acted(_))
      on.dispatch(matches((1L, "r_a", "notify", t + MaxHoldUs)), 1L, t + MaxHoldUs)(acted(_))
      assert(acted.ids == Seq(1L), s"restart=$restart: fired again within the horizon")
      on.dispatch(matches((1L, "r_a", "notify", t + MaxHoldUs + 1L)), 2L,
        t + MaxHoldUs + 1L)(acted(_))
      assert(acted.ids == Seq(1L, 1L), s"restart=$restart: not fired again past the horizon")
    }
  }

  test("DelayedDispatcher: a restart reads its own dispatch file and the horizon's, not the whole log") {
    import graft.streaming.ActionSink.MaxHoldUs
    val pendingDir = tmp("horizon_read_pend") + "/pending"
    val logDir = new java.io.File(tmp("horizon_read_log"), "log")
    logDir.mkdirs()
    // 1 000 batch files of 100 dispatch rows each; batch b fired at b * 30 s
    val s = 1000000L
    def write(b: Int, lines: Seq[String]): Unit =
      Files.write(new java.io.File(logDir, b.toString).toPath, lines.mkString("", "\n", "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    for (b <- 0 until 1000) write(b, (0 until 100).map { i =>
      val id = b * 100L + i
      s"""{"event_id":$id,"rule_name":"r_a","actions":"notify","ts_us":${b * 30L * s},""" +
        s""""due_us":${b * 30L * s},"batch_id":$b,"fired_us":${b * 30L * s}}"""
    })
    // the clock one second past batch 999 puts batches 996-999 within the horizon
    val now = 999L * 30L * s + s
    val inside = (0 until 1000).filter(b => b * 30L * s >= now - MaxHoldUs)
    assert(inside == (996 until 1000), s"fixture: $inside")
    // no older file parses as a dispatch row, and one that lies far outside
    // the horizon is not even text, so any read of it throws: the first
    // batch reads files newest first, in doubling chunks, and stops at the
    // first one with no row within the horizon
    for (b <- 900 until 996) write(b, Seq("not a dispatch row"))
    for (b <- 0 until 900)
      Files.write(new java.io.File(logDir, b.toString).toPath, Array[Byte](-1, -2, '\n'))
    val acted = new Acted
    new graft.streaming.DelayedDispatcher(spark, pendingDir, logDir.toString)
      .dispatch(matches((99901L, "r_a", "notify", now), (99650L, "r_a", "notify", now),
        (99501L, "r_a", "notify", now), (7L, "r_b", "notify", now)), 1000L, now)(acted(_))
    assert(acted.ids.sorted == Seq(7L, 99501L), s"keys fired within the horizon re-fired: ${acted.ids}")
  }

  test("BatchJournal: the Hadoop backend replaces a file in place and leaves no temp file") {
    val dir = new java.io.File(tmp("journal_hadoop"), "j")
    val j = new graft.streaming.HadoopBatchJournal(dir.toURI.toString)
    j.writeAtomic("7", Iterator("a", "b"))
    j.writeAtomic("7", Iterator("c"))
    assert(j.readLines("7") == Seq("c"))
    assert(j.names().filterNot(_.endsWith(".crc")) == Seq("7"), s"files: ${j.names()}")
    assert(!dir.list().exists(n => n.startsWith("._") && n.endsWith(".tmp")), "temp file left")
  }

  test("ActionSink.dispatch end-to-end over a streaming source") {
    val srcDir = splitEvents()
    val pendingDir = tmp("dispatch_e2e") + "/pending"
    val logDir = tmp("dispatch_e2e") + "/log"
    val ckpt = tmp("ckpt_e2e")
    val schema = Tables(spark, sf).events.schema
    val matched = spark.readStream.schema(schema).parquet(srcDir)
      .filter(col("event_type") === "signup")
      .select(col("event_id"), lit("r_stream").as("rule_name"), lit(0L).as("ts_us"),
        lit(0L).as("due_us"))
    val q = dispatchDelayed(matched, pendingDir, logDir, ckpt)(_ => ())
    try q.processAllAvailable() finally q.stop()
    val logged = spark.read.json(logDir)
    val expected = Tables(spark, sf).events.filter(col("event_type") === "signup").count()
    assert(logged.count() == expected)
    assert(logged.select("event_id").distinct().count() == expected, "no duplicate dispatches")
  }

  private def ruleRows(names: String*) = names.map(n =>
    graft.rules.RuleRow(n, "username_contains", n, 0, enabled = true, suspOnly = false,
      noDelay = false, None, "notify"))

  private def ruleNames(path: String): Seq[String] =
    graft.rules.RuleStore.load(spark, path).select("name").collect().map(_.getString(0)).toSeq

  /** The files Spark's reader sees in a store directory. */
  private def dataFiles(path: String): Seq[String] =
    new java.io.File(path).list().toSeq.filterNot(n => n.startsWith("_") || n.startsWith(".")).sorted

  test("RuleStore: a save that dies before its rename leaves the previous rules") {
    import graft.rules.{Rules, RuleStore}
    val path = tmp("rulestore_crash") + "/rules.json"
    RuleStore.save(Rules.dfFor(spark, ruleRows("r1", "r2")), path)
    // the crash window: the next save wrote its temp file, the rename
    // never happened
    Files.write(java.nio.file.Paths.get(path, "._part-00000.json.tmp"),
      "{\"name\":\"r_new\"".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    assert(ruleNames(path).sorted == Seq("r1", "r2"))
    // the next save replaces the leftover along with the file
    RuleStore.save(Rules.dfFor(spark, ruleRows("r3")), path)
    assert(ruleNames(path) == Seq("r3"))
    assert(new java.io.File(path).list().sorted.toSeq == Seq("part-00000.json"))
  }

  test("RuleStore: a store laid out as graftbench seeds it loads, and its first save replaces the file") {
    import graft.rules.{Rules, RuleStore}
    val path = tmp("rulestore_seeded") + "/rules"
    Files.createDirectories(java.nio.file.Paths.get(path))
    Files.write(java.nio.file.Paths.get(path, "part-00000.json"),
      ("""{"name":"r1","kind":"username_contains","pattern":"ab","num_arg":0,"enabled":true,""" +
        """"susp_only":false,"no_delay":true,"actions":"notify"}""" + "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    Files.createFile(java.nio.file.Paths.get(path, "_SUCCESS"))
    val loaded = RuleStore.load(spark, path).collect()
    assert(loaded.map(_.getAs[String]("pattern")).toSeq == Seq("ab"))
    assert(loaded.head.isNullAt(loaded.head.fieldIndex("expiry_us")))
    RuleStore.save(Rules.dfFor(spark, ruleRows("r1", "r2")), path)
    assert(ruleNames(path).sorted == Seq("r1", "r2"))
    assert(dataFiles(path) == Seq("part-00000.json"))
  }

  test("RuleStore: a store written by Spark's writer has one data file after one save") {
    import graft.rules.{Rules, RuleStore}
    val path = tmp("rulestore_legacy") + "/rules.json"
    Rules.dfFor(spark, ruleRows("r1")).write.json(path)
    Rules.dfFor(spark, ruleRows("r2")).write.mode("append").json(path)
    assert(dataFiles(path).size == 2, s"fixture: two part files in ${dataFiles(path)}")
    assert(ruleNames(path).sorted == Seq("r1", "r2"))
    RuleStore.save(RuleStore.add(RuleStore.load(spark, path), ruleRows("r3").head, spark), path)
    assert(dataFiles(path) == Seq("part-00000.json"))
    assert(ruleNames(path).sorted == Seq("r1", "r2", "r3"))
  }
}
