package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The events `ts` data contract is driver-owned and has shipped as both
  * INT64 TIMESTAMP(NANOS) (read as raw Long under nanosAsLong) and
  * TIMESTAMP(MICROS, isAdjustedToUTC=false) (read as TIMESTAMP_NTZ). Both
  * loaders must normalize EITHER flavor to identical (`ts`, `ts_ns`,
  * `ts_us`) — this spec writes one fixture per flavor and asserts batch and
  * streaming agreement, so a driver-side regeneration can never silently
  * rescale the timeline again (the round-4 regression).
  */
class EventTsContractSpec extends AnyFunSuite {
  import SparkTest.spark

  // Three instants spanning the testdata's 2024-01 window, in epoch micros.
  private val instantsUs = Seq(
    1704067200000000L, // 2024-01-01T00:00:00Z
    1705708800123456L, // 2024-01-20T00:00:00.123456Z
    1706486399999999L) // 2024-01-28T23:59:59.999999Z

  /** Writes a single-file events.parquet under a fresh dir, `ts` typed per
    * `flavor`, and returns the dir (usable as an sfDir). */
  private def writeFixture(flavor: String): String = {
    val dir = Files.createTempDirectory(s"evts_$flavor")
    val rows = instantsUs.zipWithIndex.map { case (us, i) =>
      Row(i.toLong, us, i.toLong % 2, "create", i.toDouble, "{}")
    }
    val base = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", LongType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    val longs = spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), base)
    val df = flavor match {
      // nanos flavor: under nanosAsLong the NANOS column loads as a raw
      // Long, indistinguishable from a plain INT64 — write the raw nanos.
      case "nanos" => longs.withColumn("ts", col("ts") * lit(1000L))
      // micros flavor: NTZ writes as TIMESTAMP(MICROS, isAdjustedToUTC=false),
      // byte-identical to the regenerated driver data.
      case "micros" =>
        longs.withColumn("ts",
          timestamp_micros(col("ts")).cast(TimestampNTZType))
    }
    val tmp = Files.createTempDirectory("evts_w")
    df.coalesce(1).write.mode("overwrite").parquet(s"$tmp/out")
    val part = Files.list(Path.of(s"$tmp/out")).toArray.map(_.toString)
      .filter(p => p.endsWith(".parquet")).head
    Files.copy(Path.of(part), dir.resolve("events.parquet"))
    dir.toString
  }

  private lazy val nanosDir = writeFixture("nanos")
  private lazy val microsDir = writeFixture("micros")

  private def batchNorm(dir: String): Seq[(Long, Long)] =
    Tables(spark, dir).events
      .select(graft.epochUs(col("ts")).as("us"), col("ts_ns"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq

  test("fixtures load as the two distinct physical flavors") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    assert(spark.read.parquet(s"$nanosDir/events.parquet")
      .schema("ts").dataType == LongType)
    assert(spark.read.parquet(s"$microsDir/events.parquet")
      .schema("ts").dataType == TimestampNTZType)
  }

  test("batch loader yields identical ts/ts_ns from both flavors") {
    val a = batchNorm(nanosDir)
    val b = batchNorm(microsDir)
    assert(a == b, s"nanos=$a micros=$b")
    assert(a.map(_._1) == instantsUs.sorted)
    assert(a.map(_._2) == instantsUs.sorted.map(_ * 1000L))
  }

  test("streaming source yields identical ts_us from both flavors") {
    def run(dir: String): Seq[Long] =
      streaming.StreamOps.runToTable(spark, dir,
        org.apache.spark.sql.streaming.OutputMode.Append()) { src =>
        src.select(col("event_id"), col("ts_us"))
      }.collect().map(_.getLong(1)).sorted.toSeq
    val a = run(nanosDir)
    val b = run(microsDir)
    assert(a == b, s"nanos=$a micros=$b")
    assert(a == instantsUs.sorted)
  }
}
