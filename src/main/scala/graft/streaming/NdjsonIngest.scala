package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** NDJSON event-stream ingest (reference eventstream.rs:14-73).
  *
  * The reference opens a chunked HTTPS response, splits chunks on newlines,
  * JSON-decodes each line (logging and skipping malformed ones), and tags a
  * liveness ping per chunk. The Spark-first form: any line-oriented
  * streaming source with a `value` column (`http-ndjson` here, see
  * [[fromHttp]]; Kafka in production) → `from_json` with the signup schema
  * → malformed lines surface as null structs and are split off to a
  * dead-letter branch instead of silently dropped. Reconnect/backoff (the
  * reference's 7 s retry loop) and the 90 s event-silence restart are the
  * source's restart policy, not program logic.
  */
object NdjsonIngest {

  /** The reference's signup payload (event.rs:40-50), camelCase on the wire. */
  val signupSchema: StructType = StructType(Seq(
    StructField("t", StringType),
    StructField("username", StringType),
    StructField("email", StringType),
    StructField("ip", StringType),
    StructField("userAgent", StringType),
    StructField("fingerPrint", StringType),
    StructField("suspIp", BooleanType)))

  /** Parse a raw NDJSON line stream: valid signups vs dead letters.
    * Malformed = unparseable JSON, an untagged payload, or a signup with no
    * username (the reference's serde rejects exactly those). A VALID
    * non-signup message — e.g. a liveness ping `{"t":"ping"}` — is NOT
    * malformed; it flows through as a non-signup and the `t` filter drops
    * it, instead of polluting the dead-letter audit branch. */
  def parse(lines: DataFrame): DataFrame =
    lines
      .select(col("value").as("raw"), from_json(col("value"), signupSchema).as("j"))
      .select(col("raw"),
        col("j.t").as("t"), col("j.username").as("username"),
        col("j.email").as("email"), col("j.ip").as("ip"),
        col("j.userAgent").as("ua"), col("j.fingerPrint").as("fingerprint"),
        coalesce(col("j.suspIp"), lit(false)).as("susp_ip"),
        (col("j").isNull || col("j.t").isNull ||
          (col("j.t") === "signup" && col("j.username").isNull)).as("malformed"))

  /** Signup events straight off the HTTP chunked NDJSON feed — the exact
    * shape of the reference's ingest (eventstream.rs:14-73), via the custom
    * `http-ndjson` DataSourceV2 source (graft.sources.HttpNdjsonSourceProvider)
    * with the reference's 7 s reconnect backoff and 90 s event-silence
    * restart as the defaults. */
  def fromHttp(spark: SparkSession, url: String, reconnectDelayMs: Long = 7000L): DataFrame =
    parse(spark.readStream.format("http-ndjson")
      .option("url", url)
      .option("reconnectDelayMs", reconnectDelayMs)
      .load())
      .filter(!col("malformed") && col("t") === "signup")
      .drop("malformed", "raw", "t")
}
