package graft.rules

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.streaming.BatchJournal

/** Rule persistence (reference rules.rs:26-47: rules live in a JSON file,
  * rewritten on every mutation).
  *
  * A store is a directory holding one JSON-lines file, `part-00000.json`,
  * written from the driver through [[BatchJournal]] and replaced atomically
  * (write a temp file, then rename it over the old one), like the live
  * bot's other logs. `spark.read.json` reads it, so it loads straight into
  * the broadcast dim the engine joins against. Lifecycle mutations
  * (add/remove/enable/disable/renew) are pure DataFrame transforms:
  * load → transform → save.
  */
object RuleStore {

  /** The store's columns. `exp_notification` is the once-only expiry-notice
    * counter [[sweepNotices]] advances; dropping it on the save/load
    * roundtrip would re-arm every past notification. A rule written before
    * the counter existed reads it as null, which sweepNotices takes as 0. */
  val Schema: StructType = StructType.fromDDL(
    "name STRING, kind STRING, pattern STRING, num_arg INT, enabled BOOLEAN, " +
      "susp_only BOOLEAN, no_delay BOOLEAN, expiry_us LONG, actions STRING, " +
      "exp_notification INT")

  /** The store's one data file (graftbench seeds the same layout). */
  private val DataFile = "part-00000.json"

  /** Replace the rules at `path` with `rules`, cast to [[Schema]] (a missing
    * column is written as null), and return the rows written. One collect,
    * then one atomic file replace: a crash leaves the old file or the new
    * one, never a partial store. Any other visible file in the directory (a
    * part file of a store Spark's writer laid out) is deleted after the
    * replace, so after a save one data file holds the rules; a crash
    * between the replace and that delete shows such a store's rows twice
    * until the next save. */
  def save(rules: DataFrame, path: String): Array[Row] = {
    val rows = rules.select(Schema.map(f =>
      (if (rules.columns.contains(f.name)) col(f.name) else lit(null))
        .cast(f.dataType).as(f.name)): _*).collect()
    val journal = BatchJournal.open(path)
    journal.writeAtomic(DataFile, rows.iterator.map(_.json))
    journal.names()
      .filterNot(n => n == DataFile || n.startsWith("_") || n.startsWith("."))
      .foreach(journal.delete)
    rows
  }

  def load(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(Schema).json(path)

  /** `signup rules add` — refuses duplicate names (rules.rs:49-57). */
  def add(rules: DataFrame, rule: RuleRow, spark: SparkSession): DataFrame = {
    import spark.implicits._
    val newDf = Seq((rule.name, rule.kind, rule.pattern, rule.numArg, rule.enabled,
      rule.suspOnly, rule.noDelay, rule.expiryUs, rule.actions))
      .toDF("name", "kind", "pattern", "num_arg", "enabled", "susp_only",
        "no_delay", "expiry_us", "actions")
    // allowMissingColumns: a fresh rule has no exp_notification counter yet
    // (null ⇒ 0 at the next sweep)
    rules.unionByName(
      newDf.join(rules.select("name"), Seq("name"), "left_anti"),
      allowMissingColumns = true)
  }

  def remove(rules: DataFrame, name: String): DataFrame =
    rules.filter(col("name") =!= name)

  def setEnabled(rules: DataFrame, namePattern: String, enabled: Boolean): DataFrame =
    rules.withColumn("enabled",
      when(col("name").rlike(namePattern), lit(enabled)).otherwise(col("enabled")))

  def renew(rules: DataFrame, name: String, newExpiryUs: Long): DataFrame =
    rules.withColumn("expiry_us",
      when(col("name") === name, lit(newExpiryUs)).otherwise(col("expiry_us")))

  /** Expiry sweep (eventhandler.rs:418-480): drop rules >3 days past expiry. */
  def sweep(rules: DataFrame, nowUs: Long): DataFrame =
    rules.filter(col("expiry_us").isNull ||
      lit(nowUs) <= col("expiry_us") + lit(3L * 86400L * 1000000L))

  private val dayUs = 86400L * 1000000L

  /** The once-only expiry notifications (eventhandler.rs:430-460): a rule
    * notifies "expiring in less than a day" exactly once
    * (`exp_notification` 0 → 1) and "has expired" exactly once (≤1 → 2).
    * Input rules may carry an `exp_notification` column (absent ⇒ 0);
    * returns each rule with the `notice` to send this sweep (null = none)
    * and the advanced counter — run before [[sweep]], persist the result. */
  def sweepNotices(rules: DataFrame, nowUs: Long): DataFrame = {
    val withState =
      if (rules.columns.contains("exp_notification")) rules
      else rules.withColumn("exp_notification", lit(0))
    val state = coalesce(col("exp_notification"), lit(0))
    val expiringSoon = col("expiry_us").isNotNull &&
      col("expiry_us") < lit(nowUs + dayUs) && state === 0
    val expired = col("expiry_us").isNotNull &&
      col("expiry_us") < lit(nowUs) && state <= 1
    // reference branch order: the "expiring soon" arm wins while the
    // counter is 0 — even for an already-expired rule, which then reports
    // "expired" on the NEXT sweep (eventhandler.rs if/else-if)
    withState
      .withColumn("notice",
        when(expiringSoon, lit("expiring_soon"))
          .when(expired, lit("expired")))
      .withColumn("exp_notification",
        when(expiringSoon, lit(1)).when(expired, lit(2)).otherwise(state))
  }
}
