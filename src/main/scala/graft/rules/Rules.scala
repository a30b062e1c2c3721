package graft.rules

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.time.Instant

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The signup-rule model (reference: signup/rules.rs).
  *
  * `Criterion` kinds mirror rules.rs:227-238 — IpMatch, PrintMatch,
  * EmailContains (case-insensitive), EmailRegex, UsernameContains (ci),
  * UsernameRegex, UseragentLengthLte. (The reference's eighth kind, Lua, is
  * an arbitrary predicate over the same user fields; its Spark analog is a
  * SQL-expression criterion — see [[RuleEngine.sqlCriterion]].)
  *
  * Rule gating mirrors eventhandler.rs:120-127: a rule fires only if enabled,
  * not expired, and (if susp_ip-scoped) the user is flagged suspicious.
  */
final case class RuleRow(
    name: String,
    kind: String,
    pattern: String,
    numArg: Int,
    enabled: Boolean,
    suspOnly: Boolean,
    noDelay: Boolean,
    expiryUs: Option[Long],
    actions: String)

object Rules {

  /** Fixed evaluation instant (the reference's `Utc::now()`): 2024-06-01T00:00Z.
    * The catalogue and its oracle use it; the live bot reads its clock. */
  val nowUs: Long = Instant.parse("2024-06-01T00:00:00Z").toEpochMilli * 1000L

  def us(iso: String): Long = Instant.parse(iso).toEpochMilli * 1000L

  def md5Hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  /** The rule corpus every ru_* query evaluates. One definition feeds both
    * the Spark broadcast dim and the DuckDB VALUES literal ([[valuesSql]]). */
  val corpus: Seq[RuleRow] = Seq(
    RuleRow("r_ip", "ip_match", "123.0.93.63", 0, enabled = true, suspOnly = false,
      noDelay = false, Some(us("2024-06-01T12:00:00Z")), "notify"),
    RuleRow("r_print", "print_match", md5Hex("fp7"), 0, enabled = true, suspOnly = false,
      noDelay = false, Some(us("2024-07-01T00:00:00Z")), "shadowban+notify"),
    RuleRow("r_email_contains", "email_contains", "@MAIL3", 0, enabled = true, suspOnly = false,
      noDelay = false, None, "close"),
    RuleRow("r_email_regex", "email_regex", "^user_1[0-9]*@", 0, enabled = true, suspOnly = false,
      noDelay = false, Some(us("2025-01-01T00:00:00Z")), "engine+notify"),
    RuleRow("r_user_contains", "username_contains", "ER_2", 0, enabled = true, suspOnly = false,
      noDelay = false, Some(us("2024-05-30T00:00:00Z")), "alt"),
    RuleRow("r_user_regex", "username_regex", "user_[0-9]*[02468]$", 0, enabled = true,
      suspOnly = false, noDelay = true, None, "boost"),
    RuleRow("r_ua_len", "ua_len_lte", "", 12, enabled = true, suspOnly = false,
      noDelay = false, Some(us("2025-01-01T00:00:00Z")), "ipban+close"),
    RuleRow("r_disabled", "username_contains", "user", 0, enabled = false, suspOnly = false,
      noDelay = false, None, "close"),
    RuleRow("r_expired", "username_contains", "user", 0, enabled = true, suspOnly = false,
      noDelay = false, Some(us("2024-01-01T00:00:00Z")), "close"),
    RuleRow("r_susp", "username_contains", "user", 0, enabled = true, suspOnly = true,
      noDelay = false, None, "notify"))

  /** Rules as a Spark DataFrame (broadcast dim at 100 TB: rules are KBs). */
  def df(spark: SparkSession): DataFrame = dfFor(spark, corpus)

  /** Any rule list as a DuckDB VALUES CTE. */
  def valuesSqlFor(rules: Seq[RuleRow], cteName: String): String = {
    // single quotes in user-authored patterns/names must be SQL-escaped
    // ('' ) — a regex like ['] would otherwise break (or inject into)
    // every oracle built on this CTE
    def q(s: String): String = "'" + s.replace("'", "''") + "'"
    val rows = rules.map { r =>
      val exp = r.expiryUs.map(_.toString).getOrElse("NULL")
      s"(${q(r.name)}, ${q(r.kind)}, ${q(r.pattern)}, ${r.numArg}, ${r.enabled}, " +
        s"${r.suspOnly}, ${r.noDelay}, $exp, ${q(r.actions)})"
    }.mkString(",\n    ")
    s"""$cteName(name, kind, pattern, num_arg, enabled, susp_only, no_delay, expiry_us, actions) AS (
       |  VALUES
       |    $rows
       |)""".stripMargin
  }

  /** The identical corpus as a DuckDB CTE `rules(...)`. */
  val valuesSql: String = valuesSqlFor(corpus, "rules")

  /** Any rule list as a Spark DataFrame (same shape as [[df]]). */
  def dfFor(spark: SparkSession, rules: Seq[RuleRow]): DataFrame = {
    import spark.implicits._
    rules.map(r => (r.name, r.kind, r.pattern, r.numArg, r.enabled, r.suspOnly,
        r.noDelay, r.expiryUs, r.actions))
      .toDF("name", "kind", "pattern", "num_arg", "enabled", "susp_only",
        "no_delay", "expiry_us", "actions")
  }
}

/** Compiles criteria to Catalyst predicates and evaluates the rule set
  * against a signup stream as one broadcast join — the 100 TB shape of the
  * reference's per-event rule loop (eventhandler.rs:119-146): rules are a
  * broadcast dim, criterion dispatch is a codegen'd CASE expression, and no
  * shuffle touches the event stream.
  */
object RuleEngine {

  /** Per-kind criterion predicate over joined (signup × rule) columns.
    * Case-insensitive contains/regex matches rules.rs:241-259 (the reference
    * uppercases for contains and injects `(?i)` for regex). */
  def criterion: Column =
    when(col("kind") === "ip_match", col("ip") === col("pattern"))
      .when(col("kind") === "print_match", col("fingerprint") === col("pattern"))
      .when(col("kind") === "email_contains",
        instr(upper(col("email")), upper(col("pattern"))) > 0)
      .when(col("kind") === "email_regex", expr("email RLIKE concat('(?i)', pattern)"))
      .when(col("kind") === "username_contains",
        instr(upper(col("username")), upper(col("pattern"))) > 0)
      .when(col("kind") === "username_regex", expr("username RLIKE concat('(?i)', pattern)"))
      .when(col("kind") === "ua_len_lte",
        col("ua").isNotNull && length(col("ua")) <= col("num_arg"))
      .otherwise(lit(false))

  /** Gating predicate (eventhandler.rs:120-127). */
  def gate(nowUs: Long): Column =
    col("enabled") &&
      (col("expiry_us").isNull || col("expiry_us") > lit(nowUs)) &&
      (!col("susp_only") || col("susp_ip"))

  /** All (signup, rule) matches: inner join with the criterion as the join
    * condition — Catalyst plans broadcast-nested-loop with the predicate
    * evaluated inline; the fact side streams map-side only. */
  def matches(signups: DataFrame, rules: DataFrame, nowUs: Long = Rules.nowUs): DataFrame =
    signups.join(broadcast(rules), gate(nowUs) && criterion, "inner")

  /** The criterion CASE + gate as DuckDB SQL (joined against [[Rules.valuesSql]]). */
  def matchConditionSql(nowUs: Long = Rules.nowUs): String =
    s"""r.enabled AND (r.expiry_us IS NULL OR r.expiry_us > $nowUs)
       |  AND ((NOT r.susp_only) OR s.susp_ip)
       |  AND CASE r.kind
       |    WHEN 'ip_match' THEN s.ip = r.pattern
       |    WHEN 'print_match' THEN s.fingerprint = r.pattern
       |    WHEN 'email_contains' THEN instr(upper(s.email), upper(r.pattern)) > 0
       |    WHEN 'email_regex' THEN regexp_matches(s.email, '(?i)' || r.pattern)
       |    WHEN 'username_contains' THEN instr(upper(s.username), upper(r.pattern)) > 0
       |    WHEN 'username_regex' THEN regexp_matches(s.username, '(?i)' || r.pattern)
       |    WHEN 'ua_len_lte' THEN s.ua IS NOT NULL AND length(s.ua) <= r.num_arg
       |    ELSE FALSE END""".stripMargin

  /** Hypothetical evaluation (`namechk <user>` / `signup test`,
    * command.rs:26-50 + eventhandler.rs:67-73): run the rule set against a
    * synthetic signup without firing actions. The reference fabricates
    * `{email: qwe@asd.zxc, ip: 127.0.0.1, suspIp: false}` around the
    * username; same here, as a one-row DataFrame through the identical
    * broadcast-join path — what would fire, and with which actions. */
  def namechk(spark: SparkSession, username: String, rules: DataFrame,
      nowUs: Long = Rules.nowUs): DataFrame = {
    import spark.implicits._
    val user = Seq((0L, username, "qwe@asd.zxc", "127.0.0.1",
        Option.empty[String], Option.empty[String], false, 0L))
      .toDF("event_id", "username", "email", "ip", "ua", "fingerprint",
        "susp_ip", "ts_us")
    matches(user, rules, nowUs)
      .select(col("name").as("rule_name"), col("actions"))
  }

  /** Lua-criterion analog: an arbitrary SQL predicate over the user fields,
    * compiled straight into the same broadcast-join pipeline. The reference
    * exposes user fields + `regex()`/`isInIpRange()` helpers to Lua
    * (lua.rs:8-119); here any Spark SQL expression over
    * username/email/ip/ua/fingerprint/susp_ip plays that role, and is
    * codegen'd rather than interpreted per row. */
  def sqlCriterion(predicate: String): Column = expr(predicate)
}
