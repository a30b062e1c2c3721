package graft.rules

import graft.events.Signups
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Rule-engine queries (SURVEY §2a #4-12). Each criterion kind is exercised
  * standalone (predicate-pushdown shape) and through the full broadcast-join
  * engine; lifecycle/expiry/stats/actions reproduce rules.rs semantics.
  */
object RuleQueries {

  private def signups(spark: SparkSession, sfDir: String): DataFrame =
    Signups.derive(spark, sfDir)

  private def withCtes(body: String): String =
    "WITH " + Signups.cte.stripSuffix("\n") + ",\n" + Rules.valuesSql + "\n" + body

  // ---- single-criterion filters (#4-7) ------------------------------------

  /** Case-insensitive contains (UsernameContains, rules.rs:251-255). */
  def ruContains(spark: SparkSession, sfDir: String): DataFrame =
    signups(spark, sfDir)
      .filter(instr(upper(col("username")), lit("ER_1")) > 0)
      .select(col("event_id"), col("username"), col("email"))

  val ruContainsSql: String = Signups.sqlCte +
    """SELECT event_id, username, email FROM signups
      |WHERE instr(upper(username), 'ER_1') > 0""".stripMargin

  /** Case-insensitive regex (EmailRegex semantics: `(?i)` injected). */
  def ruRegex(spark: SparkSession, sfDir: String): DataFrame =
    signups(spark, sfDir)
      .filter(col("email").rlike("(?i)^USER_[0-9]*@MAIL[02]"))
      .select(col("event_id"), col("email"))

  val ruRegexSql: String = Signups.sqlCte +
    """SELECT event_id, email FROM signups
      |WHERE regexp_matches(email, '(?i)^USER_[0-9]*@MAIL[02]')""".stripMargin

  /** Exact match against a small set (IpMatch/PrintMatch as a semi-join). */
  def ruExact(spark: SparkSession, sfDir: String): DataFrame = {
    val prints = Seq(Rules.md5Hex("fp7"), Rules.md5Hex("fp13"), Rules.md5Hex("fp21"))
    signups(spark, sfDir)
      .filter(col("fingerprint").isInCollection(prints))
      .select(col("event_id"), col("username"), col("fingerprint"))
  }

  val ruExactSql: String = Signups.sqlCte +
    s"""SELECT event_id, username, fingerprint FROM signups
       |WHERE fingerprint IN ('${Rules.md5Hex("fp7")}', '${Rules.md5Hex("fp13")}', '${Rules.md5Hex("fp21")}')""".stripMargin

  /** UseragentLengthLte: None UA never matches (rules.rs:260-263). */
  def ruUaLen(spark: SparkSession, sfDir: String): DataFrame =
    signups(spark, sfDir)
      .filter(col("ua").isNotNull && length(col("ua")) <= 12)
      .select(col("event_id"), col("username"), col("ua"))

  val ruUaLenSql: String = Signups.sqlCte +
    """SELECT event_id, username, ua FROM signups
      |WHERE ua IS NOT NULL AND length(ua) <= 12""".stripMargin

  // ---- full engine (#8) ---------------------------------------------------

  def ruEngine(spark: SparkSession, sfDir: String): DataFrame =
    RuleEngine.matches(signups(spark, sfDir), Rules.df(spark))
      .select(col("event_id"), col("username"), col("name").as("rule_name"))

  val ruEngineSql: String = withCtes(
    s"""SELECT s.event_id, s.username, r.name AS rule_name
       |FROM signups s JOIN rules r ON ${RuleEngine.matchConditionSql()}""".stripMargin)

  // ---- match stats (#9): match_count / latest_match_date / last-3 caught --

  def ruMatchStats(spark: SparkSession, sfDir: String): DataFrame = {
    val m = RuleEngine.matches(signups(spark, sfDir), Rules.df(spark))
      .select(col("name"), col("username"), col("ts_us"))
    val counts = m.groupBy(col("name"))
      .agg(count(lit(1)).as("match_count"), max(col("ts_us")).as("latest_us"))
    val perUser = m.groupBy(col("name"), col("username")).agg(max(col("ts_us")).as("uts"))
    val w = Window.partitionBy(col("name")).orderBy(col("uts").desc, col("username").asc)
    val recent = perUser.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      .groupBy(col("name"))
      .agg(array_join(
        transform(
          array_sort(collect_list(struct((-col("uts")).as("k"), col("username").as("u")))),
          x => x.getField("u")),
        ",").as("recent3"))
    counts.join(recent, Seq("name")).withColumnRenamed("name", "rule_name")
  }

  val ruMatchStatsSql: String = withCtes(
    s""", m AS (
       |  SELECT s.username, s.ts_us, r.name
       |  FROM signups s JOIN rules r ON ${RuleEngine.matchConditionSql()}
       |),
       |pu AS (SELECT name, username, max(ts_us) AS uts FROM m GROUP BY 1, 2),
       |top3 AS (
       |  SELECT name, username, uts,
       |    row_number() OVER (PARTITION BY name ORDER BY uts DESC, username ASC) AS rn
       |  FROM pu)
       |SELECT c.name AS rule_name, c.match_count, c.latest_us, r3.recent3
       |FROM (SELECT name, count(*) AS match_count, max(ts_us) AS latest_us FROM m GROUP BY 1) c
       |JOIN (SELECT name, string_agg(username, ',' ORDER BY uts DESC, username ASC) AS recent3
       |      FROM top3 WHERE rn <= 3 GROUP BY 1) r3 USING (name)""".stripMargin)

  // ---- lifecycle (#10): disable-re / enable-re / renew / list -------------

  /** Applies `signup rules disable-re ^r_user`, `enable-re ^r_disabled$`,
    * `renew r_email_regex 14d` to the corpus and lists the result with the
    * reference's display convention (disabled names parenthesised,
    * rules.rs:113-124). */
  def ruLifecycle(spark: SparkSession, sfDir: String): DataFrame = {
    val renewedUs = Rules.nowUs + 14L * 86400L * 1000000L
    Rules.df(spark)
      .withColumn("enabled_after",
        when(col("name").rlike("^r_user"), lit(false))
          .when(col("name").rlike("^r_disabled$"), lit(true))
          .otherwise(col("enabled")))
      .withColumn("expiry_us_after",
        when(col("name") === "r_email_regex", lit(renewedUs)).otherwise(col("expiry_us")))
      .select(col("name"), col("enabled_after"), col("expiry_us_after"),
        when(col("enabled_after"), col("name"))
          .otherwise(concat(lit("("), col("name"), lit(")"))).as("display"))
  }

  val ruLifecycleSql: String = {
    val renewedUs = Rules.nowUs + 14L * 86400L * 1000000L
    s"""WITH ${Rules.valuesSql}
       |SELECT name,
       |  CASE WHEN regexp_matches(name, '^r_user') THEN false
       |       WHEN regexp_matches(name, '^r_disabled$$') THEN true
       |       ELSE enabled END AS enabled_after,
       |  CASE WHEN name = 'r_email_regex' THEN $renewedUs ELSE expiry_us END AS expiry_us_after,
       |  CASE WHEN (CASE WHEN regexp_matches(name, '^r_user') THEN false
       |       WHEN regexp_matches(name, '^r_disabled$$') THEN true
       |       ELSE enabled END) THEN name ELSE '(' || name || ')' END AS display
       |FROM rules""".stripMargin
  }

  // ---- expiry sweep (#11): eventhandler.rs:418-480 ------------------------

  def ruExpiry(spark: SparkSession, sfDir: String): DataFrame = {
    val dayUs = 86400L * 1000000L
    Rules.df(spark).select(
      col("name"),
      when(col("expiry_us").isNull, "none")
        .when(col("expiry_us") < Rules.nowUs, "expired")
        .when(col("expiry_us") < Rules.nowUs + dayUs, "expiring_soon")
        .otherwise("active").as("status"),
      (col("expiry_us").isNotNull && lit(Rules.nowUs) > col("expiry_us") + lit(3L * dayUs))
        .as("auto_remove"))
  }

  val ruExpirySql: String = {
    val dayUs = 86400L * 1000000L
    s"""WITH ${Rules.valuesSql}
       |SELECT name,
       |  CASE WHEN expiry_us IS NULL THEN 'none'
       |       WHEN expiry_us < ${Rules.nowUs} THEN 'expired'
       |       WHEN expiry_us < ${Rules.nowUs + dayUs} THEN 'expiring_soon'
       |       ELSE 'active' END AS status,
       |  coalesce(expiry_us IS NOT NULL AND ${Rules.nowUs} > expiry_us + ${3L * dayUs}, false) AS auto_remove
       |FROM rules""".stripMargin
  }

  // ---- action plan (#12): rules.rs:286-331 + delay policy -----------------

  def ruActions(spark: SparkSession, sfDir: String): DataFrame = {
    val m = RuleEngine.matches(signups(spark, sfDir), Rules.df(spark))
    m.select(col("event_id"), col("username"), col("name").as("rule_name"),
        col("no_delay"), explode(split(col("actions"), "\\+")).as("action"))
      .select(
        col("event_id"), col("username"), col("rule_name"), col("action"),
        when(col("action") === "shadowban",
          concat(lit("https://lichess.org/mod/"), col("username"), lit("/troll/true")))
          .when(col("action") === "engine",
            concat(lit("https://lichess.org/mod/"), col("username"), lit("/engine/true")))
          .when(col("action") === "boost",
            concat(lit("https://lichess.org/mod/"), col("username"), lit("/booster/true")))
          .when(col("action") === "ipban",
            concat(lit("https://lichess.org/mod/"), col("username"), lit("/ban/true")))
          .when(col("action") === "close",
            concat(lit("https://lichess.org/mod/"), col("username"), lit("/close")))
          .when(col("action") === "alt",
            concat(lit("https://lichess.org/mod/"), col("username"), lit("/alt/true")))
          .when(col("action") === "panic", lit("https://lichess.org/mod/chat-panic"))
          .otherwise(lit(null).cast("string")).as("endpoint"),
        (!col("no_delay") && col("action").isInCollection(Seq("engine", "boost", "ipban", "close")))
          .as("delayed"),
        when(!col("no_delay") && col("action") === "close", lit(1500)).otherwise(lit(0))
          .as("extra_delay_ms"))
  }

  val ruActionsSql: String = withCtes(
    s""", m AS (
       |  SELECT s.event_id, s.username, r.name AS rule_name, r.no_delay,
       |    unnest(string_split(r.actions, '+')) AS action
       |  FROM signups s JOIN rules r ON ${RuleEngine.matchConditionSql()}
       |)
       |SELECT event_id, username, rule_name, action,
       |  CASE action
       |    WHEN 'shadowban' THEN 'https://lichess.org/mod/' || username || '/troll/true'
       |    WHEN 'engine' THEN 'https://lichess.org/mod/' || username || '/engine/true'
       |    WHEN 'boost' THEN 'https://lichess.org/mod/' || username || '/booster/true'
       |    WHEN 'ipban' THEN 'https://lichess.org/mod/' || username || '/ban/true'
       |    WHEN 'close' THEN 'https://lichess.org/mod/' || username || '/close'
       |    WHEN 'alt' THEN 'https://lichess.org/mod/' || username || '/alt/true'
       |    WHEN 'panic' THEN 'https://lichess.org/mod/chat-panic'
       |    ELSE NULL END AS endpoint,
       |  (NOT no_delay) AND action IN ('engine', 'boost', 'ipban', 'close') AS delayed,
       |  CASE WHEN (NOT no_delay) AND action = 'close' THEN 1500 ELSE 0 END AS extra_delay_ms
       |FROM m""".stripMargin)

  // ---- SQL-expression criteria (the Lua analog, lua.rs) -------------------

  /** The reference lets operators attach arbitrary Lua predicates over the
    * user fields (+ regex/ip-range helpers). The Spark analog: arbitrary SQL
    * predicates compiled via [[RuleEngine.sqlCriterion]] into the same
    * pipeline — codegen'd, not interpreted. Each corpus entry carries its
    * Spark and DuckDB spelling (dialects differ on regex). */
  val luaCorpus: Seq[(String, String, String)] = Seq(
    ("l_susp_short", "susp_ip AND length(username) <= 7",
      "susp_ip AND length(username) <= 7"),
    ("l_curl", "ua IS NOT NULL AND ua LIKE 'curl/%'",
      "ua IS NOT NULL AND ua LIKE 'curl/%'"),
    ("l_mail_or_ip", "email LIKE '%@mail2%' OR ip LIKE '1.%'",
      "email LIKE '%@mail2%' OR ip LIKE '1.%'"),
    ("l_regex", "username RLIKE '^user_1[0-9]$'",
      "regexp_matches(username, '^user_1[0-9]$')"),
    // the reference's isInIpRange Lua helper (lua.rs:85-100), exposed to SQL
    // criteria via GraftExtensions; oracle spells the same octet math inline
    ("l_ip_range", "is_in_ip_range(ip, '64.0.0.0', '127.255.255.255')",
      s"${graft.enrich.GeoIp.ipToIntSql} BETWEEN ${graft.enrich.GeoIp.ipToLong("64.0.0.0")} " +
        s"AND ${graft.enrich.GeoIp.ipToLong("127.255.255.255")}"))

  def ruLua(spark: SparkSession, sfDir: String): DataFrame = {
    graft.plans.GraftExtensions.install(spark) // is_in_ip_range for sqlCriterion
    val s = signups(spark, sfDir)
    luaCorpus.map { case (name, sparkPred, _) =>
      s.filter(RuleEngine.sqlCriterion(sparkPred))
        .select(lit(name).as("rule_name"), col("event_id"), col("username"))
    }.reduce(_ unionAll _)
  }

  val ruLuaSql: String = Signups.sqlCte +
    luaCorpus.map { case (name, _, duckPred) =>
      s"SELECT '$name' AS rule_name, event_id, username FROM signups WHERE $duckPred"
    }.mkString("\nUNION ALL\n")

  // ---- `signup rules show` formatting (eventhandler.rs:300-330) -----------

  /** Criterion friendly-text (rules.rs:274-284), shared by the rule display
    * and the Zulip log message. */
  val criterionFriendly: org.apache.spark.sql.Column =
    when(col("kind") === "ip_match", concat(lit("IP equals `"), col("pattern"), lit("`")))
      .when(col("kind") === "print_match",
        concat(lit("Fingerprint hash equals `"), col("pattern"), lit("`")))
      .when(col("kind") === "email_contains",
        concat(lit("Email address contains `"), col("pattern"), lit("`")))
      .when(col("kind") === "email_regex",
        concat(lit("Email address matches regular expression `"), col("pattern"), lit("`")))
      .when(col("kind") === "username_contains",
        concat(lit("Username contains (case-insensitive) `"), col("pattern"), lit("`")))
      .when(col("kind") === "username_regex",
        concat(lit("Username matches regular expression `"), col("pattern"), lit("`")))
      .otherwise(concat(lit("User agent length is less than or equal to "),
        col("num_arg").cast("string")))

  val criterionFriendlySql: String =
    """CASE kind
      |    WHEN 'ip_match' THEN 'IP equals `' || pattern || '`'
      |    WHEN 'print_match' THEN 'Fingerprint hash equals `' || pattern || '`'
      |    WHEN 'email_contains' THEN 'Email address contains `' || pattern || '`'
      |    WHEN 'email_regex' THEN 'Email address matches regular expression `' || pattern || '`'
      |    WHEN 'username_contains' THEN 'Username contains (case-insensitive) `' || pattern || '`'
      |    WHEN 'username_regex' THEN 'Username matches regular expression `' || pattern || '`'
      |    ELSE 'User agent length is less than or equal to ' || num_arg END""".stripMargin

  /** Human-readable rule display: criterion friendly-text
    * (rules.rs:274-284), actions, delay + expiry suffixes. */
  def ruShow(spark: SparkSession, sfDir: String): DataFrame = {
    val friendly = criterionFriendly
    Rules.df(spark).select(col("name"),
      concat(
        lit("Criterion: "), friendly,
        lit(". Actions: ["), col("actions"), lit("]"),
        when(col("no_delay"), lit(". No delay")).otherwise(lit("")),
        when(col("expiry_us").isNotNull,
          concat(lit(". Expires: "), col("expiry_us").cast("string"))).otherwise(lit("")))
        .as("display"))
  }

  val ruShowSql: String =
    s"""WITH ${Rules.valuesSql}
       |SELECT name,
       |  'Criterion: ' ||
       |  CASE kind
       |    WHEN 'ip_match' THEN 'IP equals `' || pattern || '`'
       |    WHEN 'print_match' THEN 'Fingerprint hash equals `' || pattern || '`'
       |    WHEN 'email_contains' THEN 'Email address contains `' || pattern || '`'
       |    WHEN 'email_regex' THEN 'Email address matches regular expression `' || pattern || '`'
       |    WHEN 'username_contains' THEN 'Username contains (case-insensitive) `' || pattern || '`'
       |    WHEN 'username_regex' THEN 'Username matches regular expression `' || pattern || '`'
       |    ELSE 'User agent length is less than or equal to ' || num_arg END ||
       |  '. Actions: [' || actions || ']' ||
       |  CASE WHEN no_delay THEN '. No delay' ELSE '' END ||
       |  CASE WHEN expiry_us IS NOT NULL THEN '. Expires: ' || expiry_us ELSE '' END
       |  AS display
       |FROM rules""".stripMargin

  // ---- notify dedup (eventhandler.rs:196-216: recently_notified ring) -----

  /** One Zulip notification per user: the reference suppresses repeat
    * notifies for users already in its 2000-entry notified ring; the batch
    * semantics is "first notify wins" per (case-insensitive) user. */
  def ruNotify(spark: SparkSession, sfDir: String): DataFrame = {
    val m = RuleEngine.matches(signups(spark, sfDir), Rules.df(spark))
      .filter(concat(lit("+"), col("actions"), lit("+")).contains("+notify+"))
    val w = Window.partitionBy(lower(col("username")))
      .orderBy(col("ts_us").asc, col("event_id").asc, col("name").asc)
    m.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(lower(col("username")).as("user_lc"), col("event_id"),
        col("name").as("rule_name"))
  }

  val ruNotifySql: String = withCtes(
    s""", m AS (
       |  SELECT s.username, s.ts_us, s.event_id, r.name
       |  FROM signups s JOIN rules r ON ${RuleEngine.matchConditionSql()}
       |  WHERE contains('+' || r.actions || '+', '+notify+')
       |)
       |SELECT lower(username) AS user_lc, event_id, name AS rule_name FROM (
       |  SELECT username, event_id, name,
       |    row_number() OVER (PARTITION BY lower(username)
       |      ORDER BY ts_us ASC, event_id ASC, name ASC) AS rn
       |  FROM m) t
       |WHERE rn = 1""".stripMargin)

  // ---- Bloom-filter blocklist pre-filter ----------------------------------

  /** The join-pruning pattern for blocklist checks at 100 TB: a portable
    * Bloom filter built over the suspicious-IP dim rides the probe side as
    * a LITERAL (no join node, pure codegen'd hash math per row); only
    * maybe-members need the exact join. This query emits BOTH verdicts —
    * `maybe` (bloom) and `actual` (exact) — so the false-positive contract
    * (`maybe` ⊇ `actual`, never misses) is oracle-checked; production
    * filters on `maybe` BEFORE the exact join and lets the FP rate trade
    * filter size against pruned shuffle volume. */
  def ruBloom(spark: SparkSession, sfDir: String): DataFrame = {
    val s = signups(spark, sfDir)
    val block = s.filter(col("susp_ip")).select(col("ip")).distinct()
    val filter = graft.functions.BloomFilter.build(block, col("ip"))
    s.select(col("event_id"), col("ip"))
      .withColumn("maybe", graft.functions.BloomFilter.mayContain(col("ip"), filter))
      .join(block.withColumnRenamed("ip", "bip"),
        col("ip") === col("bip"), "left")
      .select(col("event_id"), col("ip"), col("maybe"),
        col("bip").isNotNull.as("actual"))
  }

  val ruBloomSql: String = {
    import graft.functions.BloomFilter
    Signups.sqlCte.stripSuffix("\n") + ",\n" +
      "block AS (SELECT DISTINCT ip FROM signups WHERE susp_ip),\n" +
      BloomFilter.buildSql("block", "block.ip") + "\n" +
      s"""SELECT s.event_id, s.ip,
         |  ${BloomFilter.mayContainSql("s.ip")} AS maybe,
         |  (b.ip IS NOT NULL) AS actual
         |FROM signups s LEFT JOIN block b ON s.ip = b.ip""".stripMargin
  }

  // ---- Zulip notification text assembly (eventhandler.rs:196-253) ---------

  /** The two Zulip message bodies the reference posts on a rule match:
    *
    *  - `notify_text` (the NotifyZulip action, eventhandler.rs:199-205):
    *    `Rule {name} match: [{username}](https://lichess.org/@/{user_id}?mod)`
    *    with `user_id` = lowercased username (eventhandler.rs:91);
    *  - `log_text` (the log-stream message, eventhandler.rs:222-253):
    *    `Rule {name} match: {criterion friendly} on [{username}](…?mod).
    *    {match_count} previous matches. Recent matches: {links | None}` —
    *    `match_count`/`most_recent_caught` reproduce rules.rs:147-158: one
    *    count per distinct caught username, last 3 kept as markdown links.
    *
    * The reference's 3-entry ring can RE-count a username after eviction
    * (rules.rs:147 checks only the current ring); batch semantics dedupe per
    * (rule, username) globally — the one sequential-state artifact not
    * reproduced, noted here. Everything is window + string assembly; the
    * Zulip TRANSPORT (rtm.rs/web.rs) is I/O, not query capability. */
  def ruNotifyText(spark: SparkSession, sfDir: String): DataFrame = {
    val m = RuleEngine.matches(signups(spark, sfDir), Rules.df(spark))
    // first match per (rule, username) — rules.rs:147-151's dedup-before-count
    val wFirst = Window.partitionBy(col("name"), col("username"))
      .orderBy(col("ts_us").asc, col("event_id").asc)
    val caught = m.withColumn("dup", row_number().over(wFirst)).filter(col("dup") === 1)
    val wSeq = Window.partitionBy(col("name")).orderBy(col("ts_us").asc, col("event_id").asc)
    val wRecent = wSeq.rowsBetween(-3, -1)
    val link = (u: org.apache.spark.sql.Column) =>
      concat(lit("["), u, lit("](https://lichess.org/@/"), u, lit("?mod)"))
    val recentArr = collect_list(col("username")).over(wRecent)
    caught.select(
      col("event_id"), col("name").as("rule_name"),
      concat(lit("Rule "), col("name"), lit(" match: ["), col("username"),
        lit("](https://lichess.org/@/"), lower(col("username")), lit("?mod)"))
        .as("notify_text"),
      concat(lit("Rule "), col("name"), lit(" match: "), criterionFriendly,
        lit(" on "), link(col("username")), lit(". "),
        (row_number().over(wSeq) - 1).cast("string"), lit(" previous matches. "),
        lit("Recent matches: "),
        when(size(recentArr) === 0, lit("None"))
          .otherwise(array_join(transform(recentArr, link), ", ")))
        .as("log_text"))
  }

  val ruNotifyTextSql: String = withCtes(
    s""", m AS (
       |  SELECT s.username, s.ts_us, s.event_id, r.name, r.kind, r.pattern, r.num_arg
       |  FROM signups s JOIN rules r ON ${RuleEngine.matchConditionSql()}
       |),
       |caught AS (
       |  SELECT * FROM m
       |  QUALIFY row_number() OVER (PARTITION BY name, username
       |    ORDER BY ts_us ASC, event_id ASC) = 1)
       |SELECT event_id, name AS rule_name,
       |  'Rule ' || name || ' match: [' || username || '](https://lichess.org/@/'
       |    || lower(username) || '?mod)' AS notify_text,
       |  'Rule ' || name || ' match: ' || $criterionFriendlySql
       |    || ' on [' || username || '](https://lichess.org/@/' || username || '?mod). '
       |    || CAST(row_number() OVER w - 1 AS VARCHAR) || ' previous matches. '
       |    || 'Recent matches: '
       |    || coalesce(string_agg('[' || username || '](https://lichess.org/@/'
       |         || username || '?mod)', ', ')
       |         OVER (PARTITION BY name ORDER BY ts_us ASC, event_id ASC
       |               ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING), 'None')
       |  AS log_text
       |FROM caught
       |WINDOW w AS (PARTITION BY name ORDER BY ts_us ASC, event_id ASC)""".stripMargin)

  // ---- CIDR-block ban candidates ------------------------------------------

  // alert-sensitivity knob; 4 rule-match events in one /24 is the level
  // that splits this corpus — production tunes it like any alert threshold
  val cidrMinMatches = 4L

  /** Block-level escalation of the per-IP ban action (rules.rs:286-331 bans
    * exactly the matched ip): aggregate matched signups into /24 blocks and
    * surface blocks with enough rule-match activity to make a block ban
    * worth a moderator's look — the step after single-IP bans become
    * whack-a-mole. Distinct-user counts ride along (the other signal a
    * moderator reads). Rides the same broadcast-join match output as ru_engine
    * (fact side streams map-side), one agg on the block id; the block id is
    * integer math over the fail-closed ipToInt, so malformed ips drop
    * instead of aliasing into someone else's block. */
  def ruCidr(spark: SparkSession, sfDir: String): DataFrame =
    RuleEngine.matches(signups(spark, sfDir), Rules.df(spark))
      .withColumn("ip_int", graft.enrich.GeoIp.ipToInt(col("ip")))
      .withColumn("block", expr("ip_int DIV 256"))
      .filter(col("block").isNotNull)
      .select(concat(expr("block DIV 65536"), lit("."),
          expr("(block DIV 256) % 256"), lit("."),
          expr("block % 256"), lit(".0/24")).as("cidr"),
        col("username"))
      .groupBy(col("cidr"))
      .agg(count(lit(1)).as("n_matches"),
        countDistinct(col("username")).as("n_users"))
      .withColumn("verdict",
        when(col("n_matches") >= cidrMinMatches, "ban_candidate").otherwise("watch"))

  val ruCidrSql: String = withCtes(
    s"""SELECT
       |  CAST(block // 65536 AS VARCHAR) || '.' ||
       |    CAST((block // 256) % 256 AS VARCHAR) || '.' ||
       |    CAST(block % 256 AS VARCHAR) || '.0/24' AS cidr,
       |  count(*) AS n_matches,
       |  count(DISTINCT username) AS n_users,
       |  CASE WHEN count(*) >= $cidrMinMatches
       |       THEN 'ban_candidate' ELSE 'watch' END AS verdict
       |FROM (
       |  SELECT ${graft.enrich.GeoIp.ipToIntSql} // 256 AS block, s.username
       |  FROM signups s JOIN rules r ON ${RuleEngine.matchConditionSql()}) m
       |WHERE block IS NOT NULL
       |GROUP BY 1""".stripMargin)

  // ---- alt-account rings (shared fingerprint) ------------------------------

  /** Multi-account ("alt") ring detection by shared browser fingerprint —
    * the analysis behind the reference's `Alt` action (rules.rs:286-331
    * marks accounts as alts; PrintMatch matches one print — this finds the
    * PRINTS worth acting on): accounts sharing a fingerprint, with ring
    * size, account roster, and activity span. ONE aggregation on the
    * fingerprint key (bounded listagg: ring sizes are capped by abuse
    * economics, not corpus size — and the roster sorts before joining, so
    * the csv is partition-order-proof); rings of one account drop out.
    * The span columns feed triage: a ring whose accounts signed up within
    * minutes is a script, one spanning months is a shared device. */
  def altRings(spark: SparkSession, sfDir: String): DataFrame =
    graft.events.Signups.derive(spark, sfDir)
      .groupBy(col("fingerprint"))
      .agg(countDistinct(col("username")).as("n_accounts"),
        count(lit(1)).as("n_signups"),
        min(col("ts_us")).as("first_us"), max(col("ts_us")).as("last_us"),
        array_join(array_sort(collect_set(col("username"))), ",").as("accounts"))
      .filter(col("n_accounts") >= 2)
      .withColumn("span_us", col("last_us") - col("first_us"))

  val altRingsSql: String = graft.events.Signups.sqlCte +
    """SELECT fingerprint,
      |  count(DISTINCT username) AS n_accounts,
      |  count(*) AS n_signups,
      |  min(ts_us) AS first_us, max(ts_us) AS last_us,
      |  string_agg(DISTINCT username, ',' ORDER BY username) AS accounts,
      |  max(ts_us) - min(ts_us) AS span_us
      |FROM signups
      |GROUP BY 1
      |HAVING count(DISTINCT username) >= 2""".stripMargin

  // ---- behavioral bot detection (timing regularity) ------------------------

  /** Behavioral bot detection by inter-event timing regularity — the
    * moderation signal BEHIND the reference's rule engine (humans arrive
    * bursty, cv ≈ 1 under Poisson; schedulers and scripts arrive regular,
    * cv → 0): per user, the squared coefficient of variation of
    * inter-event gaps, flagged below 0.81 (cv < 0.9) with ≥ 20 gaps of
    * support. ONE user_id exchange serves the lag window AND the per-user
    * fold. All moments in EXACT BIGINT (gaps in whole seconds keep n·Σg²
    * inside int64 at any per-user history; cv² = (n·Σg²−(Σg)²)/(Σg)² —
    * mean cancels, so ONE double division of exact-int operands decides
    * the verdict identically on both engines, the ev_spike variance
    * trick). */
  def botTiming(spark: SparkSession, sfDir: String): DataFrame = {
    graft.Tables(spark, sfDir).events
      .select(col("user_id"), col("event_id"), graft.epochUs(col("ts")).as("ts_us"))
      .withColumn("gap_s",
        expr("(ts_us - lag(ts_us, 1) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)) DIV 1000000"))
      .filter(col("gap_s").isNotNull)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_gaps"), sum(col("gap_s")).as("sg"),
        sum(col("gap_s") * col("gap_s")).as("sg2"))
      .filter(col("n_gaps") >= 20 && col("sg") > 0)
      .select(col("user_id"), col("n_gaps"),
        round(col("sg").cast("double") / col("n_gaps"), 6).as("mean_gap_s"),
        round((col("n_gaps") * col("sg2") - col("sg") * col("sg")).cast("double")
          / (col("sg") * col("sg")), 6).as("cv2"),
        ((col("n_gaps") * col("sg2") - col("sg") * col("sg")).cast("double")
          / (col("sg") * col("sg")) < 0.81).as("bot_like"))
  }

  val botTimingSql: String =
    """WITH g AS (
      |  SELECT user_id,
      |    (epoch_us(CAST(ts AS TIMESTAMP)) -
      |     lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
      |       PARTITION BY user_id ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id))
      |      // 1000000 AS gap_s
      |  FROM events),
      |s AS (
      |  SELECT user_id, count(*) AS n_gaps,
      |    CAST(sum(gap_s) AS BIGINT) AS sg,
      |    CAST(sum(gap_s * gap_s) AS BIGINT) AS sg2
      |  FROM g WHERE gap_s IS NOT NULL GROUP BY 1)
      |SELECT user_id, n_gaps,
      |  round(CAST(sg AS DOUBLE) / n_gaps, 6) AS mean_gap_s,
      |  round(CAST(n_gaps * sg2 - sg * sg AS DOUBLE) / (sg * sg), 6) AS cv2,
      |  CAST(n_gaps * sg2 - sg * sg AS DOUBLE) / (sg * sg) < 0.81 AS bot_like
      |FROM s WHERE n_gaps >= 20 AND sg > 0""".stripMargin

  // ---- decayed IP reputation ------------------------------------------------

  /** Decayed per-IP reputation — the scoring layer moderation teams build
    * over raw rule hits (ru_match_stats counts per RULE; this accumulates
    * per OFFENDER): each match contributes weight 2^(30−age_days) —
    * exponential half-life decay of one day, floored at day 30 — so a
    * burst of fresh hits outranks years of stale ones, and the top of the
    * list is who to look at TODAY. Exact arithmetic throughout: the decay
    * is an integer SHIFT (2^k as `shiftleft`, ages clamped to [0, 30]),
    * the score an exact BIGINT sum — no pow(), no float decay, identical
    * on both engines. The clock is the corpus watermark (max signup ts, a
    * one-row broadcast — the status_watermark pattern), not wall time, so
    * the row is reproducible. Scale shape: matches ride the ru_engine
    * broadcast join; ONE ip aggregation with map-side partials; top-20 via
    * TakeOrderedAndProject (no global sort). */
  def ruReputation(spark: SparkSession, sfDir: String): DataFrame = {
    val dayUs = 86400000000L
    val m = RuleEngine.matches(signups(spark, sfDir), Rules.df(spark))
      .select(col("ip"), col("ts_us"))
    val now = m.agg(max(col("ts_us")).as("now_us"))
    m.join(broadcast(now))
      .withColumn("age_d",
        least(lit(30L), greatest(lit(0L), expr(s"(now_us - ts_us) DIV $dayUs"))))
      .withColumn("w", expr("shiftleft(CAST(1 AS BIGINT), CAST(30 - age_d AS INT))"))
      .groupBy(col("ip"))
      .agg(count(lit(1)).as("n_matches"), sum(col("w")).as("score"),
        max(col("ts_us")).as("last_us"))
      .orderBy(col("score").desc, col("ip").asc)
      .limit(20)
  }

  val ruReputationSql: String = withCtes(
    s""", m AS (
       |  SELECT s.ip, s.ts_us
       |  FROM signups s JOIN rules r ON ${RuleEngine.matchConditionSql()}),
       |now_w AS (SELECT max(ts_us) AS now_us FROM m),
       |sc AS (
       |  SELECT ip, ts_us,
       |    (CAST(1 AS BIGINT) << CAST(30 - least(30,
       |      greatest(0, (now_us - ts_us) // 86400000000)) AS INTEGER)) AS w
       |  FROM m CROSS JOIN now_w)
       |SELECT ip, CAST(count(*) AS BIGINT) AS n_matches,
       |  CAST(sum(w) AS BIGINT) AS score, max(ts_us) AS last_us
       |FROM sc GROUP BY 1
       |ORDER BY score DESC, ip ASC LIMIT 20""".stripMargin)

  // ---- shadow-mode rule evaluation ------------------------------------------

  /** Candidate rule under shadow evaluation (odd-digit usernames — the
    * complement of the incumbent r_user_regex's even-digit pattern, so
    * overlap and only-new are both non-trivial). */
  val shadowPattern = "user_[0-9]*[13579]$"

  /** Shadow-mode rule evaluation — the step between `signup rules test`
    * (the reference's single-user hypothetical, command.rs:227 → namechk)
    * and enabling a rule fleet-wide: run the CANDIDATE against the full
    * corpus without firing actions and report its overlap with every
    * incumbent rule plus the `<none>` bucket (events ONLY the candidate
    * catches — its marginal contribution, the number a moderator actually
    * decides on). Scale shape: the candidate predicate is a pushdown
    * filter on the signup scan; incumbents ride the same broadcast-dim
    * match join as ru_engine; the overlap rollup is bounded by |rules|+1;
    * the candidate total is a one-row broadcast. */
  def ruShadow(spark: SparkSession, sfDir: String): DataFrame = {
    val s = signups(spark, sfDir)
    val cand = s.filter(col("username").rlike("(?i)" + shadowPattern))
      .select(col("event_id"))
    val inc = RuleEngine.matches(s, Rules.df(spark))
      .select(col("event_id"), col("name"))
    val total = cand.agg(count(lit(1)).as("n_candidate"))
    cand.join(inc, Seq("event_id"), "left")
      .groupBy(coalesce(col("name"), lit("<none>")).as("incumbent"))
      .agg(count(lit(1)).as("n_events"))
      .join(broadcast(total))
      .withColumn("share", round(
        col("n_events").cast("double") / col("n_candidate").cast("double"), 6))
  }

  val ruShadowSql: String = withCtes(
    s"""SELECT coalesce(name, '<none>') AS incumbent,
       |  CAST(count(*) AS BIGINT) AS n_events,
       |  n_candidate,
       |  round(CAST(count(*) AS DOUBLE) / CAST(n_candidate AS DOUBLE), 6) AS share
       |FROM (SELECT event_id FROM signups
       |      WHERE regexp_matches(username, '(?i)$shadowPattern')) cand
       |LEFT JOIN (
       |  SELECT s.event_id, r.name FROM signups s
       |  JOIN rules r ON ${RuleEngine.matchConditionSql()}) inc
       |  ON cand.event_id = inc.event_id
       |CROSS JOIN (SELECT CAST(count(*) AS BIGINT) AS n_candidate FROM signups
       |  WHERE regexp_matches(username, '(?i)$shadowPattern')) tot
       |GROUP BY 1, n_candidate""".stripMargin)

  // ---- coordinated signup bursts (banded self-join) -------------------------

  /** Burst window (µs): signups on the same fingerprint within 10 minutes
    * pair up. */
  val burstWindowUs: Long = 600L * 1000000

  /** Coordinated-signup burst detection — ru_alt_rings finds fingerprints
    * shared across the WHOLE corpus; this finds the prints that fire in
    * RAPID SUCCESSION (two signups on one device print within 10 min —
    * registration scripts and farm sessions, the temporal half of the alt
    * signal). The naive form is an unbounded self-join per fingerprint; at
    * 100 TB the engine runs the BANDED self-join: time is bucketed at the
    * window width, the left side fans out to (bucket, bucket+1), and the
    * join is a pure EQUI-join on (fingerprint, bucket) — any pair within
    * the window shares a bucket or straddles adjacent ones, so candidates
    * are confined to O(per-band density²) while pairs further apart never
    * meet (the interval-join banding trick, same family as the dedup band
    * joins). The window bound and the (ts, event_id) strict order are
    * residual predicates inside the co-partitioned join; the per-print
    * report (pairs, distinct accounts, tightest gap) is one bounded agg. */
  def burstPairs(spark: SparkSession, sfDir: String): DataFrame = {
    val s = graft.events.Signups.derive(spark, sfDir)
      .select(col("fingerprint"), col("event_id"), col("ts_us"))
    val left = s
      .withColumn("bkt", explode(array(expr(s"ts_us DIV $burstWindowUs"),
        expr(s"ts_us DIV $burstWindowUs + 1"))))
      .select(col("fingerprint"), col("bkt"), col("event_id").as("eid_a"),
        col("ts_us").as("ts_a"))
    val right = s
      .withColumn("bkt", expr(s"ts_us DIV $burstWindowUs"))
      .select(col("fingerprint"), col("bkt"), col("event_id").as("eid_b"),
        col("ts_us").as("ts_b"))
    left.join(right, Seq("fingerprint", "bkt"))
      // each ordered pair meets EXACTLY once: the right row joins only at
      // its own bucket, and the left fan-out's two bucket values are
      // distinct — no same-bucket/adjacent-bucket double count to dedup
      .filter((col("ts_a") < col("ts_b") ||
        (col("ts_a") === col("ts_b") && col("eid_a") < col("eid_b"))) &&
        col("ts_b") - col("ts_a") <= burstWindowUs)
      .groupBy(col("fingerprint"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("eid_a")).as("n_earlier"),
        min(col("ts_b") - col("ts_a")).as("min_gap_us"))
  }

  val burstPairsSql: String = graft.events.Signups.sqlCte +
    s"""SELECT a.fingerprint, count(*) AS n_pairs,
       |  count(DISTINCT a.event_id) AS n_earlier,
       |  min(b.ts_us - a.ts_us) AS min_gap_us
       |FROM signups a JOIN signups b ON a.fingerprint = b.fingerprint
       |  AND (a.ts_us < b.ts_us OR (a.ts_us = b.ts_us AND a.event_id < b.event_id))
       |  AND b.ts_us - a.ts_us <= $burstWindowUs
       |GROUP BY 1""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ru_burst_pairs" -> (burstPairs _),
    "ru_shadow" -> (ruShadow _),
    "ru_reputation" -> (ruReputation _),
    "ru_bloom" -> (ruBloom _),
    "ru_notify_text" -> (ruNotifyText _),
    "ru_cidr" -> (ruCidr _),
    "ru_notify" -> (ruNotify _),
    "ru_lua" -> (ruLua _),
    "ru_show" -> (ruShow _),
    "ru_contains" -> (ruContains _),
    "ru_regex" -> (ruRegex _),
    "ru_exact" -> (ruExact _),
    "ru_ua_len" -> (ruUaLen _),
    "ru_engine" -> (ruEngine _),
    "ru_bot_timing" -> (botTiming _),
    "ru_alt_rings" -> (altRings _),
    "ru_match_stats" -> (ruMatchStats _),
    "ru_lifecycle" -> (ruLifecycle _),
    "ru_expiry" -> (ruExpiry _),
    "ru_actions" -> (ruActions _))

  def oracleSql: Map[String, String] = Map(
    "ru_burst_pairs" -> burstPairsSql,
    "ru_shadow" -> ruShadowSql,
    "ru_reputation" -> ruReputationSql,
    "ru_cidr" -> ruCidrSql,
    "ru_bloom" -> ruBloomSql,
    "ru_notify_text" -> ruNotifyTextSql,
    "ru_notify" -> ruNotifySql,
    "ru_lua" -> ruLuaSql,
    "ru_show" -> ruShowSql,
    "ru_contains" -> ruContainsSql,
    "ru_regex" -> ruRegexSql,
    "ru_exact" -> ruExactSql,
    "ru_ua_len" -> ruUaLenSql,
    "ru_engine" -> ruEngineSql,
    "ru_bot_timing" -> botTimingSql,
    "ru_alt_rings" -> altRingsSql,
    "ru_match_stats" -> ruMatchStatsSql,
    "ru_lifecycle" -> ruLifecycleSql,
    "ru_expiry" -> ruExpirySql,
    "ru_actions" -> ruActionsSql)
}
