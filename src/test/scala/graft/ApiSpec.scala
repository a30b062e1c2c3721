package graft

import java.io.PrintWriter
import java.net.ServerSocket

import org.scalatest.funsuite.AnyFunSuite

class ApiSpec extends AnyFunSuite {
  import SparkTest._

  test("driver contract: entry() smoke returns rows, maps align") {
    assert(SparkEntry.entry(spark).count() > 0, "driver smoke gate is rows > 0")
    // every oracle key must have a query; every query key a SURVEY-checked
    // oracle (the repo policy: no rows-only fallbacks)
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet)
  }

  test("extensions register shingle_hashes and vector_dot for SQL") {
    graft.plans.GraftExtensions.install(spark)
    val r = spark.sql(
      "SELECT shingle_hashes('a b c d', 3, true, ''), vector_dot(array(1.0d, 2.0d), array(3.0d, 4.0d))")
      .head
    assert(r.getSeq[Long](0).length == 2)
    assert(r.getDouble(1) == 11.0)
  }

  test("web expression family reachable from pure SQL after install") {
    graft.plans.GraftExtensions.install(spark)
    val r = spark.sql(
      """SELECT
        |  url_canonical('https://Example.COM:443/a/b?utm_source=x&id=1#f'),
        |  url_resolve('https://example.com/dir/page.html', '../up.html'),
        |  html_links('<a href="x.html">X</a><a name="n">t</a>'),
        |  html_anchors('<a href="x.html"><b>X</b> y</a>'),
        |  html_to_text('<p>hi <b>there</b></p>')""".stripMargin).head
    assert(r.getString(0) == "https://example.com/a/b?id=1")
    assert(r.getString(1) == "https://example.com/up.html")
    assert(r.getSeq[String](2) == Seq("x.html"))
    val a = r.getSeq[org.apache.spark.sql.Row](3)
    assert(a.length == 1 && a.head.getString(0) == "x.html" &&
      a.head.getString(1) == "X y")
    assert(r.getString(4).trim == "hi there")
  }

  test("is_in_ip_range: the Lua ip-range criterion helper in SQL") {
    graft.plans.GraftExtensions.install(spark)
    val r = spark.sql(
      """SELECT is_in_ip_range('10.0.0.5', '10.0.0.0', '10.255.255.255'),
        |  is_in_ip_range('11.0.0.0', '10.0.0.0', '10.255.255.255'),
        |  is_in_ip_range('10.0.0.0', '10.0.0.0', '10.0.0.0')""".stripMargin).head
    assert(r.getBoolean(0) && !r.getBoolean(1) && r.getBoolean(2))
    // malformed input fails CLOSED on every operand — a typo'd lower bound
    // must not degrade the predicate to `ip <= hi`
    val m = spark.sql(
      """SELECT is_in_ip_range('10.O.0.5', '10.0.0.0', '10.255.255.255'),
        |  is_in_ip_range('10.0.0.5', '10.O.0.0', '10.255.255.255'),
        |  is_in_ip_range('10.0.0.5', '10.0.0.0', 'garbage')""".stripMargin).head
    assert(!m.getBoolean(0) && !m.getBoolean(1) && !m.getBoolean(2))
  }

  test("rule store: save/load/add/remove/sweep roundtrip") {
    val dir = java.nio.file.Files.createTempDirectory("rules").toString + "/rules.json"
    val rules = graft.rules.Rules.df(spark)
    graft.rules.RuleStore.save(rules, dir)
    val loaded = graft.rules.RuleStore.load(spark, dir)
    assert(loaded.count() == rules.count())
    val added = graft.rules.RuleStore.add(loaded,
      graft.rules.RuleRow("r_new", "username_contains", "xyz", 0, enabled = true,
        suspOnly = false, noDelay = false, None, "notify"), spark)
    assert(added.count() == rules.count() + 1)
    // duplicate add refused
    val dup = graft.rules.RuleStore.add(added,
      graft.rules.RuleRow("r_new", "ip_match", "1.1.1.1", 0, enabled = true,
        suspOnly = false, noDelay = false, None, "close"), spark)
    assert(dup.count() == added.count())
    assert(graft.rules.RuleStore.remove(added, "r_new").count() == rules.count())
    // sweep drops r_expired (expiry 2024-01-01 is >3d before the fixed now)
    val swept = graft.rules.RuleStore.sweep(loaded, graft.rules.Rules.nowUs)
    assert(swept.filter("name = 'r_expired'").count() == 0)
    assert(swept.filter("name = 'r_ip'").count() == 1)
  }

  test("expiry-notice counter survives the save/load roundtrip") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("rules_notice").toString + "/rules"
    val now = graft.rules.Rules.nowUs
    val r0 = graft.rules.Rules.df(spark).filter(col("name") === "r_expired")
    val s1 = graft.rules.RuleStore.sweepNotices(r0, now).drop("notice")
    graft.rules.RuleStore.save(s1, dir)
    val reloaded = graft.rules.RuleStore.load(spark, dir)
    assert(reloaded.head.getAs[Int]("exp_notification") == 1,
      "persisted notice state must not reset — it re-arms past notifications")
    // the NEXT sweep advances 1 → 2 (expired), never re-fires expiring_soon
    val s2 = graft.rules.RuleStore.sweepNotices(reloaded, now)
    assert(s2.head.getAs[String]("notice") == "expired")
    // add() on the widened frame: the fresh rule joins with a null counter
    val added = graft.rules.RuleStore.add(reloaded,
      graft.rules.RuleRow("r_fresh", "ip", "9.9.9.9", 0, enabled = true,
        suspOnly = false, noDelay = true, None, "shadowban"), spark)
    assert(added.filter(col("name") === "r_fresh").count() == 1)
  }

  test("rule VALUES oracle escapes quotes in user-authored patterns") {
    val sql = graft.rules.Rules.valuesSqlFor(Seq(
      graft.rules.RuleRow("r'q", "username_regex", "[']", 0, enabled = true,
        suspOnly = false, noDelay = true, None, "close")), "t")
    assert(sql.contains("'r''q'") && sql.contains("'['']'"),
      s"quotes must double, got:\n$sql")
  }

  test("expiry notices fire once each, in the reference's branch order") {
    import org.apache.spark.sql.functions.col
    val dayUs = 86400L * 1000000L
    val now = graft.rules.Rules.nowUs
    // already expired, never notified: first sweep says expiring_soon
    // (reference if/else-if), second says expired, third is silent
    val r0 = graft.rules.Rules.df(spark).filter(col("name") === "r_expired")
    val s1 = graft.rules.RuleStore.sweepNotices(r0, now).cache()
    assert(s1.head.getAs[String]("notice") == "expiring_soon")
    assert(s1.head.getAs[Int]("exp_notification") == 1)
    val s2 = graft.rules.RuleStore.sweepNotices(s1.drop("notice"), now).cache()
    assert(s2.head.getAs[String]("notice") == "expired")
    assert(s2.head.getAs[Int]("exp_notification") == 2)
    val s3 = graft.rules.RuleStore.sweepNotices(s2.drop("notice"), now)
    assert(s3.head.getAs[String]("notice") == null)
    // a rule expiring within a day but not yet expired: expiring_soon once
    val soon = graft.rules.RuleStore.sweepNotices(
      r0.withColumn("expiry_us", org.apache.spark.sql.functions.lit(now + dayUs / 2)), now)
    assert(soon.head.getAs[String]("notice") == "expiring_soon")
    // no expiry: never notifies
    val never = graft.rules.RuleStore.sweepNotices(
      r0.withColumn("expiry_us",
        org.apache.spark.sql.functions.lit(null).cast("long")), now)
    assert(never.head.getAs[String]("notice") == null)
    assert(never.head.getAs[Int]("exp_notification") == 0)
  }

  test("namechk runs hypothetical signup through the engine") {
    val hits = graft.rules.RuleEngine.namechk(spark, "user_242424", graft.rules.Rules.df(spark))
      .collect().map(_.getString(0)).toSet
    // username_regex 'user_[0-9]*[02468]$' matches an even-digit name;
    // r_susp needs susp_ip=false -> excluded; email/ip rules don't match the
    // synthetic qwe@asd.zxc / 127.0.0.1
    assert(hits.contains("r_user_regex"))
    assert(!hits.contains("r_susp"))
    assert(!hits.contains("r_email_contains"))
  }

  test("ndjson parse: pings are valid non-signups; only serde-rejects are dead letters") {
    import spark.implicits._
    val parsed = streaming.NdjsonIngest.parse(Seq(
      """{"t":"ping"}""",                       // liveness ping: valid, non-signup
      """garbage""",                            // unparseable: malformed
      """{"t":"signup"}""",                     // signup missing username: malformed
      """{"t":"signup","username":"u"}""",      // minimal valid signup
      """{"foo":1}""")                          // untagged payload: malformed
      .toDF("value"))
      .select("t", "malformed").collect()
      .map(r => (Option(r.getString(0)), r.getBoolean(1)))
    assert(parsed(0) == (Some("ping"), false))
    assert(parsed(1)._2, "unparseable json is a dead letter")
    assert(parsed(2) == (Some("signup"), true))
    assert(parsed(3) == (Some("signup"), false))
    assert(parsed(4)._2, "untagged payload is a dead letter")
  }

  /** Signup events from a live socket (NDJSON lines), filtered as
    * [[graft.streaming.NdjsonIngest.fromHttp]] filters the HTTP feed. */
  private def fromSocket(host: String, port: Int) = {
    import org.apache.spark.sql.functions.col
    graft.streaming.NdjsonIngest.parse(spark.readStream.format("socket")
      .option("host", host).option("port", port).load())
      .filter(!col("malformed") && col("t") === "signup")
      .drop("malformed", "raw", "t")
  }

  test("ndjson socket ingest: parse, malformed drop, signup filter") {
    val server = new ServerSocket(0)
    val port = server.getLocalPort
    val lines = Seq(
      """{"t":"signup","username":"alice","email":"a@x.io","ip":"1.2.3.4","userAgent":"curl/7.1","suspIp":true}""",
      """not json at all""",
      """{"t":"other","username":"bob","email":"b@x.io","ip":"2.3.4.5"}""",
      """{"t":"signup","username":"carol","email":"c@y.io","ip":"5.6.7.8"}""")
    val feeder = new Thread(() => {
      val sock = server.accept()
      val out = new PrintWriter(sock.getOutputStream, true)
      lines.foreach(out.println)
      out.flush()
      Thread.sleep(3000)
      sock.close(); server.close()
    })
    feeder.setDaemon(true)
    feeder.start()

    val df = fromSocket("localhost", port)
    val q = df.writeStream.format("memory").queryName("ndjson_test")
      .outputMode("append").start()
    try {
      val deadline = System.currentTimeMillis() + 20000
      var rows = Array.empty[org.apache.spark.sql.Row]
      while (rows.length < 2 && System.currentTimeMillis() < deadline) {
        q.processAllAvailable()
        rows = spark.table("ndjson_test").collect()
        if (rows.length < 2) Thread.sleep(200)
      }
      val users = rows.map(_.getAs[String]("username")).toSet
      assert(users == Set("alice", "carol"), s"got $users")
      val alice = rows.find(_.getAs[String]("username") == "alice").get
      assert(alice.getAs[Boolean]("susp_ip"))
      val carol = rows.find(_.getAs[String]("username") == "carol").get
      assert(!carol.getAs[Boolean]("susp_ip"), "missing suspIp defaults false")
    } finally q.stop()
  }
}

class CommandToEngineSpec extends org.scalatest.funsuite.AnyFunSuite {
  import SparkTest._
  import org.apache.spark.sql.functions._

  test("operator command -> parsed rule -> live engine match, end to end") {
    import spark.implicits._
    val parsed = graft.commands.CommandParser.parse(
      "signup rules add catch_mailx if email contains @MAILX then close+notify nodelay")
    val row = graft.commands.CommandParser.toRuleRow(parsed, graft.rules.Rules.nowUs).get
    assert(row.kind == "email_contains" && row.noDelay && !row.suspOnly)
    assert(row.expiryUs.contains(graft.rules.Rules.nowUs + 182L * 86400L * 1000000L),
      "default expiry is 182 days out")

    val rules = graft.rules.RuleStore.add(graft.rules.Rules.df(spark), row, spark)
    val signups = Seq(
      ("hit", "someone@mailx.org", "9.9.9.9", "Mozilla/5.0 long enough ua", "fpfpfp", false),
      ("miss", "someone@mailz.org", "9.9.9.8", "Mozilla/5.0 long enough ua", "fpfpfp", false))
      .toDF("username", "email", "ip", "ua", "fingerprint", "susp_ip")
    val matched = graft.rules.RuleEngine.matches(signups, rules)
      .filter(col("name") === "catch_mailx")
      .select("username").as[String].collect().toSet
    assert(matched == Set("hit"), s"got $matched")
  }

  test("if_susp_ip command produces a susp-gated rule the engine respects") {
    import spark.implicits._
    val p = graft.commands.CommandParser.parse(
      "signup rules add susp_ua if_susp_ip useragent length-lte 8 then ipban noexpiry")
    val row = graft.commands.CommandParser.toRuleRow(p, graft.rules.Rules.nowUs).get
    assert(row.kind == "ua_len_lte" && row.numArg == 8 && row.suspOnly && row.expiryUs.isEmpty)
    val rules = graft.rules.RuleStore.add(graft.rules.Rules.df(spark), row, spark)
    val signups = Seq(
      ("short_susp", "a@b.c", "1.1.1.1", "curl", "f", true),
      ("short_clean", "a@b.c", "1.1.1.2", "curl", "f", false))
      .toDF("username", "email", "ip", "ua", "fingerprint", "susp_ip")
    val matched = graft.rules.RuleEngine.matches(signups, rules)
      .filter(col("name") === "susp_ua")
      .select("username").as[String].collect().toSet
    assert(matched == Set("short_susp"), "susp_only rule must skip non-susp signups")
  }

  private def warcRecord(tpe: String, uri: String, body: String): Array[Byte] = {
    val payload = body.getBytes("UTF-8")
    val uriHdr = if (uri.isEmpty) "" else s"WARC-Target-URI: $uri\r\n"
    (s"WARC/1.0\r\nWARC-Type: $tpe\r\n$uriHdr" +
      s"Content-Type: text/plain\r\nContent-Length: ${payload.length}\r\n\r\n")
      .getBytes("UTF-8") ++ payload ++ "\r\n\r\n".getBytes("UTF-8")
  }

  private def gzip(b: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val g = new java.util.zip.GZIPOutputStream(bos)
    g.write(b); g.close(); bos.toByteArray
  }

  test("Warc: plain + member-gzip parse, dirty-tail tolerance, HTTP envelope strip") {
    def http(body: String) =
      s"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n$body"
    val recs = Array(
      warcRecord("warcinfo", "", "isPartOf: test-crawl"),
      warcRecord("response", "http://example.com/a", http("hello warc world")),
      warcRecord("request", "http://example.com/a", "GET /a HTTP/1.1\r\n"),
      warcRecord("response", "http://example.com/b", http("second page body")))
    // plain concatenation
    val plain = recs.flatten
    val parsed = sources.Warc.parseFile("f1", plain)
    assert(parsed.map(_.warcType) == Seq("warcinfo", "response", "request", "response"))
    assert(parsed(1).targetUri == "http://example.com/a")
    assert(new String(parsed(1).payload, "UTF-8") == http("hello warc world"))
    assert(parsed.map(_.recordIndex) == Seq(0, 1, 2, 3))
    assert(parsed.forall(r => r.nBytes == r.payload.length.toLong))
    // Common Crawl layout: each record its own gzip member, concatenated
    val gzipped = recs.flatMap(gzip)
    assert(sources.Warc.parseFile("f2", gzipped).map(r =>
      (r.warcType, new String(r.payload, "UTF-8"))) ==
      parsed.map(r => (r.warcType, new String(r.payload, "UTF-8"))))
    // truncated tail: the last record's payload cut mid-way parses the rest
    assert(sources.Warc.parseFile("f3", plain.dropRight(10)).map(_.warcType) ==
      Seq("warcinfo", "response", "request"))
    // truncated GZIP MEMBER (the dirty-dump case): earlier members survive
    assert(sources.Warc.parseFile("f4", gzipped.dropRight(25)).length >= 2)
    assert(sources.Warc.parseFile("f4b", gzipped.dropRight(25)).forall(r =>
      r.nBytes == r.payload.length.toLong))
    // negative Content-Length: unwalkable record ends the file, tail dropped
    val negative = recs.take(2).flatten ++
      ("WARC/1.0\r\nWARC-Type: response\r\nContent-Length: -5\r\n\r\n" +
        "junk").getBytes("UTF-8") ++ recs(3)
    assert(sources.Warc.parseFile("f5", negative).map(_.warcType) ==
      Seq("warcinfo", "response"))
    // HTTP envelope strip: body only; non-HTTP payloads pass through whole
    assert(new String(sources.Warc.httpBody(http("x y z").getBytes("UTF-8")), "UTF-8") == "x y z")
    assert(new String(sources.Warc.httpBody("no envelope".getBytes("UTF-8")), "UTF-8") == "no envelope")
    // bare-LF envelope (dirty captures): headers still stripped
    assert(new String(sources.Warc.httpBody(
      "HTTP/1.1 200 OK\nContent-Type: text/html\n\nbare lf body".getBytes("UTF-8")), "UTF-8")
      == "bare lf body")
    // chunked transfer framing decodes; malformed framing passes through
    assert(new String(sources.Warc.dechunk(
      "5\r\nhello\r\n6\r\n chunk\r\n0\r\n\r\n".getBytes("UTF-8")), "UTF-8") == "hello chunk")
    assert(new String(sources.Warc.dechunk("zz\r\nnope".getBytes("UTF-8")), "UTF-8") == "zz\r\nnope")
    // gzip content encoding decodes; corrupt gzip passes through
    assert(new String(sources.Warc.gunzipBody(gzip("deflated doc".getBytes("UTF-8"))), "UTF-8")
      == "deflated doc")
    val corrupt = gzip("x".getBytes("UTF-8")).dropRight(3)
    assert(sources.Warc.gunzipBody(corrupt).sameElements(corrupt))
    // lazy iterator: owns and closes its stream once exhausted
    val closed = Array(false)
    def tracking = new java.io.ByteArrayInputStream(plain) {
      override def close(): Unit = { closed(0) = true; super.close() }
    }
    val it = sources.Warc.parseIterator("f6", tracking)
    assert(it.size == 4 && closed(0), "stream must close at exhaustion")
    // early abandonment: close() frees the stream mid-iteration
    closed(0) = false
    val it2 = sources.Warc.parseIterator("f7", tracking)
    assert(it2.hasNext); it2.next(); it2.close()
    assert(closed(0), "close() must release an abandoned iterator's stream")
    // full Spark binding: binaryFile -> records -> response projection
    val dir = java.nio.file.Files.createTempDirectory("warc_spec")
    java.nio.file.Files.write(dir.resolve("seg1.warc"), plain)
    java.nio.file.Files.write(dir.resolve("seg2.warc.gz"), gzipped)
    try {
      val all = sources.Warc.read(spark, dir.toString).collect()
      assert(all.length == 8, "both segments parse through the Spark binding")
      val resp = sources.Warc.responses(spark, dir.toString).collect()
      assert(resp.length == 4, "2 response records per segment")
      assert(resp.toSet == Set(
        ("http://example.com/a", "hello warc world"),
        ("http://example.com/b", "second page body")))
      // WET sidecar: conversion records are bare extracted text
      java.nio.file.Files.write(dir.resolve("seg3.warc.wet"),
        warcRecord("conversion", "http://example.com/a", "extracted text only"))
      val conv = sources.Warc.conversions(spark, dir.toString).collect()
      assert(conv.toSeq == Seq(("http://example.com/a", "extracted text only")))
    } finally {
      dir.toFile.listFiles().foreach(_.delete()); dir.toFile.delete()
    }
  }
}
