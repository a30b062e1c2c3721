package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkTest {
  // fixed 4 cores, not SPARK_GRAFT_CPUS: results must not depend on the box
  lazy val spark: SparkSession = LocalSpark.session(cpus = 4)
  val sf: String = "/root/testdata/sf0.001"
}

class CoreSpec extends AnyFunSuite {
  import SparkTest._

  test("every oracleSql key has a queries entry") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("every query runs at sf0.001 with stable schema") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf)
      assert(df.columns.nonEmpty, name)
      df.count() // forces full execution
    }
  }

  test("q1_agg aggregates whole lineitem") {
    val df = relational.Relational.q1Agg(spark, sf)
    val total = df.agg(org.apache.spark.sql.functions.sum("count_order")).head.getLong(0)
    val expected = Tables(spark, sf).lineitem
      .filter("l_shipdate <= timestamp '1998-09-02'").count()
    assert(total == expected && total > 0, s"expected $expected counted, got $total")
  }

  test("q3_join returns at most 10 deterministic rows") {
    val rows = relational.Relational.q3Join(spark, sf).collect()
    assert(rows.length <= 10)
    val revs = rows.map(_.getAs[Double]("revenue"))
    assert(revs.sameElements(revs.sortBy(-_)), "revenue must be descending")
  }

  test("ev_parse_json extracts k for every well-formed props") {
    val df = events.EventOps.parseJson(spark, sf)
    assert(df.filter("valid").count() == 1000)
  }

  test("signup view derives deterministic fields") {
    val s = events.Signups.derive(spark, sf)
    val row = s.filter("event_id = 1").head
    assert(row.getAs[String]("username").startsWith("user_"))
    assert(row.getAs[String]("email").contains("@mail"))
    assert(row.getAs[String]("ip").split("\\.").length == 4)
  }

  test("rule engine honors gating: disabled/expired rules never match") {
    val m = rules.RuleQueries.ruEngine(spark, sf)
    val names = m.select("rule_name").distinct().collect().map(_.getString(0)).toSet
    assert(!names.contains("r_disabled"))
    assert(!names.contains("r_expired"))
    assert(!names.contains("r_user_contains"), "expired 2024-05-30 rule must not fire")
  }

  test("susp-only rule matches only susp_ip signups") {
    val s = events.Signups.derive(spark, sf)
    val m = rules.RuleEngine.matches(s, rules.Rules.df(spark))
    val bad = m.filter("name = 'r_susp' AND NOT susp_ip").count()
    assert(bad == 0)
  }

  test("ru_expiry classifies the corpus correctly") {
    val statuses = rules.RuleQueries.ruExpiry(spark, sf).collect()
      .map(r => r.getAs[String]("name") -> (r.getAs[String]("status"), r.getAs[Boolean]("auto_remove"))).toMap
    assert(statuses("r_ip") == ("expiring_soon", false))
    assert(statuses("r_expired") == ("expired", true))
    assert(statuses("r_user_contains") == ("expired", false))
    assert(statuses("r_email_contains") == ("none", false))
    assert(statuses("r_print") == ("active", false))
  }

  test("ev_spike: verdict mirrors the rounded z, z values are finite") {
    val rows = events.EventOps.spikes(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val z = Option(r.getAs[java.lang.Double]("z")).map(_.doubleValue)
      // z is out-of-sample (the probe bucket is excluded from its own
      // baseline) so it is unbounded — but never NaN/inf
      z.foreach(v => assert(!v.isNaN && !v.isInfinite))
      if (z.isDefined) {
        val expect =
          if (z.exists(v => math.abs(v) >= events.EventOps.spikeZ)) "spike" else "ok"
        assert(r.getAs[String]("verdict") == expect)
      }
    }
  }

  test("ev_spike: a deviation over a flat baseline is a spike, not 'ok'") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, to_timestamp, from_unixtime}
    // 10 flat minutes of 5 events, then one minute with 50: zero variance,
    // infinite z — must flag, with z null
    val rows = (0 until 10).flatMap(m => (0 until 5).map(i => (m.toLong * 60 + i, "t"))) ++
      (0 until 50).map(i => (600L + i % 60, "t"))
    val ev = rows.toDF("sec", "event_type")
      .select(to_timestamp(from_unixtime(col("sec"))).as("ts"), col("event_type"))
    val out = events.EventOps.spikesOver(ev).collect()
    val last = out.maxBy(_.getAs[Long]("minute_epoch"))
    assert(last.getAs[String]("verdict") == "spike")
    assert(last.getAs[java.lang.Double]("z") == null)
  }

  test("ru_cidr: block totals reconcile with the engine's valid-ip matches") {
    val s = events.Signups.derive(spark, sf)
    val m = rules.RuleEngine.matches(s, rules.Rules.df(spark))
    val validIp = m.filter(
      graft.enrich.GeoIp.ipToInt(org.apache.spark.sql.functions.col("ip")).isNotNull).count()
    val blocks = rules.RuleQueries.ruCidr(spark, sf).collect()
    assert(blocks.map(_.getAs[Long]("n_matches")).sum == validIp,
      "every valid-ip match lands in exactly one block")
    blocks.foreach { r =>
      assert(r.getAs[String]("cidr").matches("""\d+\.\d+\.\d+\.0/24"""))
      val expect = if (r.getAs[Long]("n_matches") >= rules.RuleQueries.cidrMinMatches)
        "ban_candidate" else "watch"
      assert(r.getAs[String]("verdict") == expect)
    }
  }

  test("tx_colloc: PMI ranking is internally consistent") {
    val rows = text.TextOps.colloc(spark, sf).collect()
    assert(rows.length == text.TextOps.collocTopK)
    val scores = rows.map(_.getAs[Double]("score"))
    assert(scores.sameElements(scores.sorted.reverse), "descending by score")
    rows.foreach { r =>
      assert(r.getAs[Long]("c12") >= text.TextOps.collocMinCount)
      // a pair can't co-occur more often than either word occurs
      assert(r.getAs[Long]("c12") <= r.getAs[Long]("ca"))
      assert(r.getAs[Long]("c12") <= r.getAs[Long]("cb"))
      assert(r.getAs[Double]("score") > 0.0)
    }
  }

  test("ru_actions maps every action to the reference endpoint") {
    val df = rules.RuleQueries.ruActions(spark, sf)
    val notify = df.filter("action = 'notify'")
    assert(notify.filter("endpoint IS NOT NULL").count() == 0, "notify has no endpoint")
    val closes = df.filter("action = 'close' AND NOT rule_name = 'r_user_regex'")
    assert(closes.filter("extra_delay_ms <> 1500").count() == 0, "close gets +1500ms")
  }

  test("ev_gapfill: grid is complete per type, counts are conserved, " +
      "and real gaps were filled") {
    val rows = events.EventOps.gapfill(spark, sf).collect()
    val byType = rows.groupBy(_.getAs[String]("event_type"))
    byType.foreach { case (t, rs) =>
      val minutes = rs.map(_.getAs[Long]("minute_epoch"))
      assert(minutes.length == (minutes.max - minutes.min) / 60 + 1,
        s"$t grid has holes or duplicates")
      assert(minutes.distinct.length == minutes.length, s"$t grid duplicates")
    }
    val total = rows.map(_.getAs[Long]("n")).sum
    assert(total == Tables(spark, sf).events.count(), "zero-fill must not alter counts")
    assert(rows.exists(_.getAs[Long]("n") == 0L), "corpus has gaps; none were filled")
  }

  test("sql criterion (Lua analog) composes into the engine") {
    val s = events.Signups.derive(spark, sf)
    val pred = rules.RuleEngine.sqlCriterion("susp_ip AND length(username) <= 7")
    val n = s.filter(pred).count()
    val manual = s.filter("susp_ip AND length(username) <= 7").count()
    assert(n == manual)
  }
}
