package graft.relational

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational core (SURVEY §2g): the engine must be a complete analytics
  * substrate under the event/rule operators. Shapes follow TPC-H Q1/Q3.
  *
  * Double aggregates are rounded at the granularity of the underlying data
  * (money = 2dp, price*(1-disc) = 4dp, *(1+tax) = 6dp) so that summation
  * order — which differs between Spark partial aggregation and DuckDB — can
  * never flip the rounded value (fp error ≪ half-ulp of the rounding grid).
  */
object Relational {

  /** TPC-H Q1 shape: scan-heavy grouped aggregation with partial (map-side)
    * aggregation; no join, single shuffle on the 4-ish distinct keys. */
  /** Money aggregates run in EXACT decimal; the sum is rounded to the
    * data's 2dp granularity IN decimal and only then cast to double. The
    * decimal sum is a single rational number on both engines (a 6dp round
    * over a floating sum is order-sensitive — at sf0.1, ~200k addends
    * pushed one sum_charge cell across a rounding boundary), and the
    * 2dp re-round keeps the unscaled value below 2^53 until ~10^14 in
    * cents, so the final double conversion is ONE correctly-rounded step
    * on both engines (DuckDB's int128/10^s cast double-rounds once the
    * unscaled sum passes 2^53 — scale 6 would cross that around sf1). The
    * data is 2dp money, so the double→decimal(·,2) input casts are
    * exact-by-construction. */
  def q1Agg(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables(spark, sfDir).lineitem
    val one = lit(1).cast("decimal(3,2)")
    val price = col("l_extendedprice").cast("decimal(12,2)")
    val disc = col("l_discount").cast("decimal(4,2)")
    val tax = col("l_tax").cast("decimal(4,2)")
    li.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast("decimal(12,2)")).cast("double").as("sum_qty"),
        sum(price).cast("double").as("sum_base_price"),
        round(sum(price * (one - disc)), 2).cast("double").as("sum_disc_price"),
        round(sum(price * (one - disc) * (one + tax)), 2).cast("double").as("sum_charge"),
        count(lit(1)).as("count_order"))
  }

  val q1AggSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))
      |    * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS sum_disc_price,
      |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))
      |    * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))
      |    * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(4,2)))), 2) AS DOUBLE) AS sum_charge,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      |GROUP BY l_returnflag, l_linestatus""".stripMargin

  /** Materialized-view rewrite (the lakehouse MV capability): the q1-shaped
    * report — filter on ship date, group by (returnflag, linestatus), money
    * sums + count — answered from a standing DAILY ROLLUP by
    * [[graft.plans.MvRewrite]], a Catalyst `Rule[LogicalPlan]` that unifies
    * the aggregate with the rollup (groupings ⊆ MV dims, filter over dims,
    * Sum/Count re-aggregated from partial states). The row materializes the
    * rollup from the current fact (the MV freshness contract), builds the
    * NAIVE plan over lineitem, applies the rule to its analyzed plan, and
    * fails LOUDLY if the rewrite did not fire — so the oracle compares a
    * genuinely rewritten plan against the naive SQL, never a silent
    * fallback. Scale: the rollup is |rf × ls × days| rows regardless of
    * fact size; the rewritten query scans THAT, the one partial-agg write
    * over the fact is the standing cost every MV deployment amortizes
    * across its readers. Partial sums stay in exact decimal, so
    * re-aggregation is bit-identical to the direct aggregate. */
  def mvRewriteQ(spark: SparkSession, sfDir: String): DataFrame = {
    val t = Tables(spark, sfDir)
    val mvPath = spark.conf.get("spark.sql.warehouse.dir") +
      "/mv_lineitem_daily_" + java.lang.Integer.toHexString(sfDir.hashCode)
    t.lineitem
      .groupBy(col("l_returnflag"), col("l_linestatus"), col("l_shipdate"))
      .agg(
        count(lit(1)).as("cnt"),
        sum(col("l_quantity").cast("decimal(12,2)")).as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(12,2)")).as("sum_price"))
      .write.mode("overwrite").parquet(mvPath)
    val naive = t.lineitem
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast("decimal(12,2)")).cast("double").as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(12,2)")).cast("double").as("sum_base_price"),
        count(lit(1)).as("count_order"))
    val rule = graft.plans.MvRewrite(spark, mvPath)
    val rewritten = rule(naive.queryExecution.analyzed)
    require(rule.fired(rewritten),
      s"MV rewrite did not fire for q_mv_rewrite (plan still scans the fact)")
    org.apache.spark.sql.GraftBridge.ofRows(spark, rewritten)
  }

  /** The naive report over the fact — exactly what the rewrite must equal. */
  val mvRewriteSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      |GROUP BY l_returnflag, l_linestatus""".stripMargin

  /** TPC-H Q3 shape: selective dim (customer) joined into the
    * orders⨝lineitem shuffle join; top-10 with deterministic tie-break.
    * NO forced broadcast on customer — it grows linearly with scale factor,
    * so a broadcast hint that fits at sf0.1 would OOM the build side at
    * 100×; size thresholds + AQE pick broadcast whenever the filtered dim
    * actually fits (they do at bench scale), and degrade to shuffle join
    * when it doesn't. Hints are reserved for bounded dims (nation/region). */
  def q3Join(spark: SparkSession, sfDir: String): DataFrame = {
    val t = Tables(spark, sfDir)
    val cust = t.customer.filter(col("c_mktsegment") === "BUILDING")
    val ord = t.orders.filter(col("o_orderdate") < lit("1995-03-15").cast("timestamp"))
    val li = t.lineitem.filter(col("l_shipdate") > lit("1995-03-15").cast("timestamp"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4).as("revenue"))
      .select(col("l_orderkey"), graft.epochUs(col("o_orderdate")).as("o_orderdate_us"),
        col("o_orderpriority"), col("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey").asc)
      .limit(10)
  }

  val q3JoinSql: String =
    """SELECT l_orderkey,
      |  epoch_us(o_orderdate) AS o_orderdate_us,
      |  o_orderpriority,
      |  round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1995-03-15'
      |  AND l_shipdate > TIMESTAMP '1995-03-15'
      |GROUP BY l_orderkey, o_orderdate, o_orderpriority
      |ORDER BY revenue DESC, l_orderkey ASC
      |LIMIT 10""".stripMargin

  /** Window ranking: latest 3 shipments per supplier (deterministic total
    * order inside each partition). Single shuffle on l_suppkey. */
  def qWindow(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables(spark, sfDir).lineitem
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate").desc, col("l_orderkey").asc, col("l_linenumber").asc)
    li.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("l_suppkey"), col("rn"), col("l_orderkey"), col("l_linenumber"),
        graft.epochUs(col("l_shipdate")).as("ship_us"))
  }

  val qWindowSql: String =
    """SELECT l_suppkey, rn, l_orderkey, l_linenumber, epoch_us(l_shipdate) AS ship_us
      |FROM (
      |  SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate,
      |    row_number() OVER (PARTITION BY l_suppkey
      |      ORDER BY l_shipdate DESC, l_orderkey ASC, l_linenumber ASC) AS rn
      |  FROM lineitem) t
      |WHERE rn <= 3""".stripMargin

  /** Rollup over region→nation customer account balances (grouping sets);
    * nulls from the rollup coalesced to a sentinel for stable comparison. */
  def qRollup(spark: SparkSession, sfDir: String): DataFrame = {
    val t = Tables(spark, sfDir)
    val joined = t.customer
      .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
    joined.rollup(col("r_name"), col("n_name"))
      .agg(round(sum(col("c_acctbal")), 2).as("total_bal"), count(lit(1)).as("n_cust"))
      .select(coalesce(col("r_name"), lit("ALL")).as("region_name"),
        coalesce(col("n_name"), lit("ALL")).as("nation_name"),
        col("total_bal"), col("n_cust"))
  }

  val qRollupSql: String =
    """SELECT coalesce(r_name, 'ALL') AS region_name,
      |  coalesce(n_name, 'ALL') AS nation_name,
      |  round(sum(c_acctbal), 2) AS total_bal,
      |  count(*) AS n_cust
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY ROLLUP (r_name, n_name)""".stripMargin

  /** TPC-H Q5 shape: 6-way star join, per-nation revenue inside one region.
    * Broadcast hints ONLY on the bounded dims (region: 5 rows, nation: 25
    * rows — fixed at every scale factor); customer and supplier grow with
    * the fact tables, so they join via size thresholds + AQE, which
    * broadcast them while they fit and shuffle them when they don't. */
  def q5Join(spark: SparkSession, sfDir: String): DataFrame = {
    val t = Tables(spark, sfDir)
    val asia = t.region.filter(col("r_name") === "ASIA")
    val nat = t.nation.join(broadcast(asia), col("n_regionkey") === col("r_regionkey"))
    t.lineitem
      .join(t.orders, col("l_orderkey") === col("o_orderkey"))
      .join(t.customer, col("o_custkey") === col("c_custkey"))
      .join(t.supplier, col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey") &&
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      // exact decimal revenue, re-rounded to 2dp before the double cast
      // (q1's rationale: per-nation sums span the whole fact table, the
      // worst case for float addend-order drift and for 2^53 overflow of
      // a high-scale decimal cast)
      .agg(round(sum(col("l_extendedprice").cast("decimal(12,2)") *
          (lit(1).cast("decimal(3,2)") - col("l_discount").cast("decimal(4,2)"))), 2)
        .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
  }

  val q5JoinSql: String =
    """SELECT n_name,
      |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))
      |    * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue,
      |  count(*) AS n_items
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey AND c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |GROUP BY n_name""".stripMargin

  /** Semi/anti join shapes: per market segment, customers with and without
    * orders (EXISTS / NOT EXISTS). */
  def qSemiAnti(spark: SparkSession, sfDir: String): DataFrame = {
    val t = Tables(spark, sfDir)
    val orderKeys = t.orders.select(col("o_custkey"))
    val active = t.customer.join(orderKeys, col("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n_active"))
    val inactive = t.customer.join(orderKeys, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n_inactive"))
    active.join(inactive, Seq("c_mktsegment"), "full_outer")
      .select(col("c_mktsegment"),
        coalesce(col("n_active"), lit(0L)).as("n_active"),
        coalesce(col("n_inactive"), lit(0L)).as("n_inactive"))
  }

  val qSemiAntiSql: String =
    """SELECT c_mktsegment,
      |  count(*) FILTER (WHERE EXISTS
      |    (SELECT 1 FROM orders WHERE o_custkey = c_custkey)) AS n_active,
      |  count(*) FILTER (WHERE NOT EXISTS
      |    (SELECT 1 FROM orders WHERE o_custkey = c_custkey)) AS n_inactive
      |FROM customer
      |GROUP BY c_mktsegment
      |HAVING count(*) FILTER (WHERE EXISTS
      |    (SELECT 1 FROM orders WHERE o_custkey = c_custkey)) > 0
      |  OR count(*) FILTER (WHERE NOT EXISTS
      |    (SELECT 1 FROM orders WHERE o_custkey = c_custkey)) > 0""".stripMargin

  /** Global top-k by activity: partial per-partition top-k merged on the
    * driver-side single reducer (TakeOrderedAndProject — no full sort). */
  def evTopkUsers(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir).events
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      .orderBy(col("n").desc, col("user_id").asc)
      .limit(20)

  val evTopkUsersSql: String =
    """SELECT user_id, count(*) AS n, round(sum(value), 2) AS total_value
      |FROM events GROUP BY user_id
      |ORDER BY n DESC, user_id ASC LIMIT 20""".stripMargin

  // ---- as-of join (composed, no custom operator needed) -------------------

  /** As-of join: each signup event picks up the value of the same user's
    * most recent STRICTLY EARLIER event of any other type. Composed from
    * built-ins — union the tagged sides, one window sorted by (user, ts),
    * running last_value over the quote side, keep the probe side. One
    * shuffle on user_id, no range-join blowup; the standard Spark encoding
    * of the operator (custom SparkPlan unnecessary: semantics compose). */
  def qAsof(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables(spark, sfDir).events
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("event_type"), col("value"))
    val probe = ev.filter(col("event_type") === "signup")
      .select(col("user_id"), col("ts_us"), col("event_id"), lit(1).as("side"),
        lit(null).cast("double").as("qval"))
    val quotes = ev.filter(col("event_type") =!= "signup")
      .select(col("user_id"), col("ts_us"), lit(null).cast("long").as("event_id"),
        lit(0).as("side"), col("value").as("qval"))
    // side DESC puts the probe (side 1) BEFORE a quote (side 0) sharing its
    // instant, so the same-microsecond quote stays outside the preceding
    // frame — strictly-earlier semantics. Tertiary key makes duplicate
    // same-instant quotes deterministic across engines (last() would
    // otherwise pick by physical order).
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us").asc, col("side").desc,
        coalesce(col("qval"), lit(0.0)).asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    probe.unionAll(quotes)
      .withColumn("asof_value", round(last(col("qval"), ignoreNulls = true).over(w), 2))
      .filter(col("side") === 1)
      .select(col("event_id"), col("user_id"), col("ts_us"), col("asof_value"))
  }

  val qAsofSql: String =
    """WITH ev AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
      |    event_id, event_type, value
      |  FROM events),
      |u AS (
      |  SELECT user_id, ts_us, event_id, 1 AS side, NULL::DOUBLE AS qval
      |  FROM ev WHERE event_type = 'signup'
      |  UNION ALL
      |  SELECT user_id, ts_us, NULL::BIGINT, 0, value
      |  FROM ev WHERE event_type <> 'signup')
      |SELECT event_id, user_id, ts_us, asof_value FROM (
      |  SELECT event_id, user_id, ts_us, side,
      |    round(last_value(qval IGNORE NULLS) OVER (
      |      PARTITION BY user_id
      |      ORDER BY ts_us ASC, side DESC, coalesce(qval, CAST(0.0 AS DOUBLE)) ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 2) AS asof_value
      |  FROM u) t
      |WHERE side = 1""".stripMargin

  // ---- correlated scalar subquery (Q17 shape) -----------------------------

  /** TPC-H Q17 shape: lineitems under 40% of their part's average quantity.
    * Catalyst decorrelates the scalar subquery into an aggregate + join —
    * the plan to check is one extra shuffle on l_partkey, not a per-row
    * subquery execution. */
  def qCorrSubq(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables(spark, sfDir).lineitem
    val avgQty = li.groupBy(col("l_partkey").as("p_key"))
      .agg((avg(col("l_quantity")) * 0.4).as("threshold"))
    li.join(avgQty, col("l_partkey") === col("p_key"))
      .filter(col("l_quantity") < col("threshold"))
      .groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n_small"), round(sum(col("l_extendedprice")), 2).as("small_rev"))
      .filter(col("n_small") >= 2)
  }

  val qCorrSubqSql: String =
    """SELECT l_partkey, count(*) AS n_small, round(sum(l_extendedprice), 2) AS small_rev
      |FROM lineitem l1
      |WHERE l_quantity < (
      |  SELECT 0.4 * avg(l_quantity) FROM lineitem l2 WHERE l2.l_partkey = l1.l_partkey)
      |GROUP BY 1 HAVING count(*) >= 2""".stripMargin

  // ---- pivot ---------------------------------------------------------------

  /** Per-user event-type pivot (wide activity profile). `pivot` with an
    * explicit value list compiles to one pass of partial-aggregated CASE
    * counts — no second shuffle, no value-discovery scan; always pass the
    * list at 100 TB. */
  def qPivot(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir).events
      .groupBy(col("user_id"))
      .pivot("event_type", Seq("signup", "view", "click", "purchase", "error"))
      .agg(count(lit(1)))
      .na.fill(0L)

  // DuckDB sum() returns HUGEINT, which the comparison harness renders as a
  // float — CAST each pivot column back to BIGINT to match Spark's long.
  val qPivotSql: String =
    """SELECT user_id,
      |  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
      |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view,
      |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
      |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
      |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error
      |FROM events GROUP BY user_id""".stripMargin

  // ---- two-phase (salted) aggregation -------------------------------------

  /** Skew-safe aggregation: pre-aggregate on (key, salt) — 16 salt values
    * from a hash of the row id — then merge per key. A hot key's rows land
    * on 16 reducers in phase 1 instead of one; phase 2 merges 16 tiny
    * partials. Same result as the direct groupBy (the oracle IS the direct
    * groupBy); this query pins the two-phase plan shape the engine reaches
    * for when AQE's skew handling isn't available (e.g. pre-AQE sinks,
    * deterministic partition layouts). Count/sum are mergeable; avg is
    * derived post-merge, never averaged across partials. */
  def qSaltedAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables(spark, sfDir).events
    val salted = ev.withColumn("salt", pmod(col("event_id"), lit(16)))
      .groupBy(col("event_type"), col("salt"))
      .agg(count(lit(1)).as("pn"), sum(col("value")).as("psum"))
    salted.groupBy(col("event_type"))
      .agg(sum(col("pn")).as("n"),
        round(sum(col("psum")), 2).as("sum_value"))
      // derive the mean from the ROUNDED (hash-stable) sum, not the raw
      // float sum — a 6dp round over order-sensitive addends is the
      // addend-order hazard the file header forbids (q1's rationale)
      .withColumn("avg_value", round(col("sum_value") / col("n"), 6))
  }

  val qSaltedAggSql: String =
    """SELECT event_type, count(*) AS n,
      |  round(sum(value), 2) AS sum_value,
      |  round(round(sum(value), 2) / count(*), 6) AS avg_value
      |FROM events GROUP BY event_type""".stripMargin

  // ---- salted (replicated) join --------------------------------------------

  val saltedJoinFactor = 8

  /** Skew-safe JOIN: q_salted_agg's shape applied to the shuffle join — the
    * 100 TB killer AQE doesn't always catch (AQE's skew-join split only
    * fires on sort-merge joins it plans itself; a pre-partitioned layout,
    * a bucketed sink, or a disabled-AQE pipeline still serializes a hot
    * key's rows through ONE reducer). The fact side salts its join key
    * (salt = hash of the row id mod [[saltedJoinFactor]]); the dim side
    * REPLICATES each row once per salt value (explode over the salt range);
    * the join key becomes (key, salt), so a hot key's rows spread across
    * [[saltedJoinFactor]] reducers and each meets exactly the one dim
    * replica carrying its salt — result identical to the plain join, which
    * IS the oracle. The join is pinned to sort-merge (`hint("merge")`):
    * broadcasting the dim would make salting pointless, and the row exists
    * to pin the two-big-sides plan. Production refinement: split hot/cold
    * with q_skew_probe and replicate only hot keys — the all-keys form here
    * is the shape with the dim-side cost ceiling (dim × S, still dim-sized
    * work, never fact-sized). SaltedJoinSpec asserts the plan: SortMergeJoin
    * on (key, salt), Generate (explode) feeding the dim side, no broadcast
    * of the fact. */
  def qSaltedJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val t = Tables(spark, sfDir)
    val fact = t.events
      .select(col("user_id"), col("value"),
        pmod(col("event_id"), lit(saltedJoinFactor)).as("salt"))
    val dim = t.customer
      .select(col("c_custkey"), col("c_mktsegment"))
      .withColumn("salt",
        explode(expr(s"sequence(CAST(0 AS BIGINT), ${saltedJoinFactor - 1})")))
    fact.join(dim.hint("merge"),
        fact("user_id") === dim("c_custkey") && fact("salt") === dim("salt"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
  }

  val qSaltedJoinSql: String =
    """SELECT c_mktsegment, count(*) AS n, round(sum(value), 2) AS sum_value
      |FROM events e JOIN customer c ON e.user_id = c.c_custkey
      |GROUP BY 1""".stripMargin

  // ---- join-key skew probe ------------------------------------------------

  val skewTopK = 10

  /** The diagnostic a platform runs BEFORE choosing a skew strategy
    * (salting factor, AQE skew-join thresholds): per-key frequency of a
    * prospective join/partition key, its share of the table, and the
    * multiple over the uniform expectation (`cnt / (total/distinct)` — the
    * factor by which that key's reducer outweighs the average). One
    * partial-agg pass for the per-key counts, a ONE-ROW stats frame
    * broadcast back (tx_search's shape), top-k via TakeOrderedAndProject —
    * no global sort, no second scan. All ratios are exact-int-operand
    * divisions rounded at 6dp. */
  def qSkewProbe(spark: SparkSession, sfDir: String): DataFrame = {
    val keyed = Tables(spark, sfDir).events
      .groupBy(col("user_id")).agg(count(lit(1)).as("cnt"))
    val stats = keyed.agg(sum(col("cnt")).as("total"),
      count(lit(1)).as("n_keys"))
    keyed.crossJoin(broadcast(stats))
      .select(col("user_id"), col("cnt"),
        round(col("cnt").cast("double") / col("total"), 6).as("share"),
        round(col("cnt").cast("double") * col("n_keys") / col("total"), 6)
          .as("skew_x"))
      .orderBy(col("cnt").desc, col("user_id").asc)
      .limit(skewTopK)
  }

  val qSkewProbeSql: String =
    s"""WITH keyed AS (
       |  SELECT user_id, count(*) AS cnt FROM events GROUP BY 1),
       |stats AS (
       |  SELECT CAST(sum(cnt) AS BIGINT) AS total, count(*) AS n_keys FROM keyed)
       |SELECT user_id, cnt,
       |  round(CAST(cnt AS DOUBLE) / total, 6) AS share,
       |  round(CAST(cnt AS DOUBLE) * n_keys / total, 6) AS skew_x
       |FROM keyed, stats
       |ORDER BY cnt DESC, user_id ASC LIMIT $skewTopK""".stripMargin

  /** CUBE completes the grouping-sets surface next to [[qRollup]]: all four
    * (returnflag × linestatus) subtotal combinations plus `grouping_id` in
    * one pass — Catalyst expands to a single Expand + one aggregation
    * exchange, not four scans. */
  def qCube(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir).lineitem
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("sum_qty"),
        grouping_id().as("gid"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("n"), col("sum_qty"), col("gid"))

  val qCubeSql: String =
    """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
      |  coalesce(l_linestatus, 'ALL') AS linestatus,
      |  count(*) AS n, round(sum(l_quantity), 2) AS sum_qty,
      |  CAST(grouping(l_returnflag, l_linestatus) AS BIGINT) AS gid
      |FROM lineitem
      |GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin

  /** Running-frame windows: per-customer cumulative spend, 3-order moving
    * average, previous order price, and spend quartile — the ROWS-frame,
    * lag, and ntile surface in one pass. ONE shuffle on o_custkey serves
    * all four functions (same partitioning + deterministic total order).
    * Running sums are rounded at the data's 2dp granularity (engines fold
    * doubles in frame order; the 1e-11 tail differs, the cents don't). */
  def qRunning(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables(spark, sfDir).orders
    val ord = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    val wRun = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wMov = ord.rowsBetween(-2, 0)
    o.select(col("o_custkey"), col("o_orderkey"),
      round(sum(col("o_totalprice")).over(wRun), 2).as("run_total"),
      round(avg(col("o_totalprice")).over(wMov), 6).as("mov_avg3"),
      lag(col("o_totalprice"), 1).over(ord).as("prev_price"),
      ntile(4).over(ord).cast("long").as("quartile"))
  }

  val qRunningSql: String =
    """SELECT o_custkey, o_orderkey,
      |  round(sum(o_totalprice) OVER (PARTITION BY o_custkey
      |    ORDER BY o_orderdate ASC, o_orderkey ASC
      |    ROWS UNBOUNDED PRECEDING), 2) AS run_total,
      |  round(avg(o_totalprice) OVER (PARTITION BY o_custkey
      |    ORDER BY o_orderdate ASC, o_orderkey ASC
      |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS mov_avg3,
      |  lag(o_totalprice, 1) OVER (PARTITION BY o_custkey
      |    ORDER BY o_orderdate ASC, o_orderkey ASC) AS prev_price,
      |  CAST(ntile(4) OVER (PARTITION BY o_custkey
      |    ORDER BY o_orderdate ASC, o_orderkey ASC) AS BIGINT) AS quartile
      |FROM orders""".stripMargin

  // ---- SCD2 dim maintenance (change log → validity intervals) -------------

  /** Change-data-capture → type-2 slowly-changing dimension: each user's
    * purchase stream sets a "tier" (value bucket); consecutive same-tier
    * events collapse and every change opens a validity interval closed by
    * the next change (null valid_to = the current version). The warehouse
    * dim-maintenance pass without MERGE machinery: change detection and
    * interval closing are two frames over ONE (user, ts) window — a single
    * shuffle on the natural key, no self-join (the filter between the two
    * window functions preserves the partitioning and ordering, so Catalyst
    * plans one exchange + one sort for both). */
  def qScd2(spark: SparkSession, sfDir: String): DataFrame = {
    // tier as the secondary key: ts_us is nanos truncated to micros, so
    // same-microsecond ties are possible and lag/lead must see the same
    // ordering on both engines (the qAsof convention)
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us").asc, col("tier").asc)
    Tables(spark, sfDir).events
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        floor(col("value") / 100).cast("long").as("tier"))
      .withColumn("prev_tier", lag(col("tier"), 1).over(w))
      // null-safe: a NULL-tier run must collapse like any other (the
      // IS NULL form would open a version per NULL row)
      .filter(!(col("prev_tier") <=> col("tier")))
      .withColumn("valid_to_us", lead(col("ts_us"), 1).over(w))
      .select(col("user_id"), col("tier"), col("ts_us").as("valid_from_us"),
        col("valid_to_us"))
  }

  val qScd2Sql: String =
    """WITH p AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
      |    CAST(floor(value / 100) AS BIGINT) AS tier
      |  FROM events WHERE event_type = 'purchase'),
      |c AS (
      |  SELECT user_id, ts_us, tier FROM (
      |    SELECT user_id, ts_us, tier,
      |      lag(tier) OVER (PARTITION BY user_id ORDER BY ts_us ASC, tier ASC) AS prev_tier
      |    FROM p) t
      |  WHERE prev_tier IS DISTINCT FROM tier)
      |SELECT user_id, tier, ts_us AS valid_from_us,
      |  lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us ASC, tier ASC) AS valid_to_us
      |FROM c""".stripMargin

  /** GROUPING SETS — arbitrary grouping combinations in one pass (rollup
    * and cube are fixed lattices; real reporting picks its own sets). One
    * shuffle computes per-returnflag totals, per-linestatus totals, and
    * the grand total via Expand; NULL markers coalesced to 'ALL' so the
    * oracle is null-ambiguity-free (the dims are never null in the data).
    * Money math in exact decimal (the q1 pattern). */
  def qGroupingSets(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables(spark, sfDir).lineitem
    li.groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq.empty),
        col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast("decimal(12,2)")).cast("double").as("sum_qty"),
        count(lit(1)).as("n_rows"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("lstatus"),
        col("sum_qty"), col("n_rows"))
  }

  val qGroupingSetsSql: String =
    """SELECT coalesce(l_returnflag, 'ALL') AS rflag,
      |  coalesce(l_linestatus, 'ALL') AS lstatus,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      |  CAST(count(*) AS BIGINT) AS n_rows
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin

  /** MERGE INTO semantics (the lakehouse upsert/CDC-apply primitive Spark
    * OSS leaves to table formats) as ONE co-partitioned full outer join:
    * a deterministic delta (keys %7 → updates, %21 of those → deletes,
    * %11 re-keyed +1M → inserts) merged into the customer dim —
    * matched+update rewrites the balance, matched+delete drops the row,
    * unmatched-target rows carry over, unmatched-source rows insert. Both
    * sides shuffle ONCE on the merge key and nothing else; at 100 TB the
    * target is bucketed on the key (Staging.bucketize) so the target-side
    * exchange disappears and the merge costs one delta-sized shuffle.
    * Money math in exact decimal (the q1 pattern). */
  def qMergeUpsert(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables(spark, sfDir).customer
      .select(col("c_custkey"), col("c_acctbal").cast("decimal(12,2)").as("bal"))
    val delta = cust
      .filter(col("c_custkey") % 7 === 0 || col("c_custkey") % 11 === 0)
      .select(
        when(col("c_custkey") % 7 === 0, col("c_custkey"))
          .otherwise(col("c_custkey") + 1000000L).as("k"),
        when(col("c_custkey") % 21 === 0, lit("delete"))
          .when(col("c_custkey") % 7 === 0, lit("update"))
          .otherwise(lit("insert")).as("op"),
        (col("bal") + lit(100).cast("decimal(5,2)")).as("new_bal"))
    cust.join(delta, col("c_custkey") === col("k"), "full_outer")
      .filter(coalesce(col("op"), lit("")) =!= "delete")
      .select(
        coalesce(col("c_custkey"), col("k")).as("c_custkey"),
        when(col("op") === "update", col("new_bal"))
          .when(col("op") === "insert", col("new_bal"))
          .otherwise(col("bal")).cast("double").as("c_acctbal"),
        when(col("op") === "update", "U")
          .when(col("op") === "insert", "I")
          .otherwise("K").as("action"))
  }

  val qMergeUpsertSql: String =
    """WITH cust AS (
      |  SELECT c_custkey, CAST(c_acctbal AS DECIMAL(12,2)) AS bal FROM customer),
      |delta AS (
      |  SELECT
      |    CASE WHEN c_custkey % 7 = 0 THEN c_custkey
      |         ELSE c_custkey + 1000000 END AS k,
      |    CASE WHEN c_custkey % 21 = 0 THEN 'delete'
      |         WHEN c_custkey % 7 = 0 THEN 'update'
      |         ELSE 'insert' END AS op,
      |    bal + CAST(100 AS DECIMAL(5,2)) AS new_bal
      |  FROM cust WHERE c_custkey % 7 = 0 OR c_custkey % 11 = 0)
      |SELECT
      |  CAST(coalesce(c.c_custkey, d.k) AS BIGINT) AS c_custkey,
      |  CAST(CASE WHEN d.op IN ('update', 'insert') THEN d.new_bal
      |            ELSE c.bal END AS DOUBLE) AS c_acctbal,
      |  CASE WHEN d.op = 'update' THEN 'U'
      |       WHEN d.op = 'insert' THEN 'I'
      |       ELSE 'K' END AS action
      |FROM cust c FULL OUTER JOIN delta d ON c.c_custkey = d.k
      |WHERE coalesce(d.op, '') <> 'delete'""".stripMargin

  /** Z-order data layout audit: key every lineitem row on the Morton
    * interleave of (partkey, suppkey) via the fused [[graft.plans.ZorderKey]]
    * expression, bucket rows by the top 16 z-bits (a 256×256 quadtree cell —
    * the "file" a z-ordered writer would emit), and report each cell's
    * min/max along BOTH dimensions. Those are exactly the footer stats a
    * reader prunes on; tight per-cell spans in both dims are the property
    * that makes z-order layout skip-friendly where a linear sort skips on
    * one dim only. Zero-shuffle key math + one bounded aggregation
    * (≤65,536 cells regardless of corpus size, map-side partials). At
    * 100 TB the same key drives `repartitionByRange(z)` +
    * `sortWithinPartitions(z)` in the writer — this query audits the
    * resulting layout without rewriting anything. */
  def qZorder(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables(spark, sfDir).lineitem
    li.select(
        col("l_partkey").bitwiseAND(lit(65535L)).as("px"),
        col("l_suppkey").bitwiseAND(lit(65535L)).as("sx"))
      .withColumn("cell", shiftright(
        graft.plans.ZorderKey(col("px"), col("sx")), 16))
      .groupBy(col("cell"))
      .agg(
        count(lit(1)).as("n_rows"),
        min(col("px")).as("min_px"), max(col("px")).as("max_px"),
        min(col("sx")).as("min_sx"), max(col("sx")).as("max_sx"))
  }

  /** The oracle replays the mask-shift spread cascade stage by stage in
    * plain BIGINT ops — bit-identical to both the interpreted and generated
    * forms of [[graft.plans.ZorderKey]]. */
  val qZorderSql: String =
    """WITH base AS (
      |  SELECT (l_partkey & 65535) AS px, (l_suppkey & 65535) AS sx
      |  FROM lineitem),
      |s1 AS (SELECT px, sx,
      |  ((px | (px << 8)) & 16711935) AS ax,
      |  ((sx | (sx << 8)) & 16711935) AS ay FROM base),
      |s2 AS (SELECT px, sx,
      |  ((ax | (ax << 4)) & 252645135) AS ax,
      |  ((ay | (ay << 4)) & 252645135) AS ay FROM s1),
      |s3 AS (SELECT px, sx,
      |  ((ax | (ax << 2)) & 858993459) AS ax,
      |  ((ay | (ay << 2)) & 858993459) AS ay FROM s2),
      |s4 AS (SELECT px, sx,
      |  ((ax | (ax << 1)) & 1431655765) AS ax,
      |  ((ay | (ay << 1)) & 1431655765) AS ay FROM s3)
      |SELECT ((ax | (ay << 1)) >> 16) AS cell,
      |  CAST(count(*) AS BIGINT) AS n_rows,
      |  min(px) AS min_px, max(px) AS max_px,
      |  min(sx) AS min_sx, max(sx) AS max_sx
      |FROM s4 GROUP BY 1""".stripMargin

  /** Buckets and inverse sample rate for [[qRangePlan]]. */
  val rangePlanBuckets = 8
  val rangePlanMod = 50

  /** Range-partition boundary planner — the write-path planning step under
    * every sorted/range-partitioned layout (Spark's own RangePartitioner,
    * Delta/Iceberg sort-ordered writes, distributed sort): pick B−1 key
    * boundaries from a deterministic ~2% sample so each output range gets
    * ~1/B of the rows, and AUDIT the plan — per range, the sample's
    * scaled estimate next to the true row count and the skew ratio the
    * writer would actually see (the number that decides whether the
    * boundaries ship). Sample membership is the portable hash-mod idiom
    * (no RNG, no partition-order dependence); boundaries are exact
    * discrete quantiles of the sample (rank ⌈i·n/B⌉ — value-deterministic
    * under ties).
    * Scale shape: the sample predicate rides the scan (the corpus never
    * shuffles to be sampled); the global sort is of the SAMPLE ONLY —
    * exactly the cost RangePartitioner itself pays, 2% of corpus and
    * tunable down; ranges are a B-row broadcast dim, so both counting
    * passes are broadcast joins + one agg each. */
  def qRangePlan(spark: SparkSession, sfDir: String): DataFrame = {
    val B = rangePlanBuckets
    val k = Tables(spark, sfDir).lineitem
      .select(col("l_partkey").as("k"),
        graft.functions.Portable.hash64(
          concat_ws("#", col("l_orderkey"), col("l_linenumber")), "rangeplan")
          .as("h"))
    val samp = k.filter(pmod(col("h"), lit(rangePlanMod.toLong)) === 0L)
      .select(col("k")).persist()
    val ranked = samp
      .withColumn("rn", row_number().over(Window.orderBy(col("k"))))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy()))
    val bnd = ranked
      .select(col("k").as("v"), col("rn"), col("cnt"),
        explode(sequence(lit(1), lit(B - 1))).as("i"))
      .filter(col("rn") === expr(s"(i * cnt + ${B - 1}) DIV $B"))
      .select(col("i").cast("long").as("b"), col("v"))
    val ranges = bnd
      .unionAll(spark.range(1).select(lit(B.toLong).as("b"),
        lit(null).cast("long").as("v")))
      .select(col("b").as("bucket"),
        lag(col("v"), 1).over(Window.orderBy(col("b"))).as("lo"),
        col("v").as("hi"))
    val inRange = (kc: Column, lo: Column, hi: Column) =>
      (lo.isNull || kc > lo) && (hi.isNull || kc <= hi)
    val act = k.join(broadcast(ranges), inRange(col("k"), col("lo"), col("hi")))
      .groupBy(col("bucket")).agg(count(lit(1)).as("actual_rows"))
    val est = samp.join(broadcast(ranges), inRange(col("k"), col("lo"), col("hi")))
      .groupBy(col("bucket"))
      .agg((count(lit(1)) * rangePlanMod).as("est_rows"))
    val tot = k.agg(count(lit(1)).as("n"))
    ranges
      .join(act, Seq("bucket"), "left")
      .join(est, Seq("bucket"), "left")
      .crossJoin(broadcast(tot))
      .select(col("bucket"), col("lo"), col("hi"),
        coalesce(col("est_rows"), lit(0L)).as("est_rows"),
        coalesce(col("actual_rows"), lit(0L)).as("actual_rows"),
        round(coalesce(col("actual_rows"), lit(0L)).cast("double") * B / col("n"), 6)
          .as("skew"))
  }

  val qRangePlanSql: String = {
    val B = rangePlanBuckets
    s"""WITH k AS (
       |  SELECT l_partkey AS k,
       |    ${graft.functions.Portable.hash64Sql("(l_orderkey || '#' || l_linenumber)", "rangeplan")} AS h
       |  FROM lineitem),
       |s AS (SELECT k FROM k WHERE h % $rangePlanMod = 0),
       |r AS (SELECT k, row_number() OVER (ORDER BY k) AS rn,
       |        count(*) OVER () AS cnt FROM s),
       |bnd AS (
       |  SELECT i.i AS b, r.k AS v
       |  FROM r, LATERAL unnest(range(1, $B)) i(i)
       |  WHERE r.rn = (i.i * cnt + ${B - 1}) // $B),
       |ranges AS (
       |  SELECT CAST(b AS BIGINT) AS bucket,
       |    lag(v) OVER (ORDER BY b) AS lo, v AS hi
       |  FROM (SELECT b, v FROM bnd UNION ALL SELECT $B, NULL) t),
       |act AS (
       |  SELECT r2.bucket, CAST(count(*) AS BIGINT) AS actual_rows
       |  FROM k JOIN ranges r2
       |    ON (r2.lo IS NULL OR k.k > r2.lo) AND (r2.hi IS NULL OR k.k <= r2.hi)
       |  GROUP BY 1),
       |est AS (
       |  SELECT r2.bucket, CAST(count(*) * $rangePlanMod AS BIGINT) AS est_rows
       |  FROM s JOIN ranges r2
       |    ON (r2.lo IS NULL OR s.k > r2.lo) AND (r2.hi IS NULL OR s.k <= r2.hi)
       |  GROUP BY 1),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM k)
       |SELECT r2.bucket, r2.lo, r2.hi,
       |  coalesce(est_rows, 0) AS est_rows,
       |  coalesce(actual_rows, 0) AS actual_rows,
       |  round(CAST(coalesce(actual_rows, 0) AS DOUBLE) * $B / n, 6) AS skew
       |FROM ranges r2 LEFT JOIN act USING (bucket) LEFT JOIN est USING (bucket)
       |CROSS JOIN tot""".stripMargin
  }

  /** Packing budget for [[qCompaction]] (chars stand in for bytes at test
    * scale; production sets ~128 MB). */
  val compactTarget = 2048L

  /** Small-file compaction planner — the lakehouse table-maintenance pass
    * behind Delta OPTIMIZE / Iceberg rewrite_data_files: given the table's
    * file manifest (here each (source, lang) partition-group with its data
    * mass — at scale, the real file listing), leave files already at
    * target size alone and bin-pack the small ones into target-sized
    * output files WITHOUT crossing partition (source) boundaries, exactly
    * as a real compactor must. The pack is the standard sorted-greedy
    * plan: within a source, small files in manifest order, bin index =
    * running-offset DIV target — deterministic, no RNG.
    * Scale shape: the manifest is METADATA (O(files), dim-sized relative
    * to the data); the single window runs per-source over that bounded
    * manifest, so the plan costs one exchange on the manifest, zero data
    * IO — the planner's whole point. A 100 TB table's manifest is a few
    * million rows; the same per-partition window holds. */
  def qCompaction(spark: SparkSession, sfDir: String): DataFrame = {
    val manifest = Tables(spark, sfDir).documents
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sz"))
    val small = manifest.filter(col("sz") < compactTarget)
    val w = Window.partitionBy(col("source")).orderBy(col("lang"))
    val packed = small
      .withColumn("bin", ((sum(col("sz")).over(w) - col("sz"))
        / compactTarget).cast("long"))
      .groupBy(col("source"), col("bin"))
      .agg(count(lit(1)).as("n_inputs"), sum(col("n_docs")).as("n_docs"),
        sum(col("sz")).as("total_chars"),
        min(col("lang")).as("first_part"), max(col("lang")).as("last_part"))
      .select(col("source"), col("bin"), lit(true).as("compacted"),
        col("n_inputs"), col("n_docs"), col("total_chars"),
        col("first_part"), col("last_part"))
    val passthrough = manifest.filter(col("sz") >= compactTarget)
      .select(col("source"), lit(-1L).as("bin"), lit(false).as("compacted"),
        lit(1L).as("n_inputs"), col("n_docs"), col("sz").as("total_chars"),
        col("lang").as("first_part"), col("lang").as("last_part"))
    packed.unionAll(passthrough)
  }

  val qCompactionSql: String =
    s"""WITH manifest AS (
       |  SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(n_chars) AS BIGINT) AS sz
       |  FROM documents GROUP BY 1, 2),
       |small AS (
       |  SELECT *,
       |    (sum(sz) OVER (PARTITION BY source ORDER BY lang) - sz)
       |      // $compactTarget AS bin
       |  FROM manifest WHERE sz < $compactTarget)
       |SELECT source, CAST(bin AS BIGINT) AS bin, true AS compacted,
       |  CAST(count(*) AS BIGINT) AS n_inputs,
       |  CAST(sum(n_docs) AS BIGINT) AS n_docs,
       |  CAST(sum(sz) AS BIGINT) AS total_chars,
       |  min(lang) AS first_part, max(lang) AS last_part
       |FROM small GROUP BY 1, 2
       |UNION ALL
       |SELECT source, CAST(-1 AS BIGINT) AS bin, false AS compacted,
       |  CAST(1 AS BIGINT) AS n_inputs, n_docs, sz AS total_chars,
       |  lang AS first_part, lang AS last_part
       |FROM manifest WHERE sz >= $compactTarget""".stripMargin

  /** Snapshot diff — the INVERSE of q_merge_upsert: given two table
    * versions, derive the delta (the time-travel `table_changes` primitive;
    * also how you CDC a source that only gives you full dumps). The new
    * snapshot is a deterministic mutation of the dim (%13 keys dropped,
    * %7 balances bumped, %17 keys re-keyed +2M as inserts); the diff is ONE
    * co-partitioned full outer join classifying each key into U/D/I with
    * before/after images — unchanged rows are filtered OUT, so the output
    * (and everything downstream) is delta-sized, not table-sized. Both
    * sides shuffle once on the key; with the snapshots bucketed on it
    * (Staging.bucketize) the diff is exchange-free. Money in exact decimal
    * (the q1 pattern); nulls mark the absent side's image. */
  def qSnapshotDiff(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables(spark, sfDir).customer
      .select(col("c_custkey"), col("c_acctbal").cast("decimal(12,2)").as("bal"))
    val newSnap = cust
      .filter(col("c_custkey") % 13 =!= 0)
      .select(col("c_custkey").as("k"),
        when(col("c_custkey") % 7 === 0,
          col("bal") + lit(100).cast("decimal(5,2)")).otherwise(col("bal")).as("nbal"))
      .unionAll(cust.filter(col("c_custkey") % 17 === 0)
        .select((col("c_custkey") + 2000000L).as("k"),
          (col("bal") + lit(50).cast("decimal(5,2)")).as("nbal")))
    cust.join(newSnap, col("c_custkey") === col("k"), "full_outer")
      .filter(col("c_custkey").isNull || col("k").isNull || col("bal") =!= col("nbal"))
      .select(
        coalesce(col("c_custkey"), col("k")).as("key"),
        when(col("c_custkey").isNull, "I")
          .when(col("k").isNull, "D").otherwise("U").as("op"),
        col("bal").cast("double").as("before_bal"),
        col("nbal").cast("double").as("after_bal"))
  }

  val qSnapshotDiffSql: String =
    """WITH cust AS (
      |  SELECT c_custkey, CAST(c_acctbal AS DECIMAL(12,2)) AS bal FROM customer),
      |news AS (
      |  SELECT c_custkey AS k,
      |    CASE WHEN c_custkey % 7 = 0 THEN bal + CAST(100 AS DECIMAL(5,2))
      |         ELSE bal END AS nbal
      |  FROM cust WHERE c_custkey % 13 <> 0
      |  UNION ALL
      |  SELECT c_custkey + 2000000 AS k, bal + CAST(50 AS DECIMAL(5,2)) AS nbal
      |  FROM cust WHERE c_custkey % 17 = 0)
      |SELECT CAST(coalesce(c.c_custkey, n.k) AS BIGINT) AS key,
      |  CASE WHEN c.c_custkey IS NULL THEN 'I'
      |       WHEN n.k IS NULL THEN 'D' ELSE 'U' END AS op,
      |  CAST(c.bal AS DOUBLE) AS before_bal,
      |  CAST(n.nbal AS DOUBLE) AS after_bal
      |FROM cust c FULL OUTER JOIN news n ON c.c_custkey = n.k
      |WHERE c.c_custkey IS NULL OR n.k IS NULL OR c.bal <> n.nbal""".stripMargin

  /** ANALYZE-style table profiling: per-column row/null/NDV counts and
    * min/max in ONE scan — the stats pass a CBO (and every data-quality
    * monitor) runs before planning 100 TB joins. Multiple exact
    * count(distinct) in one aggregation compiles to a single Expand
    * (3× row multiplication, one pass, two-phase agg) — not one scan per
    * column; the single stats row is then unpivoted driver-free with
    * `stack`. min/max surface as strings so heterogeneous columns share a
    * schema (long→string renders identically on both engines; doubles are
    * deliberately excluded from this fixture — profiling them exactly
    * means exact-decimal casts first, the q1 pattern). At 100 TB you'd
    * swap exact NDV for the mergeable [[graft.plans.HllSketch]]
    * (ev_hll_users) and lose the Expand entirely. */
  def qProfile(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables(spark, sfDir).orders
    o.agg(
        count(lit(1)).as("n"),
        sum(col("o_custkey").isNull.cast("long")).as("nn_ck"),
        countDistinct(col("o_custkey")).as("ndv_ck"),
        min(col("o_custkey")).cast("string").as("min_ck"),
        max(col("o_custkey")).cast("string").as("max_ck"),
        sum(col("o_orderkey").isNull.cast("long")).as("nn_ok"),
        countDistinct(col("o_orderkey")).as("ndv_ok"),
        min(col("o_orderkey")).cast("string").as("min_ok"),
        max(col("o_orderkey")).cast("string").as("max_ok"),
        sum(col("o_orderstatus").isNull.cast("long")).as("nn_st"),
        countDistinct(col("o_orderstatus")).as("ndv_st"),
        min(col("o_orderstatus")).as("min_st"),
        max(col("o_orderstatus")).as("max_st"))
      .selectExpr(
        """stack(3,
          |  'o_custkey',    n, nn_ck, ndv_ck, min_ck, max_ck,
          |  'o_orderkey',   n, nn_ok, ndv_ok, min_ok, max_ok,
          |  'o_orderstatus',n, nn_st, ndv_st, min_st, max_st
          |) AS (col_name, n_rows, n_nulls, ndv, min_v, max_v)""".stripMargin)
  }

  val qProfileSql: String =
    """WITH a AS (
      |  SELECT count(*) AS n,
      |    sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS nn_ck,
      |    count(DISTINCT o_custkey) AS ndv_ck,
      |    CAST(min(o_custkey) AS VARCHAR) AS min_ck,
      |    CAST(max(o_custkey) AS VARCHAR) AS max_ck,
      |    sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS nn_ok,
      |    count(DISTINCT o_orderkey) AS ndv_ok,
      |    CAST(min(o_orderkey) AS VARCHAR) AS min_ok,
      |    CAST(max(o_orderkey) AS VARCHAR) AS max_ok,
      |    sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS nn_st,
      |    count(DISTINCT o_orderstatus) AS ndv_st,
      |    min(o_orderstatus) AS min_st,
      |    max(o_orderstatus) AS max_st
      |  FROM orders)
      |SELECT 'o_custkey' AS col_name, CAST(n AS BIGINT) AS n_rows,
      |  CAST(nn_ck AS BIGINT) AS n_nulls, CAST(ndv_ck AS BIGINT) AS ndv,
      |  min_ck AS min_v, max_ck AS max_v FROM a
      |UNION ALL
      |SELECT 'o_orderkey', CAST(n AS BIGINT), CAST(nn_ok AS BIGINT),
      |  CAST(ndv_ok AS BIGINT), min_ok, max_ok FROM a
      |UNION ALL
      |SELECT 'o_orderstatus', CAST(n AS BIGINT), CAST(nn_st AS BIGINT),
      |  CAST(ndv_st AS BIGINT), min_st, max_st FROM a""".stripMargin

  // ---- co-located bucketed join -------------------------------------------

  /** Bucketed-staging co-located join — the layout answer to "this join
    * runs every day on the same key": both sides staged via
    * [[graft.sources.Staging.bucketize]] (bucketBy + sortBy on the join
    * key), so the sort-merge join reads bucket-aligned files and needs NO
    * Exchange on either side — at 100 TB the daily join cost drops from
    * two full-corpus shuffles to a co-partitioned merge (the write
    * amortizes over every subsequent keyed join/agg). The `merge` hint
    * pins SMJ so the co-location (not a size-based broadcast) is what the
    * plan exercises; ScaleSpec asserts zero shuffle exchanges. Money math
    * in exact decimal (q1's scheme — a floating sum this wide is
    * order-sensitive at the 2dp grid). */
  def qBucketedJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val t = Tables(spark, sfDir)
    graft.sources.Staging.bucketize(
      t.lineitem.select(col("l_orderkey"), col("l_extendedprice"), col("l_discount")),
      "graft_li_bkt", "l_orderkey", 8)
    graft.sources.Staging.bucketize(
      t.orders.select(col("o_orderkey"), col("o_orderdate")),
      "graft_ord_bkt", "o_orderkey", 8)
    val one = lit(1).cast("decimal(3,2)")
    spark.table("graft_li_bkt").hint("merge")
      .join(spark.table("graft_ord_bkt"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_extendedprice").cast("decimal(12,2)")
          * (one - col("l_discount").cast("decimal(4,2)"))), 2)
          .cast("double").as("revenue"))
  }

  val qBucketedJoinSql: String =
    """SELECT year(o_orderdate) AS o_year, count(*) AS n_items,
      |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))
      |    * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY year(o_orderdate)""".stripMargin

  /** Equi-width value histogram of a money column — the CBO/statistics pass
    * next to [[qProfile]]'s per-column profile (`ANALYZE ... COMPUTE
    * STATISTICS FOR COLUMNS` materializes exactly this shape for selectivity
    * estimation, and data-quality monitors chart it per ingest batch).
    * Two scans, both one-exchange partial aggs: a ONE-ROW min/max stats
    * frame broadcast back (tx_search / q_skew_probe's shape — never a
    * global sort), then the bucketed count/sum pass whose key space is
    * CONSTANT (20 buckets) at any corpus size. All bucket math is exact
    * integer cents (the q1 decimal trick: double→DECIMAL(12,2) is the one
    * cast both engines round identically, ×100 and floor-DIV stay in
    * BIGINT), so bucket boundaries can never flip on a float tie. */
  def qHistogram(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables(spark, sfDir).lineitem
      .select((col("l_extendedprice").cast("decimal(12,2)") * 100)
        .cast("long").as("c"))
    val stats = li.agg(min(col("c")).as("lo_c"), max(col("c")).as("hi_c"))
    li.crossJoin(broadcast(stats))
      .select(expr("least(19L, (c - lo_c) * 20 DIV (hi_c - lo_c))").as("bucket"),
        col("c"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), min(col("c")).as("min_cents"),
        max(col("c")).as("max_cents"), sum(col("c")).as("sum_cents"))
  }

  val qHistogramSql: String =
    """WITH c AS (
      |  SELECT CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS c
      |  FROM lineitem),
      |stats AS (SELECT min(c) AS lo_c, max(c) AS hi_c FROM c)
      |SELECT least(19, (c - lo_c) * 20 // (hi_c - lo_c)) AS bucket,
      |  count(*) AS n, min(c) AS min_cents, max(c) AS max_cents,
      |  CAST(sum(c) AS BIGINT) AS sum_cents
      |FROM c, stats
      |GROUP BY 1""".stripMargin

  /** Deequ-style data-quality constraint suite — the validation gate a
    * production pipeline runs BEFORE training data ships (AWS Deequ /
    * Great Expectations shape): completeness, primary-key uniqueness,
    * domain/range/set membership, and referential integrity, each emitted
    * as (check, observed, pass). ONE aggregation pass over the fact table
    * computes every scan metric (the multi-distinct compiles to one Expand
    * + two-phase agg, q_profile's audited shape); referential integrity is
    * a single left-anti count (AQE picks the join strategy — at 100 TB
    * against a bucketed dim this is the only real exchange). The metric
    * rows unpivot from the one combined stats row via `stack` — the whole
    * suite costs two scans regardless of how many constraints ride it. */
  def qDqChecks(spark: SparkSession, sfDir: String): DataFrame = {
    val t = Tables(spark, sfDir)
    val li = t.lineitem
    val m = li.agg(
      count(lit(1)).as("cnt"),
      count(when(col("l_orderkey").isNull, 1)).as("n_null_ok"),
      countDistinct(col("l_orderkey"), col("l_linenumber")).as("d_pk"),
      count(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1)).as("n_qty_out"),
      count(when(!col("l_returnflag").isin("A", "N", "R"), 1)).as("n_bad_flag"),
      count(when(col("l_extendedprice") < 0, 1)).as("n_neg_price"))
    val orphans = li.select(col("l_orderkey"))
      .join(t.orders.select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("n_orphan"))
    m.crossJoin(orphans).selectExpr(
      """stack(7,
        |  'rows_min_1000', cnt, cnt >= 1000,
        |  'complete_orderkey', n_null_ok, n_null_ok = 0,
        |  'unique_pk', cnt - d_pk, cnt - d_pk = 0,
        |  'range_quantity_1_50', n_qty_out, n_qty_out = 0,
        |  'set_returnflag', n_bad_flag, n_bad_flag = 0,
        |  'nonneg_price', n_neg_price, n_neg_price = 0,
        |  'fk_orders', n_orphan, n_orphan = 0
        |) as (check, observed, pass)""".stripMargin)
  }

  val qDqChecksSql: String =
    """WITH m AS (
      |  SELECT count(*) AS cnt,
      |    count(CASE WHEN l_orderkey IS NULL THEN 1 END) AS n_null_ok,
      |    (SELECT count(*) FROM (SELECT DISTINCT l_orderkey, l_linenumber
      |      FROM lineitem)) AS d_pk,
      |    count(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 END) AS n_qty_out,
      |    count(CASE WHEN l_returnflag NOT IN ('A','N','R') THEN 1 END) AS n_bad_flag,
      |    count(CASE WHEN l_extendedprice < 0 THEN 1 END) AS n_neg_price,
      |    (SELECT count(*) FROM lineitem l WHERE NOT EXISTS (
      |      SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS n_orphan
      |  FROM lineitem)
      |SELECT 'rows_min_1000' AS check, cnt AS observed, cnt >= 1000 AS pass FROM m
      |UNION ALL SELECT 'complete_orderkey', n_null_ok, n_null_ok = 0 FROM m
      |UNION ALL SELECT 'unique_pk', cnt - d_pk, cnt - d_pk = 0 FROM m
      |UNION ALL SELECT 'range_quantity_1_50', n_qty_out, n_qty_out = 0 FROM m
      |UNION ALL SELECT 'set_returnflag', n_bad_flag, n_bad_flag = 0 FROM m
      |UNION ALL SELECT 'nonneg_price', n_neg_price, n_neg_price = 0 FROM m
      |UNION ALL SELECT 'fk_orders', n_orphan, n_orphan = 0 FROM m""".stripMargin

  /** LISTAGG / STRING_AGG — the ordered string-aggregation surface (report
    * feeds, per-entity event digests). The contract that makes it scale:
    * ONLY bounded groups (a customer's order count is bounded by business
    * reality; an unbounded-group listagg is the collect_list anti-pattern —
    * its agg buffer IS the group). Determinism: collect_list order is
    * partition-arbitrary, so the struct array is `array_sort`ed on the
    * (date, orderkey) total order BEFORE projection — bit-identical to the
    * oracle's `string_agg(... ORDER BY)` on any partitioning. One shuffle. */
  def qListagg(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir).orders
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("o_orderdate"), col("o_orderkey"),
              col("o_orderpriority")))),
            x => x.getField("o_orderpriority")), ",").as("prios"))

  val qListaggSql: String =
    """SELECT o_custkey, count(*) AS n_orders,
      |  string_agg(o_orderpriority, ',' ORDER BY o_orderdate, o_orderkey) AS prios
      |FROM orders GROUP BY 1""".stripMargin

  /** INTERSECT / EXCEPT — the set-operator SQL surface, in its canonical
    * business form: year-over-year customer retention (retained = both
    * years, churned = prior only, new = current only). Catalyst plans set
    * ops as distinct aggregates + semi/anti joins on the SAME key
    * partitioning — three segments cost one shuffle family, not three
    * scans of a generic engine. Counts, not rosters, so the output is
    * constant-size at any scale. */
  def qSetops(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables(spark, sfDir).orders
      .select(col("o_custkey"), year(col("o_orderdate")).as("y"))
    val prior = o.filter(col("y") === 1997).select(col("o_custkey")).distinct()
    val cur = o.filter(col("y") === 1998).select(col("o_custkey")).distinct()
    cur.intersect(prior).select(lit("retained").as("segment"))
      .unionAll(prior.except(cur).select(lit("churned").as("segment")))
      .unionAll(cur.except(prior).select(lit("new").as("segment")))
      .groupBy(col("segment")).agg(count(lit(1)).as("n_customers"))
  }

  val qSetopsSql: String =
    """WITH prior AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1997),
      |cur AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1998)
      |SELECT 'retained' AS segment,
      |  (SELECT count(*) FROM (SELECT * FROM cur INTERSECT SELECT * FROM prior)) AS n_customers
      |UNION ALL SELECT 'churned',
      |  (SELECT count(*) FROM (SELECT * FROM prior EXCEPT SELECT * FROM cur))
      |UNION ALL SELECT 'new',
      |  (SELECT count(*) FROM (SELECT * FROM cur EXCEPT SELECT * FROM prior))""".stripMargin

  // ---- UNPIVOT (wide → long melt) ------------------------------------------

  /** The melt surface: lineitem's four money/measure columns unpivoted to
    * (metric, val) long form, then re-aggregated per (returnflag, metric) —
    * the wide→long reshape every metrics warehouse does before generic
    * per-metric processing. Spark's native `unpivot` (Expand under the
    * hood: zero shuffle, zero join — each input row fans out to 4 in the
    * same task), then ONE agg over the bounded (flag × metric) key space
    * with map-side partials. Sums run in EXACT decimal (the q1 contract:
    * 2dp money in, decimal sum is one rational number on both engines)
    * and cast to double only at the end. */
  def qUnpivot(spark: SparkSession, sfDir: String): DataFrame = {
    val measures = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    Tables(spark, sfDir).lineitem
      .select(col("l_returnflag") +: measures.map(col): _*)
      .unpivot(
        ids = Array(col("l_returnflag")),
        values = measures.map(col).toArray,
        variableColumnName = "metric",
        valueColumnName = "val")
      .groupBy(col("l_returnflag"), col("metric"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("val").cast("decimal(12,2)")).cast("double").as("total"),
        max(col("val")).as("mx"))
  }

  val qUnpivotSql: String =
    """WITH u AS (
      |  UNPIVOT (SELECT l_returnflag, l_quantity, l_extendedprice,
      |           l_discount, l_tax FROM lineitem)
      |  ON l_quantity, l_extendedprice, l_discount, l_tax
      |  INTO NAME metric VALUE val)
      |SELECT l_returnflag, metric, count(*) AS n,
      |  CAST(sum(CAST(val AS DECIMAL(12,2))) AS DOUBLE) AS total,
      |  max(val) AS mx
      |FROM u GROUP BY 1, 2""".stripMargin

  // ---- k-anonymity suppression ----------------------------------------------

  /** Group-size floor for the quasi-identifier groups. */
  val kAnonK = 8

  /** k-anonymity with suppression — the data-governance gate run before a
    * dataset (or its aggregates) leaves the boundary: every
    * quasi-identifier group (nation × market segment) smaller than k is
    * SUPPRESSED (quasi-ids nulled, rows pooled into one residual bucket),
    * so no released group identifies fewer than k people. ONE aggregation
    * to the bounded quasi-id key space (map-side partials), then the
    * suppression fold runs over that tiny grouped frame — the release
    * decision never re-touches row-level data. Output: each surviving
    * group with its size, plus the pooled suppressed bucket with how many
    * groups and rows it absorbed. */
  def qKanon(spark: SparkSession, sfDir: String): DataFrame = {
    val g = Tables(spark, sfDir).customer
      .groupBy(col("c_nationkey"), col("c_mktsegment"))
      .agg(count(lit(1)).as("grp_n"))
    g.select(
        when(col("grp_n") >= kAnonK, col("c_nationkey")).as("nationkey"),
        when(col("grp_n") >= kAnonK, col("c_mktsegment")).as("mktsegment"),
        (col("grp_n") < kAnonK).as("suppressed"),
        col("grp_n"))
      .groupBy(col("nationkey"), col("mktsegment"), col("suppressed"))
      .agg(sum(col("grp_n")).as("n_rows"), count(lit(1)).as("n_groups"))
  }

  val qKanonSql: String =
    s"""WITH g AS (
       |  SELECT c_nationkey, c_mktsegment, count(*) AS grp_n
       |  FROM customer GROUP BY 1, 2),
       |s AS (
       |  SELECT
       |    CASE WHEN grp_n >= $kAnonK THEN c_nationkey END AS nationkey,
       |    CASE WHEN grp_n >= $kAnonK THEN c_mktsegment END AS mktsegment,
       |    grp_n < $kAnonK AS suppressed, grp_n
       |  FROM g)
       |SELECT nationkey, mktsegment, suppressed,
       |  CAST(sum(grp_n) AS BIGINT) AS n_rows, count(*) AS n_groups
       |FROM s GROUP BY 1, 2, 3""".stripMargin

  // ---- l-diversity audit ----------------------------------------------------

  /** Required distinct sensitive values per released group. */
  val lDivL = 8L

  /** l-diversity audit — q_kanon's sibling gate (Machanavajjhala et al.
    * ICDE'06): k-anonymity bounds group SIZE, but a large group whose
    * members all share one sensitive value still leaks it (the homogeneity
    * attack); l-diversity requires every released quasi-identifier group
    * (nation × segment) to carry ≥ l DISTINCT sensitive values (account
    * balance, bucketed to 1000-unit bands). The readout is the per-group
    * audit a release reviewer signs off on: group size, sensitive
    * diversity, verdict. Scale shape: ONE two-phase distinct aggregation
    * to the bounded quasi-id key space (count + count-distinct share the
    * Expand pass); the verdict fold runs over that tiny grouped frame.
    * The sensitive bucket is integer math on exact cents, SHIFTED
    * non-negative before the integer division so truncating (Spark DIV)
    * and flooring (DuckDB //) division agree. */
  def qLdiv(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir).customer
      .select(col("c_nationkey"), col("c_mktsegment"),
        expr("(CAST(round(c_acctbal * 100, 0) AS BIGINT) + 100000) DIV 100000")
          .as("sens_bucket"))
      .groupBy(col("c_nationkey"), col("c_mktsegment"))
      .agg(count(lit(1)).as("grp_n"),
        countDistinct(col("sens_bucket")).as("n_sensitive"))
      .select(col("c_nationkey"), col("c_mktsegment"), col("grp_n"),
        col("n_sensitive"), (col("n_sensitive") >= lDivL).as("released"))

  val qLdivSql: String =
    s"""SELECT c_nationkey, c_mktsegment, count(*) AS grp_n,
       |  count(DISTINCT (CAST(round(c_acctbal * 100, 0) AS BIGINT) + 100000)
       |    // 100000) AS n_sensitive,
       |  count(DISTINCT (CAST(round(c_acctbal * 100, 0) AS BIGINT) + 100000)
       |    // 100000) >= $lDivL AS released
       |FROM customer GROUP BY 1, 2""".stripMargin

  // ---- t-closeness audit -----------------------------------------------------

  /** t-closeness audit — the third gate of the release trio (Li et al.
    * ICDE'07; q_kanon bounds group SIZE, q_ldiv sensitive CARDINALITY):
    * even an l-diverse group leaks when its sensitive-value DISTRIBUTION
    * skews far from the corpus-wide one (the skewness attack — "this
    * group is mostly top-bracket balances" is a disclosure no distinct
    * count catches). Per quasi-identifier group (nation × segment), the
    * total-variation distance between the group's sensitive-bucket
    * distribution and the global one; released ⇔ distance ≤ t = 0.25.
    * Exactness: TV = Σ_v |cnt_g(v)·N − cnt(v)·n_g| / (2·n_g·N) — the
    * numerator stays a cross-multiplied exact BIGINT (≤ n_g·N ≈ 2.3e8 at
    * sf0.1; a 100 TB deployment lifts the two products to DECIMAL(38,0)
    * unchanged), the verdict 2·Σ|…| ≤ n_g·N is a pure integer comparison
    * (t=¼ cross-multiplied — no float in the gate), and only the REPORTED
    * distance divides, once, at 6dp. Scale shape: ONE aggregation to the
    * bounded (quasi-id × bucket) cell space with map-side partials; the
    * dense group×bucket grid, the global marginals, and the fold all run
    * over that tiny grouped frame — the release decision never re-touches
    * row-level data (the q_kanon contract). Zero-count cells are
    * materialized by the grid join: a bucket the group MISSES entirely is
    * exactly the skew the distance must see. */
  def qTclose(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = Tables(spark, sfDir).customer
      .select(col("c_nationkey"), col("c_mktsegment"),
        expr("(CAST(round(c_acctbal * 100, 0) AS BIGINT) + 100000) DIV 100000")
          .as("sens_bucket"))
      .groupBy(col("c_nationkey"), col("c_mktsegment"), col("sens_bucket"))
      .agg(count(lit(1)).as("cnt"))
      .persist() // tiny (bounded cell space); feeds groups, marginals, grid
    val groups = cells.groupBy(col("c_nationkey"), col("c_mktsegment"))
      .agg(sum(col("cnt")).as("grp_n"))
    val marginal = cells.groupBy(col("sens_bucket")).agg(sum(col("cnt")).as("cnt_v"))
    val total = marginal.agg(sum(col("cnt_v")).as("n_total"))
    val grid = groups.crossJoin(broadcast(marginal)).crossJoin(broadcast(total))
      .join(cells, Seq("c_nationkey", "c_mktsegment", "sens_bucket"), "left")
      .withColumn("c", coalesce(col("cnt"), lit(0L)))
    grid.groupBy(col("c_nationkey"), col("c_mktsegment"), col("grp_n"), col("n_total"))
      .agg(sum(abs(col("c") * col("n_total") - col("cnt_v") * col("grp_n"))).as("sum_abs"))
      .select(col("c_nationkey"), col("c_mktsegment"), col("grp_n"),
        round(col("sum_abs").cast("double")
          / (lit(2d) * col("grp_n").cast("double") * col("n_total").cast("double")), 6)
          .as("tv_dist"),
        (col("sum_abs") * 2 <= col("grp_n") * col("n_total")).as("released"))
  }

  val qTcloseSql: String =
    """WITH cells AS (
      |  SELECT c_nationkey, c_mktsegment,
      |    (CAST(round(c_acctbal * 100, 0) AS BIGINT) + 100000) // 100000
      |      AS sens_bucket,
      |    CAST(count(*) AS BIGINT) AS cnt
      |  FROM customer GROUP BY 1, 2, 3),
      |groups AS (
      |  SELECT c_nationkey, c_mktsegment, CAST(sum(cnt) AS BIGINT) AS grp_n
      |  FROM cells GROUP BY 1, 2),
      |marginal AS (
      |  SELECT sens_bucket, CAST(sum(cnt) AS BIGINT) AS cnt_v
      |  FROM cells GROUP BY 1),
      |total AS (SELECT CAST(sum(cnt_v) AS BIGINT) AS n_total FROM marginal),
      |grid AS (
      |  SELECT g.c_nationkey, g.c_mktsegment, g.grp_n, t.n_total, m.cnt_v,
      |    CAST(coalesce(c.cnt, 0) AS BIGINT) AS c
      |  FROM groups g CROSS JOIN marginal m CROSS JOIN total t
      |  LEFT JOIN cells c ON c.c_nationkey = g.c_nationkey
      |    AND c.c_mktsegment = g.c_mktsegment AND c.sens_bucket = m.sens_bucket)
      |SELECT c_nationkey, c_mktsegment, grp_n,
      |  round(CAST(sum(abs(c * n_total - cnt_v * grp_n)) AS DOUBLE)
      |    / (CAST(2 AS DOUBLE) * grp_n * n_total), 6) AS tv_dist,
      |  CAST(sum(abs(c * n_total - cnt_v * grp_n)) AS BIGINT) * 2
      |    <= grp_n * n_total AS released
      |FROM grid GROUP BY 1, 2, 3, n_total""".stripMargin

  // ---- differentially-private release ----------------------------------------

  /** DP noise scale: counts have sensitivity 1, so b = 1/ε with ε = 1. */
  val dpEpsilon = 1.0

  /** Differentially-private count release — the fourth rung of the
    * governance ladder (q_kanon/q_ldiv/q_tclose audit what raw groups may
    * ship; this SHIPS a noised version with a provable ε-budget): per
    * quasi-identifier group, the true count plus Laplace(1/ε) noise via
    * inverse-CDF sampling, clamped at 0 and rounded to an integer. The
    * noise draw is DETERMINISTIC — u = hash64(group key, salt "dp") / 2⁶⁰
    * (an exact dyadic; the engine's portable MD5-based hash) — so the
    * release is reproducible run-to-run and engine-to-engine, which is
    * exactly how production DP pipelines pin their draws (a seeded PRNG
    * keyed by group). Disjoint groups → parallel composition → the whole
    * release costs ε = 1. The one engine-sensitivity: `ln` is not
    * IEEE-exactness-guaranteed like sqrt, so the noise is rounded to 6dp
    * BEFORE the integer round (a 1-ulp ln divergence cannot flip it).
    * Scale shape: identical to q_kanon — ONE bounded-key aggregation with
    * map-side partials; noise math runs over the tiny grouped frame.
    * (The true count is emitted for audit parity; a production release
    * drops it.) */
  def qDpCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val g = Tables(spark, sfDir).customer
      .groupBy(col("c_nationkey"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n_true"))
    val u = graft.functions.Portable.hash64(
      concat_ws("|", col("c_nationkey"), col("c_mktsegment")), "dp")
      .cast("double") / lit(math.pow(2, 60))
    g.withColumn("u", u)
      .withColumn("noise",
        round(lit(-1d / dpEpsilon)
          * signum(col("u") - lit(0.5d))
          * log(lit(1d) - lit(2d) * abs(col("u") - lit(0.5d))), 6))
      .select(col("c_nationkey"), col("c_mktsegment"), col("n_true"),
        greatest(lit(0L),
          round(col("n_true") + col("noise"), 0).cast("long")).as("n_released"),
        lit(dpEpsilon).as("epsilon"))
  }

  val qDpCountsSql: String = {
    val u = graft.functions.Portable.hash64Sql(
      "(c_nationkey || '|' || c_mktsegment)", "dp")
    s"""WITH g AS (
       |  SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS n_true
       |  FROM customer GROUP BY 1, 2),
       |n AS (
       |  SELECT *, $u / CAST(1152921504606846976 AS DOUBLE) AS u FROM g),
       |z AS (
       |  SELECT *,
       |    round(CAST(${-1.0 / dpEpsilon} AS DOUBLE)
       |      * sign(u - 0.5)
       |      * ln(CAST(1 AS DOUBLE) - CAST(2 AS DOUBLE) * abs(u - 0.5)), 6)
       |      AS noise
       |  FROM n)
       |SELECT c_nationkey, c_mktsegment, n_true,
       |  greatest(CAST(0 AS BIGINT), CAST(round(n_true + noise, 0) AS BIGINT))
       |    AS n_released,
       |  CAST($dpEpsilon AS DOUBLE) AS epsilon
       |FROM z""".stripMargin
  }

  // ---- order-invariant table fingerprint ---------------------------------------

  /** Order-invariant table fingerprint — the replication/migration
    * validation tool (did the copy land bit-identical?) that must NOT
    * depend on row order, file split, or partition count: per table,
    * row count + XOR of a canonical per-row 60-bit hash + a wrap-safe
    * 32-bit-residue SUM (XOR alone is blind to an even number of
    * identical-row drops; the sum catches them, and its 2³²-residue terms
    * keep 10⁹-row sums inside BIGINT). Money columns enter the canonical
    * string as exact cents (double RENDERING differs across engines;
    * integer cents cannot). Scale shape: pure scan → map-side partial agg
    * → ONE row per table; no shuffle wider than the final single-row
    * merge — the cheapest possible full-table integrity pass, and the
    * three aggregates are all order/partition-invariant by construction. */
  def qTableHash(spark: SparkSession, sfDir: String): DataFrame = {
    val t = Tables(spark, sfDir)
    def fp(name: String, df: DataFrame, canonical: Column): DataFrame = {
      val h = graft.functions.Portable.hash64(canonical, "fp")
      df.select(h.as("h"))
        .agg(count(lit(1)).as("n_rows"),
          expr("bit_xor(h)").as("xor_h"),
          sum(pmod(col("h"), lit(4294967296L))).as("sum32"))
        .select(lit(name).as("table_name"), col("n_rows"), col("xor_h"), col("sum32"))
    }
    val li = fp("lineitem", t.lineitem, concat_ws("|",
      col("l_orderkey"), col("l_partkey"), col("l_suppkey"), col("l_linenumber"),
      expr("CAST(round(l_quantity * 100, 0) AS BIGINT)"),
      expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)")))
    val cu = fp("customer", t.customer, concat_ws("|",
      col("c_custkey"), col("c_nationkey"), col("c_mktsegment"),
      expr("CAST(round(c_acctbal * 100, 0) AS BIGINT)")))
    val or = fp("orders", t.orders, concat_ws("|",
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus")))
    li.unionAll(cu).unionAll(or)
  }

  val qTableHashSql: String = {
    def one(name: String, table: String, canonical: String): String = {
      val h = graft.functions.Portable.hash64Sql(s"($canonical)", "fp")
      s"""SELECT '$name' AS table_name, CAST(count(*) AS BIGINT) AS n_rows,
         |  bit_xor($h) AS xor_h,
         |  CAST(sum($h % 4294967296) AS BIGINT) AS sum32
         |FROM $table""".stripMargin
    }
    Seq(
      one("lineitem", "lineitem",
        "l_orderkey || '|' || l_partkey || '|' || l_suppkey || '|' || " +
          "l_linenumber || '|' || " +
          "CAST(round(l_quantity * 100, 0) AS BIGINT) || '|' || " +
          "CAST(round(l_extendedprice * 100, 0) AS BIGINT)"),
      one("customer", "customer",
        "c_custkey || '|' || c_nationkey || '|' || c_mktsegment || '|' || " +
          "CAST(round(c_acctbal * 100, 0) AS BIGINT)"),
      one("orders", "orders",
        "o_orderkey || '|' || o_custkey || '|' || o_orderstatus")
    ).mkString("\nUNION ALL\n")
  }

  // ---- functional-dependency discovery -----------------------------------------

  /** Candidate FDs audited per table: (lhs determines rhs?). */
  val fdCandidates: Seq[(String, Seq[(String, String)])] = Seq(
    "orders" -> Seq(("o_orderkey", "o_custkey"), ("o_custkey", "o_orderstatus")),
    "customer" -> Seq(("c_custkey", "c_mktsegment"), ("c_nationkey", "c_mktsegment")),
    "lineitem" -> Seq(("l_orderkey", "l_suppkey"), ("l_partkey", "l_suppkey")))

  /** Functional-dependency discovery — the profiling pass (Metanome-style;
    * Papenbrock et al. VLDB'15 surveys it) run before anyone trusts a
    * column as a key or a lookup: A → B holds exactly when
    * |distinct(A)| = |distinct(A,B)|, and the VIOLATION SHARE
    * (extra (A,B) pairs per pair) grades how badly an almost-FD leaks —
    * the number that decides between "fix the data" and "drop the
    * assumption" (q_dq_checks asserts DECLARED constraints; this
    * DISCOVERS which ones the data actually supports). Scale shape: ONE
    * aggregation per table computes every candidate's two distinct counts
    * in a single multi-distinct pass (shared Expand — the q_profile
    * audited shape); the verdict math runs on the 1-row result. Exact
    * BIGINT counts; the share is one 6dp division. */
  def qFdDiscover(spark: SparkSession, sfDir: String): DataFrame = {
    val t = Tables(spark, sfDir)
    val tables = Map[String, DataFrame](
      "orders" -> t.orders, "customer" -> t.customer, "lineitem" -> t.lineitem)
    fdCandidates.map { case (table, cands) =>
      val aggs = cands.flatMap { case (a, b) =>
        Seq(countDistinct(col(a)).as(s"l_${a}_$b"),
          countDistinct(col(a), col(b)).as(s"p_${a}_$b"))
      }
      val one = tables(table).agg(aggs.head, aggs.tail: _*)
      cands.map { case (a, b) =>
        val (l, p) = (col(s"l_${a}_$b"), col(s"p_${a}_$b"))
        one.select(lit(table).as("table_name"), lit(a).as("lhs"), lit(b).as("rhs"),
          l.as("n_lhs"), p.as("n_pairs"), (l === p).as("holds"),
          round((p - l).cast("double") / p, 6).as("violation_share"))
      }.reduce(_ unionAll _)
    }.reduce(_ unionAll _)
  }

  val qFdDiscoverSql: String =
    fdCandidates.flatMap { case (table, cands) =>
      cands.map { case (a, b) =>
        s"""SELECT '$table' AS table_name, '$a' AS lhs, '$b' AS rhs,
           |  CAST(count(DISTINCT $a) AS BIGINT) AS n_lhs,
           |  CAST(count(DISTINCT ($a, $b)) AS BIGINT) AS n_pairs,
           |  count(DISTINCT $a) = count(DISTINCT ($a, $b)) AS holds,
           |  round(CAST(count(DISTINCT ($a, $b)) - count(DISTINCT $a) AS DOUBLE)
           |    / count(DISTINCT ($a, $b)), 6) AS violation_share
           |FROM $table""".stripMargin
      }
    }.mkString("\nUNION ALL\n")

  // ---- point-in-time feature backfill ---------------------------------------

  /** Point-in-time feature backfill — the FEATURE-STORE correctness
    * problem (Feast/Tecton's core contract): training examples for a
    * purchase model need each feature exactly as it stood the instant
    * BEFORE the label event — a feature computed over data at-or-after
    * the label leaks the future into training. One pass builds three
    * point-in-time-correct features per purchase label: trailing-24 h
    * view count (value-range frame), lifetime spend so far (running
    * frame), and seconds since the previous event (lag) — all STRICTLY
    * before the label (range bound −1 µs; same-instant peers excluded).
    * Scale shape: ONE user_id exchange serves all three window specs (the
    * q_running shared-partitioning contract) and the label filter; no
    * joins at all — the as-of join family (q_asof/q_temporal_join)
    * handles dim lookups, this handles the windowed aggregates, together
    * they are the full backfill. All features exact BIGINT. */
  def qFeatureJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val ev = Tables(spark, sfDir).events
      .select(col("user_id"), col("event_id"), col("event_type"),
        graft.epochUs(col("ts")).as("ts_us"),
        expr("CAST(round(value * 100, 0) AS BIGINT)").as("cents"))
    val byTs = W.partitionBy(col("user_id")).orderBy(col("ts_us"))
    val dayFrame = byTs.rangeBetween(-86399999999L, -1L)
    val lifeFrame = byTs.rangeBetween(W.unboundedPreceding, -1L)
    ev
      .withColumn("f_views_24h", coalesce(
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).over(dayFrame),
        lit(0L)))
      .withColumn("f_spend_cents", coalesce(
        sum(when(col("event_type") === "purchase", col("cents")).otherwise(0L))
          .over(lifeFrame), lit(0L)))
      .withColumn("f_gap_s",
        expr("(ts_us - lag(ts_us, 1) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)) DIV 1000000"))
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("label_event_id"),
        col("ts_us").as("label_ts_us"), col("f_views_24h"),
        col("f_spend_cents"), col("f_gap_s"))
  }

  val qFeatureJoinSql: String =
    """WITH ev AS (
      |  SELECT user_id, event_id, event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
      |    CAST(round(value * 100, 0) AS BIGINT) AS cents
      |  FROM events),
      |f AS (
      |  SELECT user_id, event_id, event_type, ts_us,
      |    coalesce(CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY ts_us
      |        RANGE BETWEEN 86399999999 PRECEDING AND 1 PRECEDING) AS BIGINT),
      |      0) AS f_views_24h,
      |    coalesce(CAST(sum(CASE WHEN event_type = 'purchase' THEN cents
      |        ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY ts_us
      |        RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
      |      0) AS f_spend_cents,
      |    (ts_us - lag(ts_us) OVER (PARTITION BY user_id
      |      ORDER BY ts_us, event_id)) // 1000000 AS f_gap_s
      |  FROM ev)
      |SELECT user_id, event_id AS label_event_id, ts_us AS label_ts_us,
      |  f_views_24h, f_spend_cents, f_gap_s
      |FROM f WHERE event_type = 'purchase'""".stripMargin

  // ---- CDC journal log-compaction -------------------------------------------

  /** Log compaction — Kafka's compacted-topic contract applied to a CDC
    * journal (the inverse housekeeping of st_cdc's journal GENERATION):
    * only the LAST record per key matters for state reconstruction, a key
    * whose last record is a tombstone disappears, and everything older is
    * reclaimable. The journal derives from events (upserts carry the
    * event's value in exact cents; `error` events are tombstones); the
    * readout per surviving key: last value, last ts, and how many journal
    * records compaction reclaims. Scale shape: ONE user_id exchange; the
    * rank≤1 cut rides WindowGroupLimit below the window exchange (each map
    * task ships only its local last-per-key candidates — the ev_trending
    * shuffle-volume argument), and the per-key count shares the same
    * partitioning. */
  def qLogCompact(spark: SparkSession, sfDir: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val journal = Tables(spark, sfDir).events
      .select(col("user_id"), graft.epochUs(col("ts")).as("ts_us"), col("event_id"),
        when(col("event_type") === "error", lit("tombstone"))
          .otherwise(lit("upsert")).as("op"),
        expr("CAST(round(value * 100, 0) AS BIGINT)").as("cents"))
    val w = W.partitionBy(col("user_id"))
      .orderBy(col("ts_us").desc, col("event_id").desc)
    // the journal depth comes from a groupBy on the SAME user_id
    // partitioning (exchange reuse), NOT a second unbounded window over
    // the ranked frame — a second window function on the partition
    // disables WindowGroupLimit and the rank cut stops riding below the
    // exchange
    val last = journal
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1 && col("op") === "upsert")
    val depth = journal.groupBy(col("user_id")).agg(count(lit(1)).as("n_ops"))
    last.join(depth, "user_id")
      .select(col("user_id"), col("cents").as("last_cents"),
        col("ts_us").as("last_ts_us"), col("n_ops"),
        (col("n_ops") - 1).as("n_reclaimed"))
  }

  val qLogCompactSql: String =
    """WITH j AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_id,
      |    CASE WHEN event_type = 'error' THEN 'tombstone' ELSE 'upsert' END AS op,
      |    CAST(round(value * 100, 0) AS BIGINT) AS cents
      |  FROM events),
      |r AS (
      |  SELECT user_id, ts_us, op, cents,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY ts_us DESC, event_id DESC) AS rk,
      |    CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_ops
      |  FROM j)
      |SELECT user_id, cents AS last_cents, ts_us AS last_ts_us, n_ops,
      |  n_ops - 1 AS n_reclaimed
      |FROM r WHERE rk = 1 AND op = 'upsert'""".stripMargin

  // ---- approximate query processing (sample + error bounds) -----------------

  /** Sample keep-rate, percent. */
  val aqpRatePct = 5L

  /** Sample-based approximate aggregation with error bounds — the
    * BlinkDB/AQP capability: answer an aggregate from a small deterministic
    * sample WITH a standard error, and let the exact answer ride along as
    * the audit (any estimator bug fails the hash). The sample is the
    * engine's portable hash-mod idiom (graft.sample.Sampling): keep a row
    * iff hash64(rowkey) mod 100 < rate — reproducible across runs, engines,
    * and cluster sizes, no RNG, no partition-order dependence, and the keep
    * predicate rides the SCAN (at 100 TB the sample never shuffles the
    * corpus; only sampled rows reach the agg). Numerics: the estimate is
    * exact-BIGINT scale-up (Σcents·100/rate); Σcents² accumulates in EXACT
    * DECIMAL(38,0) (int64 would overflow at ~sf10); the Horvitz–Thompson
    * SE = sqrt((1−p)/p·Σx²) is one decimal→double conversion + one
    * multiply + one IEEE-correctly-rounded sqrt, reported on a dollar grid
    * ~10 orders above double noise. */
  def qAqp(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.Portable
    val li = Tables(spark, sfDir).lineitem
      .select(col("l_returnflag"),
        expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)").as("cents"),
        pmod(Portable.hash64(
          concat(col("l_orderkey"), lit("_"), col("l_linenumber")), salt = "aqp"),
          lit(100L)).as("bucket"))
    val exact = li.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_exact"), sum(col("cents")).as("exact_cents"))
    val samp = li.filter(col("bucket") < aqpRatePct)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_sample"),
        (sum(col("cents")) * lit(100L / aqpRatePct)).as("est_cents"),
        sum(col("cents").cast("decimal(38,0)") * col("cents").cast("decimal(38,0)"))
          .as("sx2"))
    exact.join(samp, "l_returnflag")
      .select(col("l_returnflag"), col("n_exact"), col("n_sample"),
        col("exact_cents"), col("est_cents"),
        round(abs(col("est_cents") - col("exact_cents")).cast("double")
          / col("exact_cents").cast("double"), 6).as("rel_err"),
        round(sqrt(col("sx2").cast("double")
          * lit((100.0 - aqpRatePct) / aqpRatePct)) / lit(100.0), 0)
          .as("se_dollars"))
  }

  val qAqpSql: String = {
    import graft.functions.Portable
    val h = Portable.hash64Sql(
      "CAST(l_orderkey AS VARCHAR) || '_' || CAST(l_linenumber AS VARCHAR)", "aqp")
    s"""WITH li AS (
       |  SELECT l_returnflag,
       |    CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents,
       |    $h % 100 AS bucket
       |  FROM lineitem),
       |exact AS (
       |  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_exact,
       |    CAST(sum(cents) AS BIGINT) AS exact_cents
       |  FROM li GROUP BY 1),
       |samp AS (
       |  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_sample,
       |    CAST(sum(cents) * ${100L / aqpRatePct} AS BIGINT) AS est_cents,
       |    CAST(sum(CAST(cents AS DECIMAL(38,0)) * CAST(cents AS DECIMAL(38,0)))
       |      AS DECIMAL(38,0)) AS sx2
       |  FROM li WHERE bucket < $aqpRatePct GROUP BY 1)
       |SELECT exact.l_returnflag, n_exact, n_sample, exact_cents, est_cents,
       |  round(CAST(abs(est_cents - exact_cents) AS DOUBLE)
       |    / CAST(exact_cents AS DOUBLE), 6) AS rel_err,
       |  round(sqrt(CAST(sx2 AS DOUBLE)
       |    * ${(100.0 - aqpRatePct) / aqpRatePct}) / 100.0, 0) AS se_dollars
       |FROM exact JOIN samp ON exact.l_returnflag = samp.l_returnflag""".stripMargin
  }

  // ---- pseudonymization -----------------------------------------------------

  /** Tokenization salt — rotating it re-keys every token consistently. */
  val pseudoSalt = "graft_v1:"

  /** Deterministic pseudonymization with referential integrity — the
    * release pattern between raw data and the q_kanon/q_ldiv gates: the
    * natural key (custkey) is replaced by a salted one-way token
    * md5(salt ‖ key) in EVERY table independently, and analytics still
    * join — the released view here links orders to customer segments
    * through tokens alone, with the natural key nowhere in the output.
    * Consistency is the whole point: equal keys → equal tokens across
    * tables, runs, and engines; rotating the salt re-keys the entire
    * release. Scale shape: token derivation is per-row codegen'd scan math
    * (zero extra passes); the join keys on the token, which preserves the
    * natural key's equality structure exactly — same cardinalities, same
    * co-partitioned equi-join, no plan change from pseudonymizing. Money
    * stays exact BIGINT cents. */
  def qPseudonym(spark: SparkSession, sfDir: String): DataFrame = {
    val t = Tables(spark, sfDir)
    val c = t.customer.select(
      md5(concat(lit(pseudoSalt), col("c_custkey").cast("string"))).as("cust_token"),
      col("c_mktsegment"))
    val o = t.orders.select(
      md5(concat(lit(pseudoSalt), col("o_custkey").cast("string"))).as("cust_token"),
      expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)").as("cents"))
    c.join(o, Seq("cust_token"), "left")
      .groupBy(col("cust_token"), col("c_mktsegment"))
      .agg(count(col("cents")).as("n_orders"),
        coalesce(sum(col("cents")), lit(0L)).as("cents_total"))
  }

  val qPseudonymSql: String =
    s"""WITH c AS (
       |  SELECT md5('$pseudoSalt' || CAST(c_custkey AS VARCHAR)) AS cust_token,
       |    c_mktsegment
       |  FROM customer),
       |o AS (
       |  SELECT md5('$pseudoSalt' || CAST(o_custkey AS VARCHAR)) AS cust_token,
       |    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
       |  FROM orders)
       |SELECT c.cust_token, c_mktsegment,
       |  CAST(count(cents) AS BIGINT) AS n_orders,
       |  coalesce(CAST(sum(cents) AS BIGINT), 0) AS cents_total
       |FROM c LEFT JOIN o ON c.cust_token = o.cust_token
       |GROUP BY 1, 2""".stripMargin

  // ---- incremental join-view maintenance -----------------------------------

  /** Base/delta split date for [[qIncrJoin]]. */
  val incrCutoff = "1997-01-01"

  /** Incremental JOIN-view maintenance — ev_incr_agg maintains an
    * aggregation from its delta; this maintains a JOIN view, the harder
    * standing-pipeline case (delta rows join against the OTHER side's full
    * history). The algebra is the classic bilinear delta rule
    * (differential/IVM: Δ(A⋈B) = ΔA⋈B₀ ∪ A₀⋈ΔB ∪ ΔA⋈ΔB): the standing
    * per-priority view (items, quantity, cents) merges with the aggregated
    * delta contributions instead of re-joining history with history. At
    * 100 TB the base⋈base join — the term that dwarfs all others — is the
    * one term NEVER recomputed; each refresh pays O(Δ·⋈-selectivity).
    * Every predicate lands on the raw date columns (scan pushdown on both
    * sides); all measures are mergeable exact BIGINTs (cents via decimal,
    * no float summation), so the merged view hash-matches the full
    * recompute the oracle runs. */
  def qIncrJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val t = Tables(spark, sfDir)
    val cut = lit(incrCutoff).cast("timestamp")
    val cents = (col("l_extendedprice").cast("decimal(18,2)") * 100)
      .cast("long")
    def agg(j: DataFrame): DataFrame = j
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity").cast("long")).as("qty_total"),
        sum(cents).as("cents_total"))
    val a0 = t.orders.filter(col("o_orderdate") < cut)
    val dA = t.orders.filter(col("o_orderdate") >= cut)
    val b0 = t.lineitem.filter(col("l_shipdate") < cut)
    val dB = t.lineitem.filter(col("l_shipdate") >= cut)
    val key = col("o_orderkey") === col("l_orderkey")
    val standing = agg(a0.join(b0, key)) // the view that persists between refreshes
    val deltas = agg(
      dA.join(b0, key)
        .unionByName(a0.join(dB, key))
        .unionByName(dA.join(dB, key)))
    standing.unionByName(deltas)
      .groupBy(col("o_orderpriority")) // mergeable-measure view merge
      .agg(sum(col("n_items")).as("n_items"),
        sum(col("qty_total")).as("qty_total"),
        sum(col("cents_total")).as("cents_total"))
  }

  /** Oracle = the full recompute the delta rule must equal. */
  val qIncrJoinSql: String =
    """SELECT o_orderpriority,
      |  count(*) AS n_items,
      |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_total,
      |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents_total
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |GROUP BY 1""".stripMargin

  // ---- sketch-based join-cardinality estimation ----------------------------

  /** Sample size for [[qJoinCard]]'s per-side KMV key samples. */
  val jcK = 256

  /** Join-size estimation by KMV sample-and-probe (Beyer et al., SIGMOD'07
    * §5) — the cost-based-optimizer primitive: estimate |A⋈B| WITHOUT
    * running the join, from (a) each side's k minimum-hash key sample and
    * (b) the true frequencies of ONLY the sampled keys. |A⋈B| =
    * Σ_keys fA·fB; the KMV sample is a θ/U uniform sample of the DISTINCT
    * key space, so Σ over common sampled keys below θ, scaled by U/θ, is
    * unbiased. Scale shape: two TakeOrdered partial top-ks (no global
    * sort), two scans with an IN-broadcast probe filter for the sampled
    * keys' frequencies (the filter rides the scan — no full groupBy of the
    * key space, which is the whole point), and arithmetic over ≤k rows.
    * The exact join count rides along as the audit column. */
  def qJoinCard(spark: SparkSession, sfDir: String): DataFrame = {
    val t = Tables(spark, sfDir)
    def sample(df: DataFrame, key: String): DataFrame =
      df.select(col(key).as("k")).distinct()
        .withColumn("h", graft.functions.Portable.hash64(col("k").cast("string")))
        .orderBy(col("h").asc).limit(jcK)
    val sa = sample(t.orders, "o_orderkey").persist()
    val sb = sample(t.lineitem, "l_orderkey").persist()
    def theta(s: DataFrame): Column = {
      val r = s.agg(count(lit(1)), max(col("h"))).head()
      if (r.getLong(0) < jcK) expr("CAST(power(2.0, 60) AS BIGINT)")
      else lit(r.getLong(1))
    }
    val th = least(theta(sa), theta(sb))
    // same key → same hash, so sa's h column is THE hash; drop sb's copy
    val common = sa.join(sb.select(col("k")), "k").filter(col("h") < th)
      .select(col("k"), col("h")).persist()
    val fa = t.orders.join(broadcast(common.select(col("k"))),
        col("o_orderkey") === col("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("fa"))
    val fb = t.lineitem.join(broadcast(common.select(col("k").as("k2"))),
        col("l_orderkey") === col("k2"))
      .groupBy(col("k2")).agg(count(lit(1)).as("fb"))
    val probe = fa.join(fb, col("k") === col("k2"))
      .agg(count(lit(1)).as("sample_hits"), sum(col("fa") * col("fb")).as("s"))
    val exact = t.orders.join(t.lineitem, col("o_orderkey") === col("l_orderkey"))
      .agg(count(lit(1)).as("exact"))
    probe.crossJoin(exact)
      .select(col("sample_hits"),
        round(col("s").cast("double") * expr("power(2.0, 60)") / th, 4).as("est"),
        col("exact"))
  }

  /** The same sample-and-probe replayed relationally. */
  val qJoinCardSql: String = {
    def side(table: String, key: String, cte: String): String =
      s"""${cte}d AS (SELECT DISTINCT $key AS k FROM $table),
         |${cte}h AS (SELECT k, CAST('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 15) AS BIGINT) AS h FROM ${cte}d),
         |$cte AS (SELECT k, h, row_number() OVER (ORDER BY h) AS r,
         |           count(*) OVER () AS nd FROM ${cte}h QUALIFY r <= $jcK)""".stripMargin
    s"""WITH ${side("orders", "o_orderkey", "sa")},
       |${side("lineitem", "l_orderkey", "sb")},
       |th AS (SELECT least(
       |    (SELECT CASE WHEN max(nd) < $jcK THEN CAST(power(2.0, 60) AS BIGINT)
       |            ELSE max(h) END FROM sa),
       |    (SELECT CASE WHEN max(nd) < $jcK THEN CAST(power(2.0, 60) AS BIGINT)
       |            ELSE max(h) END FROM sb)) AS th),
       |common AS (SELECT sa.k, sa.h FROM sa JOIN sb ON sb.k = sa.k
       |           WHERE sa.h < (SELECT th FROM th)),
       |fa AS (SELECT o_orderkey AS k, count(*) AS fa FROM orders
       |       WHERE o_orderkey IN (SELECT k FROM common) GROUP BY 1),
       |fb AS (SELECT l_orderkey AS k, count(*) AS fb FROM lineitem
       |       WHERE l_orderkey IN (SELECT k FROM common) GROUP BY 1),
       |probe AS (SELECT count(*) AS sample_hits,
       |            CAST(sum(fa * fb) AS BIGINT) AS s
       |          FROM fa JOIN fb ON fb.k = fa.k),
       |ex AS (SELECT count(*) AS exact FROM orders
       |       JOIN lineitem ON o_orderkey = l_orderkey)
       |SELECT probe.sample_hits,
       |  round(CAST(probe.s AS DOUBLE) * power(2.0, 60) / (SELECT th FROM th), 4) AS est,
       |  ex.exact
       |FROM probe, ex""".stripMargin
  }

  // ---- skyline (Pareto front) ----------------------------------------------

  /** Skyline / Pareto front — "newest order at every price point": the
    * multi-criteria shortlist query (Börzsönyi et al., ICDE'01). A row
    * (cents, date) survives iff no other order is both ≤ price and ≥ date
    * with one strict. The textbook formulation is a quadratic NOT-EXISTS
    * self-join — which is exactly what the oracle runs; the ENGINE instead
    * uses the sort-scan identity (on distinct pairs, sorted by price asc /
    * date desc, a row is dominated iff the running max date over strictly
    * preceding rows ≥ its own): one distinct + ONE window pass, O(n log n)
    * and 100 TB-shaped vs the oracle's O(n²) — same rows, proven by hash.
    * Money compares in exact cents so dominance ties are exact, not
    * float-fuzzy. */
  def qSkyline(spark: SparkSession, sfDir: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
      .orderBy(col("cents").asc, col("date_us").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    Tables(spark, sfDir).orders
      .select((col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").as("cents"),
        graft.epochUs(col("o_orderdate")).as("date_us"))
      .distinct()
      .withColumn("m", max(col("date_us")).over(W))
      .filter(col("m").isNull || col("m") < col("date_us"))
      .select(col("cents"), col("date_us"))
  }

  /** The quadratic dominance spec the window identity must equal. */
  val qSkylineSql: String =
    """WITH p AS (
      |  SELECT DISTINCT
      |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
      |    epoch_us(o_orderdate) AS date_us
      |  FROM orders)
      |SELECT cents, date_us FROM p a
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM p b
      |  WHERE b.cents <= a.cents AND b.date_us >= a.date_us
      |    AND (b.cents < a.cents OR b.date_us > a.date_us))""".stripMargin

  /** Bloom-pruned join — the runtime-filter pattern for 100 TB facts
    * against a selective dim: build the portable Bloom filter over the
    * qualifying orders' keys (one dim-side job, same cost class as a
    * broadcast build), pre-filter lineitem with the literal-array probe
    * BEFORE the join shuffle, then run the exact join. The filter is a
    * pure superset gate — false positives die in the join — so the result
    * is EXACTLY the plain join's (the oracle is the plain SQL join; any
    * bloom bug that changes results fails the hash). At scale this is the
    * difference between shuffling the whole fact table and shuffling only
    * maybe-matching rows: with a ~5%-selective dim the exchange carries
    * ~5% (+FP) of the fact. Spark's own runtime bloom
    * (spark.sql.optimizer.runtimeFilter) covers the same shape when
    * statistics expose the selectivity; this operator is the explicit,
    * engine-portable form. */
  def qBloomJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val t = Tables(spark, sfDir)
    // persisted: three consumers (sizing count, filter build, the exact
    // join) would each re-run the orders scan otherwise
    val dim = t.orders
      .filter(col("o_orderstatus") === "F" && col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), col("o_orderdate"))
      .persist()
    // ~9.6 bits/key -> ~1% FP at 3 hashes; the count job is dim-side only
    val nWords = math.max(16L, dim.count() * 10 / 63 + 1).toInt
    val bloom = graft.functions.BloomFilter.build(dim, col("o_orderkey").cast("string"), nWords)
    t.lineitem
      .filter(graft.functions.BloomFilter.mayContain(col("l_orderkey").cast("string"), bloom))
      .join(dim, col("l_orderkey") === col("o_orderkey"))
      .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("month"))
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_extendedprice").cast("decimal(12,2)") *
          (lit(1).cast("decimal(3,2)") - col("l_discount").cast("decimal(4,2)"))), 2)
          .cast("double").as("revenue"))
  }

  /** The PLAIN join — the bloom must be result-invisible. */
  val qBloomJoinSql: String =
    """SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
      |  count(*) AS n_items,
      |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))
      |    * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderstatus = 'F' AND o_orderpriority = '1-URGENT'
      |GROUP BY 1""".stripMargin

  /** Temporal (validity-interval) join — enrich each view event with the
    * SCD2 tier version valid AT event time, the event-time-correct dim
    * lookup every warehouse needs once dims change under it (a plain join
    * to "current tier" silently backdates history). The dim is q_scd2's
    * output; the join is an equi-join on user_id with the interval bound
    * as a residual predicate inside the SAME co-partitioning — one
    * shuffle each side, no range-join explosion, because versions within
    * a user are few. Aggregated to per-tier views so the check output
    * stays bounded. */
  def qTemporalJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val dim = qScd2(spark, sfDir)
    val views = Tables(spark, sfDir).events
      .filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), unix_micros(col("ts")).as("v_ts_us"))
    views.join(dim,
        col("v_user") === col("user_id") &&
        col("v_ts_us") >= col("valid_from_us") &&
        (col("valid_to_us").isNull || col("v_ts_us") < col("valid_to_us")))
      .groupBy(col("tier"))
      .agg(count(lit(1)).as("n_views"),
        countDistinct(col("v_user")).as("n_users"))
  }

  val qTemporalJoinSql: String =
    s"""WITH scd AS ($qScd2Sql),
       |v AS (
       |  SELECT user_id AS v_user, epoch_us(CAST(ts AS TIMESTAMP)) AS v_ts_us
       |  FROM events WHERE event_type = 'view')
       |SELECT tier, CAST(count(*) AS BIGINT) AS n_views,
       |  CAST(count(DISTINCT v_user) AS BIGINT) AS n_users
       |FROM v JOIN scd ON v_user = user_id
       |  AND v_ts_us >= valid_from_us
       |  AND (valid_to_us IS NULL OR v_ts_us < valid_to_us)
       |GROUP BY 1""".stripMargin

  /** Market-basket pair mining — the A-priori first pass (Agrawal &
    * Srikant VLDB'94) behind co-purchase recommenders and cross-sell
    * reports: for every pair of parts bought in the same order, support
    * (co-occurring orders), each part's own order count, and lift
    * (support·N / (cnt_a·cnt_b) — how far above independence the pair
    * sits). Scale shape: the pair generator is a SELF-join co-partitioned
    * on l_orderkey, never a cartesian — per-order fan-out is bounded by
    * items-per-order (≤7 in this schema, k²/2 pairs per order), so pair
    * volume is linear in lineitems; the (pa, pb) support agg takes
    * map-side partials; the support≥2 threshold shrinks the output before
    * the per-part count joins (two equi-joins of a small pair table
    * against the bounded part-count dim); N is a one-row broadcast. Lift
    * is ONE double division of exact-BIGINT operands rounded 6dp. */
  def qBasket(spark: SparkSession, sfDir: String): DataFrame = {
    // four consumers (both self-join sides, the marginal counts, N) —
    // persist or the distinct recomputes per consumer (4 scans)
    // (r9 note: repartition(ok)-before-distinct to make the self-join
    // exchange-free MEASURED slower — it shuffles raw rows where the
    // distinct's map-side partial dedup shuffled collapsed ones.)
    // (r10 note: collect_set(pk)-per-order + map-side pair explode — one
    // ok-keyed exchange instead of distinct + self-join — ALSO measured
    // ~10-15% slower in interleaved A/B (1.96→2.13 s min-of-3): the HOF
    // pair generator is a Generate outside codegen and collect_set is an
    // ObjectHashAggregate, which together cost more than the second
    // exchange saves at this items-per-order (≤7). Reverted; re-test if
    // basket width ever grows.)
    val op = Tables(spark, sfDir).lineitem
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct().persist()
    val pairs = op.select(col("ok"), col("pk").as("pa"))
      .join(op.select(col("ok"), col("pk").as("pb")), "ok")
      .filter(col("pa") < col("pb"))
      .groupBy(col("pa"), col("pb")).agg(count(lit(1)).as("support"))
      .filter(col("support") >= 2)
    val cnt = op.groupBy(col("pk")).agg(count(lit(1)).as("cnt"))
    val n = op.select(countDistinct(col("ok")).as("n_orders"))
    pairs
      .join(cnt.select(col("pk").as("pa"), col("cnt").as("cnt_a")), "pa")
      .join(cnt.select(col("pk").as("pb"), col("cnt").as("cnt_b")), "pb")
      .join(broadcast(n))
      .select(col("pa"), col("pb"), col("support"), col("cnt_a"), col("cnt_b"),
        col("n_orders"),
        round((col("support") * col("n_orders")).cast("double") /
          (col("cnt_a") * col("cnt_b")).cast("double"), 6).as("lift"))
  }

  val qBasketSql: String =
    """WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |pairs AS (
      |  SELECT a.pk AS pa, b.pk AS pb, CAST(count(*) AS BIGINT) AS support
      |  FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
      |  GROUP BY 1, 2 HAVING count(*) >= 2),
      |cnt AS (SELECT pk, CAST(count(*) AS BIGINT) AS cnt FROM op GROUP BY 1),
      |n AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_orders FROM op)
      |SELECT pa, pb, support, ca.cnt AS cnt_a, cb.cnt AS cnt_b, n_orders,
      |  round(CAST(support * n_orders AS DOUBLE)
      |    / CAST(ca.cnt * cb.cnt AS DOUBLE), 6) AS lift
      |FROM pairs JOIN cnt ca ON pairs.pa = ca.pk
      |  JOIN cnt cb ON pairs.pb = cb.pk CROSS JOIN n""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_basket" -> (qBasket _),
    "q_bloom_join" -> (qBloomJoin _),
    "q_temporal_join" -> (qTemporalJoin _),
    "q_skyline" -> (qSkyline _),
    "q_join_card" -> (qJoinCard _),
    "q_incr_join" -> (qIncrJoin _),
    "q_kanon" -> (qKanon _),
    "q_ldiv" -> (qLdiv _),
    "q_tclose" -> (qTclose _),
    "q_dp_counts" -> (qDpCounts _),
    "q_table_hash" -> (qTableHash _),
    "q_fd_discover" -> (qFdDiscover _),
    "q_pseudonym" -> (qPseudonym _),
    "q_log_compact" -> (qLogCompact _),
    "q_feature_join" -> (qFeatureJoin _),
    "q_aqp" -> (qAqp _),
    "q_unpivot" -> (qUnpivot _),
    "q_setops" -> (qSetops _),
    "q_listagg" -> (qListagg _),
    "q_histogram" -> (qHistogram _),
    "q_dq_checks" -> (qDqChecks _),
    "q_bucketed_join" -> (qBucketedJoin _),
    "q_profile" -> (qProfile _),
    "q_snapshot_diff" -> (qSnapshotDiff _),
    "q_zorder" -> (qZorder _),
    "q_compaction" -> (qCompaction _),
    "q_range_plan" -> (qRangePlan _),
    "q_merge_upsert" -> (qMergeUpsert _),
    "q_grouping_sets" -> (qGroupingSets _),
    "q_scd2" -> (qScd2 _),
    "q_running" -> (qRunning _),
    "q_cube" -> (qCube _),
    "q_salted_agg" -> (qSaltedAgg _),
    "q_salted_join" -> (qSaltedJoin _),
    "q_skew_probe" -> (qSkewProbe _),
    "q_pivot" -> (qPivot _),
    "q_asof" -> (qAsof _),
    "q_corr_subq" -> (qCorrSubq _),
    "q1_agg" -> (q1Agg _),
    "q_mv_rewrite" -> (mvRewriteQ _),
    "q3_join" -> (q3Join _),
    "q5_join" -> (q5Join _),
    "q_window" -> (qWindow _),
    "q_rollup" -> (qRollup _),
    "q_semi_anti" -> (qSemiAnti _),
    "ev_topk_users" -> (evTopkUsers _))

  def oracleSql: Map[String, String] = Map(
    "q_basket" -> qBasketSql,
    "q_bloom_join" -> qBloomJoinSql,
    "q_temporal_join" -> qTemporalJoinSql,
    "q_kanon" -> qKanonSql,
    "q_ldiv" -> qLdivSql,
    "q_tclose" -> qTcloseSql,
    "q_dp_counts" -> qDpCountsSql,
    "q_table_hash" -> qTableHashSql,
    "q_fd_discover" -> qFdDiscoverSql,
    "q_pseudonym" -> qPseudonymSql,
    "q_log_compact" -> qLogCompactSql,
    "q_feature_join" -> qFeatureJoinSql,
    "q_aqp" -> qAqpSql,
    "q_unpivot" -> qUnpivotSql,
    "q_setops" -> qSetopsSql,
    "q_listagg" -> qListaggSql,
    "q_histogram" -> qHistogramSql,
    "q_dq_checks" -> qDqChecksSql,
    "q_bucketed_join" -> qBucketedJoinSql,
    "q_profile" -> qProfileSql,
    "q_snapshot_diff" -> qSnapshotDiffSql,
    "q_zorder" -> qZorderSql,
    "q_compaction" -> qCompactionSql,
    "q_range_plan" -> qRangePlanSql,
    "q_merge_upsert" -> qMergeUpsertSql,
    "q_grouping_sets" -> qGroupingSetsSql,
    "q_scd2" -> qScd2Sql,
    "q_running" -> qRunningSql,
    "q_cube" -> qCubeSql,
    "q_salted_agg" -> qSaltedAggSql,
    "q_salted_join" -> qSaltedJoinSql,
    "q_skew_probe" -> qSkewProbeSql,
    "q_pivot" -> qPivotSql,
    "q_asof" -> qAsofSql,
    "q_corr_subq" -> qCorrSubqSql,
    "q1_agg" -> q1AggSql,
    "q_mv_rewrite" -> mvRewriteSql,
    "q3_join" -> q3JoinSql,
    "q5_join" -> q5JoinSql,
    "q_window" -> qWindowSql,
    "q_rollup" -> qRollupSql,
    "q_semi_anti" -> qSemiAntiSql,
    "ev_topk_users" -> evTopkUsersSql,
    "q_incr_join" -> qIncrJoinSql,
    "q_skyline" -> qSkylineSql,
    "q_join_card" -> qJoinCardSql)
}
