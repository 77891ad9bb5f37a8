package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Core analytic queries over the driver's TPC-H-ish tables.
  *
  * These exercise the query surface a columnar engine exists to serve
  * (scan → filter → join → aggregate → window → top-k) and double as the
  * bench headliners. Money aggregates follow the determinism contract in
  * [[Q]]: exact-decimal sums, rounded before the final DOUBLE cast, and a
  * total ORDER BY, so Spark and the DuckDB oracle hash-match bit-for-bit.
  *
  * Scale notes (100 TB framing): every query here is a pure declarative
  * plan — filters/projections reach the scan, aggregations are partial
  * (map-side combine), small dimensions are broadcast explicitly, and no
  * driver-side loop touches data.
  */
object CoreQueries extends QueryPack {

  /** Shared-text query: the identical ANSI SQL runs through Catalyst and
    * through DuckDB, eliminating any semantic drift between the two sides.
    */
  private def shared(name: String, text: String): Q =
    Q(name, (s, dir) => { Tables.registerAll(s, dir); s.sql(text) }, Some(text))

  // ---------------------------------------------------------------- q1
  private val q1Sql = s"""
    |SELECT l_returnflag, l_linestatus,
    |  ${dsum("l_quantity")} AS sum_qty,
    |  ${dsum("l_extendedprice")} AS sum_base_price,
    |  ${dsum("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
    |  ${dsum("l_extendedprice * (1 - l_discount) * (1 + l_tax)")} AS sum_charge,
    |  ${davg("l_quantity")} AS avg_qty,
    |  ${davg("l_extendedprice")} AS avg_price,
    |  ${davg("l_discount")} AS avg_disc,
    |  COUNT(*) AS count_order
    |FROM lineitem
    |WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
    |GROUP BY l_returnflag, l_linestatus
    |ORDER BY l_returnflag, l_linestatus
    |""".stripMargin.trim

  // ---------------------------------------------------------------- q6
  private val q6Sql = s"""
    |SELECT ${dsum("l_extendedprice * l_discount")} AS revenue, COUNT(*) AS n_rows
    |FROM lineitem
    |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
    |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
    |""".stripMargin.trim

  // ---------------------------------------------------------------- q5
  private val q5Sql = s"""
    |SELECT r_name, n_name, ${dsum("l_extendedprice * (1 - l_discount)")} AS revenue,
    |  COUNT(*) AS n_items
    |FROM lineitem
    |JOIN orders ON l_orderkey = o_orderkey
    |JOIN customer ON o_custkey = c_custkey
    |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    |JOIN nation ON s_nationkey = n_nationkey
    |JOIN region ON n_regionkey = r_regionkey
    |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    |GROUP BY r_name, n_name
    |ORDER BY r_name, n_name
    |""".stripMargin.trim

  // ------------------------------------------------------- orders CASE
  private val qCaseSql = s"""
    |SELECT o_orderpriority,
    |  COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_f,
    |  COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_o,
    |  COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_p,
    |  COUNT(*) AS n_orders,
    |  ${dsum("o_totalprice")} AS total_price
    |FROM orders
    |GROUP BY o_orderpriority
    |ORDER BY o_orderpriority
    |""".stripMargin.trim

  // ---------------------------------------------------- events hourly
  private val qEventsSql = s"""
    |SELECT date_trunc('hour', ts) AS hour_ts, event_type,
    |  COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users,
    |  ${dsum("value")} AS total_value
    |FROM events
    |GROUP BY date_trunc('hour', ts), event_type
    |ORDER BY hour_ts, event_type
    |""".stripMargin.trim

  // ----------------------------------------------- DataFrame-API side
  /** TPC-H Q3-style shipping priority: two joins (one broadcast), decimal
    * revenue, deterministic top-10.
    */
  private def q3(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.load(s, dir, "lineitem")
    val ord = Tables.load(s, dir, "orders")
    val cust = Tables.load(s, dir, "customer").filter($"c_mktsegment" === "BUILDING")
    li.join(ord, $"l_orderkey" === $"o_orderkey")
      .join(broadcast(cust), $"o_custkey" === $"c_custkey")
      .filter($"o_orderdate" < expr("TIMESTAMP '1996-06-30 00:00:00'") &&
              $"l_shipdate" > expr("TIMESTAMP '1996-06-30 00:00:00'"))
      .groupBy($"l_orderkey", $"o_orderdate", $"o_orderpriority")
      .agg(expr(dsum("l_extendedprice * (1 - l_discount)")).as("revenue"))
      .orderBy(desc("revenue"), asc("l_orderkey"))
      .limit(10)
  }

  private val q3Oracle = s"""
    |SELECT l_orderkey, o_orderdate, o_orderpriority,
    |  ${dsum("l_extendedprice * (1 - l_discount)")} AS revenue
    |FROM lineitem
    |JOIN orders ON l_orderkey = o_orderkey
    |JOIN customer ON o_custkey = c_custkey
    |WHERE c_mktsegment = 'BUILDING'
    |  AND o_orderdate < TIMESTAMP '1996-06-30 00:00:00'
    |  AND l_shipdate > TIMESTAMP '1996-06-30 00:00:00'
    |GROUP BY l_orderkey, o_orderdate, o_orderpriority
    |ORDER BY revenue DESC, l_orderkey
    |LIMIT 10
    |""".stripMargin.trim

  /** Top-3 parts by retail price per brand — ranking window, no aggregation
    * of floats (raw values pass through bit-identically).
    */
  private def qTopParts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"p_brand")
      .orderBy($"p_retailprice".desc, $"p_partkey".asc)
    Tables.load(s, dir, "part")
      .withColumn("rank_in_brand", row_number().over(w).cast("long"))
      .filter($"rank_in_brand" <= 3)
      .select($"p_brand", $"rank_in_brand", $"p_partkey", $"p_name", $"p_retailprice")
      .orderBy($"p_brand", $"rank_in_brand")
  }

  private val qTopPartsOracle = """
    |SELECT p_brand, rank_in_brand, p_partkey, p_name, p_retailprice FROM (
    |  SELECT p_brand, p_partkey, p_name, p_retailprice,
    |    ROW_NUMBER() OVER (PARTITION BY p_brand
    |                       ORDER BY p_retailprice DESC, p_partkey) AS rank_in_brand
    |  FROM part) t
    |WHERE rank_in_brand <= 3
    |ORDER BY p_brand, rank_in_brand
    |""".stripMargin.trim

  /** Distinct cardinalities — exercises shuffle-based distinct aggregation. */
  private def qDistinct(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.load(s, dir, "lineitem").agg(
      countDistinct($"l_partkey").as("n_parts"),
      countDistinct($"l_suppkey").as("n_supps"),
      countDistinct($"l_orderkey").as("n_orders"),
      count(lit(1)).as("n_rows"))
  }

  private val qDistinctOracle = """
    |SELECT COUNT(DISTINCT l_partkey) AS n_parts,
    |       COUNT(DISTINCT l_suppkey) AS n_supps,
    |       COUNT(DISTINCT l_orderkey) AS n_orders,
    |       COUNT(*) AS n_rows
    |FROM lineitem
    |""".stripMargin.trim

  /** Per-customer running spend — window sum over exact decimal. */
  private def qRunning(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
    Tables.load(s, dir, "orders")
      .withColumn("run_dec", sum($"o_totalprice".cast("decimal(18,6)")).over(w))
      .select($"o_custkey", $"o_orderkey", $"o_orderdate",
        expr("CAST(ROUND(run_dec, 2) AS DOUBLE)").as("running_spend"),
        row_number().over(w).cast("long").as("order_seq"))
      .orderBy($"o_custkey", $"o_orderkey")
  }

  private val qRunningOracle = """
    |SELECT o_custkey, o_orderkey, o_orderdate,
    |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6)))
    |    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey), 2) AS DOUBLE)
    |    AS running_spend,
    |  ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    |    AS order_seq
    |FROM orders
    |ORDER BY o_custkey, o_orderkey
    |""".stripMargin.trim

  /** Customer balance per nation: broadcast dim join + decimal agg. */
  private def qNationBal(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.load(s, dir, "customer")
      .join(broadcast(Tables.load(s, dir, "nation")),
        $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_name")
      .agg(
        expr(dsum("c_acctbal")).as("total_bal"),
        expr(davg("c_acctbal")).as("avg_bal"),
        count(lit(1)).as("n_cust"))
      .orderBy($"n_name")
  }

  private val qNationBalOracle = s"""
    |SELECT n_name, ${dsum("c_acctbal")} AS total_bal,
    |  ${davg("c_acctbal")} AS avg_bal, COUNT(*) AS n_cust
    |FROM customer JOIN nation ON c_nationkey = n_nationkey
    |GROUP BY n_name
    |ORDER BY n_name
    |""".stripMargin.trim

  /** Semi/anti join: customers with vs without orders. */
  private def qSemiAnti(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cust = Tables.load(s, dir, "customer")
    val ord = Tables.load(s, dir, "orders")
    val withO = cust.join(ord, $"c_custkey" === $"o_custkey", "left_semi")
      .agg(count(lit(1)).as("with_orders"))
    val noO = cust.join(ord, $"c_custkey" === $"o_custkey", "left_anti")
      .agg(count(lit(1)).as("without_orders"))
    withO.crossJoin(noO)
  }

  private val qSemiAntiOracle = """
    |SELECT
    |  (SELECT COUNT(*) FROM customer c
    |    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey))
    |    AS with_orders,
    |  (SELECT COUNT(*) FROM customer c
    |    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey))
    |    AS without_orders
    |""".stripMargin.trim

  // As-of join (brief's canonical "operator Spark lacks", composed from
  // existing ops — preference (a) on the extension ladder): each event
  // picks the latest order of the same customer at-or-before its
  // timestamp. Implementation is the classic distributed as-of shape:
  // union both sides tagged, ONE shuffle on the key, sort within
  // partitions by (time, side), and carry the last non-null order id
  // forward with a rows-unbounded-preceding window — no per-row probe,
  // no range explosion; at 100 TB this is a single sort-merge pass.
  // Orders are pre-deduped per (custkey, date) so ties are well-defined
  // in both engines; the DuckDB oracle uses its native ASOF LEFT JOIN.
  private def qAsof(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.load(s, dir, "events")
      .select($"user_id", $"ts", $"event_type")
    val ord = Tables.load(s, dir, "orders")
      .groupBy($"o_custkey", $"o_orderdate")
      .agg(max($"o_orderkey").as("ok"))
    val tagged = ord.select($"o_custkey".as("k"), $"o_orderdate".as("t"),
        lit(0).as("side"), $"ok", lit(null).cast("string").as("event_type"))
      .unionByName(ev.select($"user_id".as("k"), $"ts".as("t"),
        lit(1).as("side"), lit(null).cast("long").as("ok"), $"event_type"))
    val w = Window.partitionBy($"k").orderBy($"t", $"side")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("carried", last($"ok", ignoreNulls = true).over(w))
      .filter($"side" === 1)
      .groupBy($"event_type")
      .agg(
        count(lit(1)).as("n_events"),
        count($"carried").as("n_matched"),
        sum($"carried").cast("bigint").as("sum_ok"))
      .orderBy($"event_type")
  }

  private val qAsofOracle = """
    |WITH od AS (
    |  SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS ok
    |  FROM orders GROUP BY 1, 2)
    |SELECT event_type,
    |  COUNT(*) AS n_events,
    |  COUNT(od.ok) AS n_matched,
    |  CAST(SUM(od.ok) AS BIGINT) AS sum_ok
    |FROM events e
    |ASOF LEFT JOIN od ON e.user_id = od.o_custkey AND e.ts >= od.o_orderdate
    |GROUP BY event_type
    |ORDER BY event_type
    |""".stripMargin.trim

  // Range join (the brief's other named composed operator): events per
  // order within [o_orderdate, o_orderdate + 7 days). A naive range
  // predicate would plan a nested-loop join; the scale-safe shape
  // bucketizes time by the interval width — each order probes its bucket
  // and the next (explode of exactly 2), the join is a plain equi-join
  // on (customer, bucket) with bounded fan-out, and the exact window is
  // re-filtered after. One shuffle, no quadratic blowup at 100 TB.
  private def qRangeJoin(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val weekUs = 7L * 24 * 3600 * 1000000
    val ev = Tables.load(s, dir, "events")
      .select($"user_id", expr("unix_micros(ts)").as("ts_us"))
      .withColumn("bucket", floor($"ts_us" / weekUs))
    val ord = Tables.load(s, dir, "orders")
      .select($"o_orderkey", $"o_custkey", $"o_orderpriority",
        // o_orderdate is TIMESTAMP_NTZ; session TZ is UTC so the cast is identity
        expr("unix_micros(CAST(o_orderdate AS TIMESTAMP))").as("od_us"))
    val probes = ord
      .withColumn("b0", floor($"od_us" / weekUs))
      .select($"o_orderkey", $"o_custkey", $"od_us",
        explode(array($"b0", $"b0" + 1)).as("bucket"))
    val matched = probes.join(ev,
        probes("o_custkey") === ev("user_id") && probes("bucket") === ev("bucket"))
      .filter($"ts_us" >= $"od_us" && $"ts_us" < $"od_us" + weekUs)
      .groupBy($"o_orderkey".as("ok")).agg(count(lit(1)).as("cnt"))
    ord.join(matched, ord("o_orderkey") === matched("ok"), "left")
      .groupBy($"o_orderpriority")
      .agg(
        count(lit(1)).as("n_orders"),
        sum(coalesce($"cnt", lit(0L))).cast("bigint").as("total_events"))
      .orderBy($"o_orderpriority")
  }

  private val qRangeJoinOracle = """
    |WITH m AS (
    |  SELECT o.o_orderkey, o.o_orderpriority, COUNT(e.ts) AS cnt
    |  FROM orders o LEFT JOIN events e
    |    ON e.user_id = o.o_custkey
    |   AND e.ts >= o.o_orderdate
    |   AND e.ts < o.o_orderdate + INTERVAL 7 DAY
    |  GROUP BY 1, 2)
    |SELECT o_orderpriority, COUNT(*) AS n_orders,
    |  CAST(SUM(cnt) AS BIGINT) AS total_events
    |FROM m
    |GROUP BY o_orderpriority
    |ORDER BY o_orderpriority
    |""".stripMargin.trim

  // Spark's built-in theta sketch (theta_sketch_agg, lgNomEntries 12 =
  // 4096 nominal entries: exact below that, ~1.6% relative standard
  // error above it) vs exact COUNT(DISTINCT), side by side. l_partkey
  // takes the estimation path at sf0.1 (20,000 keys); l_suppkey stays
  // exact at every sf. Round 11: three-way oracle-checked — the OUTPUT
  // carries the exact counts (any engine reproduces them) plus
  // `kmv_within_bound`, the sketch's accuracy guarantee as a 0/1 the
  // oracle pins to 1: a drifting sketch flips the bit and fails the
  // hash compare, so the guarantee itself rides the oracle gate. The
  // raw sketch values stay REQUIREd in-band (and covered by
  // SketchQueriesSpec) rather than emitted, since no other engine can
  // recompute them.
  private def qDistinctSketch(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    Tables.registerAll(s, dir)
    val out = s.sql("""
      |SELECT col_name, approx_distinct, exact_distinct,
      |  CAST(CASE WHEN ABS(approx_distinct - exact_distinct)
      |    / CAST(exact_distinct AS DOUBLE) <= 0.05 THEN 1 ELSE 0 END
      |    AS BIGINT) AS kmv_within_bound
      |FROM (
      |  SELECT 'l_partkey' AS col_name,
      |    CAST(theta_sketch_estimate(theta_sketch_agg(l_partkey, 12))
      |      AS BIGINT) AS approx_distinct,
      |    COUNT(DISTINCT l_partkey) AS exact_distinct
      |  FROM lineitem
      |  UNION ALL
      |  SELECT 'l_suppkey',
      |    CAST(theta_sketch_estimate(theta_sketch_agg(l_suppkey, 12)) AS BIGINT),
      |    COUNT(DISTINCT l_suppkey)
      |  FROM lineitem)
      |ORDER BY col_name
      |""".stripMargin.trim)
    val rows = out.collect()
    rows.foreach { r =>
      require(r.getLong(3) == 1L,
        s"theta_sketch_estimate(${r.getString(0)}) = ${r.getLong(1)} drifted > 5% " +
          s"from exact ${r.getLong(2)}")
    }
    import s.implicits._
    // the sketch value itself is engine-specific: exclude it from the
    // hashed output, keep the exact count + the guarantee bit
    rows.map(r => (r.getString(0), r.getLong(2), r.getLong(3)))
      .toSeq.toDF("col_name", "exact_distinct", "kmv_within_bound")
  }

  private val qDistinctSketchOracle = """
    |SELECT col_name, exact_distinct, CAST(1 AS BIGINT) AS kmv_within_bound
    |FROM (
    |  SELECT 'l_partkey' AS col_name,
    |    COUNT(DISTINCT l_partkey) AS exact_distinct FROM lineitem
    |  UNION ALL
    |  SELECT 'l_suppkey', COUNT(DISTINCT l_suppkey) FROM lineitem)
    |ORDER BY col_name
    |""".stripMargin.trim

  // Spark's built-in KLL quantile sketch (kll_sketch_agg_double) — the
  // scale path for percentiles: exact percentile needs a full sort (or
  // Spark's QuantileSummaries over the whole column) while KLL carries
  // O(k) doubles per partial buffer through map-side combine. The
  // sketch is randomized, so K = 400: its normalized rank error is
  // 0.0068 at 99% confidence (0.0133 at K = 200), a third of the 0.02
  // the gate REQUIREs. The rows-only check self-validates IN-BAND by
  // measuring the true normalized rank of each sketch answer with one
  // distributed conditional-count pass and REQUIRING the max rank error
  // within the sketch's bound — the guarantee itself is on the oracle
  // gate, not just in sbt (same pattern as the LSH/IVF recall
  // instruments).
  // Round 11: three-way oracle-checked. The OUTPUT is the exact
  // percentile values spelled rank-explicitly (value at ROW_NUMBER =
  // ceil(n·φ) — identical SQL in both engines, a PICKED element so no
  // cross-engine float arithmetic; percentile_disc/quantile_disc were
  // rejected because Spark's ceil(n·φ) and DuckDB's floor((n−1)·φ)+1
  // conventions diverge by one rank whenever frac(n·φ) ≤ φ) plus the
  // sketch's rank-error guarantee as a 0/1 the oracle pins to 1. The
  // sketch answers stay REQUIREd in-band (and in SketchQueriesSpec).
  private def qQuantileSketch(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    Tables.registerAll(s, dir)
    val first = s.sql("""
      |SELECT kll_sketch_get_quantile_double(
      |    kll_sketch_agg_double(l_extendedprice, 400),
      |    array(0.5D, 0.9D, 0.99D)) AS qs,
      |  COUNT(*) AS n
      |FROM lineitem
      |""".stripMargin.trim).collect()(0)
    val qs = first.getSeq[Double](0)
    val n = first.getLong(1)
    // rank-error audit: one EXTRA full conditional-count pass over the
    // fact table that feeds ONLY the require — pure metrology, so it
    // rides the Gates switch like every other in-query verification
    // (r14; Verify/opscale keep it on, bench/production skip a whole
    // corpus scan). The sketch pass above stays unconditionally: it IS
    // the operator under test.
    // With gates off `kll_within_bound` is the constant 1 (the gated
    // runs in Verify and SketchQueriesSpec hold the 0.02 bound; the
    // require here would have failed them otherwise) — same convention
    // as the ANN recall instruments, and the row is tagged in
    // Bench.gatedRows.
    val kllWithinBound: Int = if (!Gates.enabled) 1 else {
      val ranks = s.sql(s"""
        |SELECT
        |  SUM(CASE WHEN l_extendedprice <= ${qs(0)} THEN 1 ELSE 0 END) AS r50,
        |  SUM(CASE WHEN l_extendedprice <= ${qs(1)} THEN 1 ELSE 0 END) AS r90,
        |  SUM(CASE WHEN l_extendedprice <= ${qs(2)} THEN 1 ELSE 0 END) AS r99
        |FROM lineitem
        |""".stripMargin.trim).collect()(0)
      val errs = Seq(0.5, 0.9, 0.99).zipWithIndex.map { case (phi, i) =>
        math.abs(ranks.getLong(i).toDouble / n - phi)
      }
      val maxErr = errs.max
      require(maxErr <= 0.02,
        s"KLL rank error $maxErr exceeds the bound 0.02")
      1 // the require above already threw on any other outcome
    }
    s.sql(s"""
      |WITH r AS (
      |  SELECT l_extendedprice AS x,
      |    ROW_NUMBER() OVER (ORDER BY l_extendedprice) AS rn,
      |    COUNT(*) OVER () AS n
      |  FROM lineitem)
      |SELECT
      |  MAX(CASE WHEN rn = CAST(ceil(n * 0.5) AS BIGINT) THEN x END) AS p50_exact,
      |  MAX(CASE WHEN rn = CAST(ceil(n * 0.9) AS BIGINT) THEN x END) AS p90_exact,
      |  MAX(CASE WHEN rn = CAST(ceil(n * 0.99) AS BIGINT) THEN x END) AS p99_exact,
      |  CAST($kllWithinBound AS BIGINT) AS kll_within_bound,
      |  MAX(n) AS n_rows
      |FROM r
      |""".stripMargin.trim)
  }

  private val qQuantileSketchOracle = """
    |WITH r AS (
    |  SELECT l_extendedprice AS x,
    |    ROW_NUMBER() OVER (ORDER BY l_extendedprice) AS rn,
    |    COUNT(*) OVER () AS n
    |  FROM lineitem)
    |SELECT
    |  MAX(CASE WHEN rn = CAST(ceil(n * 0.5) AS BIGINT) THEN x END) AS p50_exact,
    |  MAX(CASE WHEN rn = CAST(ceil(n * 0.9) AS BIGINT) THEN x END) AS p90_exact,
    |  MAX(CASE WHEN rn = CAST(ceil(n * 0.99) AS BIGINT) THEN x END) AS p99_exact,
    |  CAST(1 AS BIGINT) AS kll_within_bound,
    |  MAX(n) AS n_rows
    |FROM r
    |""".stripMargin.trim

  // Time-series resample + gap-fill: the events stream regularized to a
  // complete per-user daily grid, with COUNT/SUM per present day and a
  // forward-filled "last known" value across the gaps — the feature-
  // engineering shape every training pipeline runs before windowed
  // models. One groupBy on (user, day), one broadcast-able day spine,
  // one per-user window for the fill: at 100 TB everything shuffles on
  // user_id exactly once. Spark fills via last_value IGNORE NULLS; the
  // DuckDB oracle fills via ASOF LEFT JOIN (greatest day ≤ grid day) —
  // two different engines' idioms REQUIREd to agree hash-exactly.
  private val qResampleSql = s"""
    |WITH daily AS (
    |  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
    |    COUNT(*) AS n, ${dsum("value")} AS v
    |  FROM events GROUP BY user_id, CAST(date_trunc('day', ts) AS DATE)),
    |span AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily),
    |days AS (SELECT explode(sequence(d0, d1, interval 1 day)) AS day FROM span),
    |grid AS (
    |  SELECT u.user_id, d.day
    |  FROM (SELECT DISTINCT user_id FROM events) u CROSS JOIN days d)
    |SELECT g.user_id, CAST(g.day AS STRING) AS day,
    |  COALESCE(daily.n, 0L) AS n_events,
    |  COALESCE(daily.v, CAST(0 AS DOUBLE)) AS daily_value,
    |  last_value(daily.v) IGNORE NULLS OVER (
    |    PARTITION BY g.user_id ORDER BY g.day
    |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
    |FROM grid g
    |LEFT JOIN daily ON g.user_id = daily.user_id AND g.day = daily.day
    |ORDER BY g.user_id, g.day
    |""".stripMargin.trim

  private val qResampleOracle = s"""
    |WITH daily AS (
    |  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
    |    COUNT(*) AS n, ${dsum("value")} AS v
    |  FROM events GROUP BY 1, 2),
    |days AS (
    |  SELECT CAST(unnest(generate_series(
    |    (SELECT MIN(day) FROM daily),
    |    (SELECT MAX(day) FROM daily), INTERVAL 1 DAY)) AS DATE) AS day),
    |grid AS (
    |  SELECT u.user_id, d.day
    |  FROM (SELECT DISTINCT user_id FROM events) u CROSS JOIN days d)
    |SELECT g.user_id, CAST(g.day AS VARCHAR) AS day,
    |  COALESCE(d2.n, 0) AS n_events,
    |  COALESCE(d2.v, 0.0) AS daily_value,
    |  a.v AS filled_value
    |FROM grid g
    |LEFT JOIN daily d2 ON g.user_id = d2.user_id AND g.day = d2.day
    |ASOF LEFT JOIN daily a ON g.user_id = a.user_id AND g.day >= a.day
    |ORDER BY g.user_id, g.day
    |""".stripMargin.trim

  // One-pass column profiler: three sketch families (Spark's built-in
  // theta distinct and KLL quantiles, graft's Misra-Gries heavy
  // hitters) riding ONE aggregation over lineitem — one scan, partials
  // map-side combined, O(k) shuffle bytes per sketch. This is the
  // data-profiling shape a 100 TB intake pipeline runs on every new
  // table; the REQUIREs pin (a) the single-scan plan, (b) each sketch
  // against its exact counterpart: theta within 5%, KLL within the 0.02
  // rank bound (K = 400, see qQuantileSketch), and MG EXACT (3 return
  // flags ≪ k=63 counters means zero decrement ever happens, so the
  // sketch degenerates to exact counts by theory).
  private def qProfileSketch(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    graft.functions.GraftFunctions.register(s)
    Tables.registerAll(s, dir)
    val one = s.sql("""
      |SELECT COUNT(*) AS n_rows,
      |  CAST(theta_sketch_estimate(theta_sketch_agg(l_partkey, 12))
      |    AS BIGINT) AS partkey_theta,
      |  kll_sketch_get_quantile_double(
      |    kll_sketch_agg_double(l_extendedprice, 400),
      |    array(0.25D, 0.5D, 0.75D)) AS price_quartiles,
      |  mg_topk(l_returnflag, 63) AS returnflag_counts
      |FROM lineitem
      |""".stripMargin.trim)
    val p = one.queryExecution.executedPlan
    val scans = (p +: p.collect {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
    }).flatMap(_.collect {
      case sc: org.apache.spark.sql.execution.FileSourceScanExec => sc
      case sc: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => sc
    })
    require(scans.length == 1,
      s"the profiler must read its table ONCE, found ${scans.length} scans:\n$p")
    val r = one.collect()(0)
    val nRows = r.getLong(0)
    val theta = r.getLong(1)
    val qs = r.getSeq[Double](2)
    val modes = r.getMap[String, Long](3)
    // sketch-accuracy audit (theta vs exact distinct, KLL rank error):
    // one EXTRA full aggregate pass over the fact table that feeds ONLY
    // the two requires — pure metrology, gated like every other
    // in-query verification (r14). The one-scan sketch pass above and
    // the exact-modes groupBy below stay unconditionally: the sketches
    // are the operator under test and the modes feed the OUTPUT.
    if (Gates.enabled) {
      val exact = s.sql(s"""
        |SELECT COUNT(DISTINCT l_partkey),
        |  SUM(CASE WHEN l_extendedprice <= ${qs(0)} THEN 1 ELSE 0 END),
        |  SUM(CASE WHEN l_extendedprice <= ${qs(1)} THEN 1 ELSE 0 END),
        |  SUM(CASE WHEN l_extendedprice <= ${qs(2)} THEN 1 ELSE 0 END)
        |FROM lineitem
        |""".stripMargin.trim).collect()(0)
      val thetaErr = math.abs(theta - exact.getLong(0).toDouble) / exact.getLong(0)
      require(thetaErr <= 0.05, s"theta sketch drifted $thetaErr from exact")
      val rankErr = Seq(0.25, 0.5, 0.75).zipWithIndex.map { case (phi, i) =>
        math.abs(exact.getLong(i + 1).toDouble / nRows - phi)
      }.max
      require(rankErr <= 0.02, s"KLL rank error $rankErr exceeds the bound 0.02")
    }
    val exactModes = s.sql(
      "SELECT l_returnflag, COUNT(*) FROM lineitem GROUP BY l_returnflag")
      .collect().map(r2 => r2.getString(0) -> r2.getLong(1)).toMap
    require(modes == exactModes,
      s"MG with k=63 over ${exactModes.size} modes must be exact: " +
        s"sketch $modes vs exact $exactModes")
    val (topMode, topN) = modes.maxBy { case (m, n) => (n, m) }
    // Round 11: three-way oracle-checked output — the exact counterparts
    // (distinct count, rank-explicit exact quartiles, mode table) any
    // engine reproduces, plus `sketches_within_bound` = the three REQUIREs
    // above as a 0/1 the oracle pins to 1. The sketch values stay in-band.
    s.sql(s"""
      |WITH r AS (
      |  SELECT l_extendedprice AS x,
      |    ROW_NUMBER() OVER (ORDER BY l_extendedprice) AS rn,
      |    COUNT(*) OVER () AS n
      |  FROM lineitem)
      |SELECT CAST($nRows AS BIGINT) AS n_rows,
      |  (SELECT COUNT(DISTINCT l_partkey) FROM lineitem) AS partkey_exact,
      |  MAX(CASE WHEN rn = CAST(ceil(n * 0.25) AS BIGINT) THEN x END) AS price_q25_exact,
      |  MAX(CASE WHEN rn = CAST(ceil(n * 0.5) AS BIGINT) THEN x END) AS price_q50_exact,
      |  MAX(CASE WHEN rn = CAST(ceil(n * 0.75) AS BIGINT) THEN x END) AS price_q75_exact,
      |  CAST(${exactModes.size} AS BIGINT) AS n_returnflags,
      |  '$topMode' AS top_returnflag,
      |  CAST($topN AS BIGINT) AS top_returnflag_n,
      |  CAST(1 AS BIGINT) AS sketches_within_bound
      |FROM r
      |""".stripMargin.trim)
  }

  private val qProfileSketchOracle = """
    |WITH r AS (
    |  SELECT l_extendedprice AS x,
    |    ROW_NUMBER() OVER (ORDER BY l_extendedprice) AS rn,
    |    COUNT(*) OVER () AS n
    |  FROM lineitem),
    |fl AS (SELECT l_returnflag AS f, COUNT(*) AS c FROM lineitem GROUP BY 1)
    |SELECT (SELECT COUNT(*) FROM lineitem) AS n_rows,
    |  (SELECT COUNT(DISTINCT l_partkey) FROM lineitem) AS partkey_exact,
    |  MAX(CASE WHEN rn = CAST(ceil(n * 0.25) AS BIGINT) THEN x END) AS price_q25_exact,
    |  MAX(CASE WHEN rn = CAST(ceil(n * 0.5) AS BIGINT) THEN x END) AS price_q50_exact,
    |  MAX(CASE WHEN rn = CAST(ceil(n * 0.75) AS BIGINT) THEN x END) AS price_q75_exact,
    |  (SELECT COUNT(*) FROM fl) AS n_returnflags,
    |  (SELECT f FROM fl ORDER BY c DESC, f DESC LIMIT 1) AS top_returnflag,
    |  (SELECT MAX(c) FROM fl) AS top_returnflag_n,
    |  CAST(1 AS BIGINT) AS sketches_within_bound
    |FROM r
    |""".stripMargin.trim

  // -------------------------------------------------------- funnel
  // Ordered-sequence funnel over the event stream: earliest view per
  // user, earliest click strictly after that view, earliest purchase
  // strictly after that click. Each stage is one aggregate + one equi-
  // join on user_id; at 100 TB all three stages share the user_id
  // shuffle key, so a cluster co-partitions them into a single exchange
  // (and the per-stage tables shrink monotonically — the purchase join
  // probes only users who already clicked). Shared-SQL, so hash-exact
  // by construction; event ts has no sub-microsecond component (checked
  // against the fixture), so strict `>` agrees between Spark's
  // microsecond timestamps and DuckDB's nanosecond ones.
  private val qFunnelSql = """
    |WITH v AS (
    |  SELECT user_id, MIN(ts) AS t_view
    |  FROM events WHERE event_type = 'view' GROUP BY user_id),
    |c AS (
    |  SELECT e.user_id, MIN(e.ts) AS t_click
    |  FROM events e JOIN v ON e.user_id = v.user_id
    |  WHERE e.event_type = 'click' AND e.ts > v.t_view
    |  GROUP BY e.user_id),
    |p AS (
    |  SELECT e.user_id, MIN(e.ts) AS t_buy
    |  FROM events e JOIN c ON e.user_id = c.user_id
    |  WHERE e.event_type = 'purchase' AND e.ts > c.t_click
    |  GROUP BY e.user_id)
    |SELECT stage, stage_ord, n_users FROM (
    |  SELECT 'view' AS stage, 1 AS stage_ord, COUNT(*) AS n_users FROM v
    |  UNION ALL
    |  SELECT 'view_click', 2, COUNT(*) FROM c
    |  UNION ALL
    |  SELECT 'view_click_purchase', 3, COUNT(*) FROM p) f
    |ORDER BY stage_ord
    |""".stripMargin.trim

  // ------------------------------------------------ cohort retention
  // Daily-cohort retention: users grouped by first-active day, counted
  // on each later day they return (offsets 0–7). Day ids are exact
  // integer division of the epoch-microsecond timestamp, so Spark and
  // DuckDB agree bit-for-bit (both see the same µs after the ns→µs
  // read truncation). 100 TB design: the cohort table and the activity
  // join share the user_id shuffle key (one co-partitioned exchange);
  // DISTINCT (user, day) collapses map-side before the rollup.
  private val dayUs = 86400000000L

  private def qRetention(s: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(s, dir)
    s.sql(s"""
      |WITH firsts AS (
      |  SELECT user_id, MIN(unix_micros(ts) DIV $dayUs) AS cohort_day
      |  FROM events GROUP BY user_id),
      |activity AS (
      |  SELECT DISTINCT e.user_id, f.cohort_day,
      |    (unix_micros(e.ts) DIV $dayUs) - f.cohort_day AS day_offset
      |  FROM events e JOIN firsts f ON e.user_id = f.user_id)
      |SELECT cohort_day, day_offset, COUNT(*) AS n_users
      |FROM activity
      |WHERE day_offset <= 7
      |GROUP BY cohort_day, day_offset
      |ORDER BY cohort_day, day_offset
      |""".stripMargin.trim)
  }

  private val qRetentionOracle = s"""
    |WITH firsts AS (
    |  SELECT user_id, MIN(epoch_us(ts) // $dayUs) AS cohort_day
    |  FROM events GROUP BY user_id),
    |activity AS (
    |  SELECT DISTINCT e.user_id, f.cohort_day,
    |    (epoch_us(e.ts) // $dayUs) - f.cohort_day AS day_offset
    |  FROM events e JOIN firsts f ON e.user_id = f.user_id)
    |SELECT cohort_day, day_offset, COUNT(*) AS n_users
    |FROM activity
    |WHERE day_offset <= 7
    |GROUP BY cohort_day, day_offset
    |ORDER BY cohort_day, day_offset
    |""".stripMargin.trim

  // ----------------------------------------------- JSON property stats
  // Semi-structured extraction: events carry a JSON `props` payload; the
  // query pulls a typed field out and aggregates per event_type — the
  // everyday log-pipeline shape (extract → cast → roll up). Spark side
  // is codegen'd get_json_object; the oracle uses DuckDB's
  // json_extract_string over the same path. Integer SUM is exact, so
  // the check is hash-exact. At 100 TB the extraction is a narrow map
  // fused into the scan stage; only the 5-group rollup shuffles.
  private def qJsonProps(s: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(s, dir)
    s.sql("""
      |SELECT event_type,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(get_json_object(props, '$.k') AS BIGINT)) AS BIGINT)
      |    AS sum_k,
      |  CAST(MIN(CAST(get_json_object(props, '$.k') AS BIGINT)) AS BIGINT)
      |    AS min_k,
      |  CAST(MAX(CAST(get_json_object(props, '$.k') AS BIGINT)) AS BIGINT)
      |    AS max_k,
      |  COUNT(DISTINCT CAST(get_json_object(props, '$.k') AS BIGINT) DIV 10)
      |    AS n_k_buckets
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type
      |""".stripMargin.trim)
  }

  private val qJsonPropsOracle = """
    |SELECT event_type,
    |  COUNT(*) AS n_events,
    |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
    |    AS sum_k,
    |  CAST(MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
    |    AS min_k,
    |  CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
    |    AS max_k,
    |  COUNT(DISTINCT CAST(json_extract_string(props, '$.k') AS BIGINT) // 10)
    |    AS n_k_buckets
    |FROM events
    |GROUP BY event_type
    |ORDER BY event_type
    |""".stripMargin.trim

  override val all: Seq[Q] = Seq(
    shared("q1_pricing", q1Sql),
    shared("q6_forecast_revenue", q6Sql),
    shared("q5_region_revenue", q5Sql),
    shared("q_orders_case", qCaseSql),
    shared("q_events_hourly", qEventsSql),
    Q("q3_shipping_priority", q3, Some(q3Oracle)),
    Q("q_top_parts_window", qTopParts, Some(qTopPartsOracle)),
    Q("q_distinct_counts", qDistinct, Some(qDistinctOracle)),
    Q("q_distinct_sketch", qDistinctSketch, Some(qDistinctSketchOracle)),
    Q("q_quantile_sketch", qQuantileSketch, Some(qQuantileSketchOracle)),
    Q("q_profile_sketch", qProfileSketch, Some(qProfileSketchOracle)),
    Q("q_resample_ffill",
      (s, dir) => { Tables.registerAll(s, dir); s.sql(qResampleSql) },
      Some(qResampleOracle)),
    Q("q_asof_join", qAsof, Some(qAsofOracle)),
    Q("q_range_join", qRangeJoin, Some(qRangeJoinOracle)),
    Q("q_running_spend", qRunning, Some(qRunningOracle)),
    Q("q_nation_balance", qNationBal, Some(qNationBalOracle)),
    Q("q_semi_anti_join", qSemiAnti, Some(qSemiAntiOracle)),
    shared("q_events_funnel", qFunnelSql),
    Q("q_user_retention", qRetention, Some(qRetentionOracle)),
    Q("q_json_props", qJsonProps, Some(qJsonPropsOracle)),
  )
}
