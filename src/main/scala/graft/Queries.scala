package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.{Coaching, Hashing, TextAnalysis, TextSplit, VectorOps}
import graft.io.{AvroCodec, CsvCache}
import graft.operators.{Dedup, MlPredict, Multimodal, SimilaritySearch}
import graft.pipeline.CoachingPipeline
import graft.providers.{MockChat, MockEmbedder, ModelRegistry}
import graft.store.BroadcastBruteForceStore

/** The operator inventory (SURVEY.md §2) as driver-checkable queries.
  *
  * Each [[Entry]]'s build runs on Spark over the test data's
  * scale-factor parquet; its oracle is ANSI SQL the correctness check
  * runs in DuckDB over the same files. Column names and row order are
  * made to match exactly; doubles are rounded; sums of integers are
  * CAST to BIGINT on the DuckDB side (it widens to HUGEINT); timestamps
  * are reduced to epoch seconds (test parquet is ns-precision, Spark is
  * µs) — see the per-query notes.
  */
object Queries {

  type Q = (SparkSession, String) => DataFrame

  private def T(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** W5's raw pick: seeded shuffle + take 3. Spark-deterministic
    * (CsvCacheSpec pins two executions equal) but engine-specific, so
    * the rag_shuffle_pick3 driver row checks a verdict over this. */
  def shufflePick3(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "documents")
      .select(col("doc_id"), col("text"))
      .orderBy(rand(42), col("doc_id"))
      .limit(3)

  // Unit-dispatch thresholds for a PLAIN-LONG timestamp column: a long
  // may be nanos (INT64 TIMESTAMP(NANOS) parquet under
  // `spark.sql.legacy.parquet.nanosAsLong`, core.Sessions), or a raw
  // BIGINT of micros/millis/seconds — all common in real pipelines. The
  // magnitudes are separated by orders of magnitude for any plausible
  // date (nanos ≥ 3e17 for 1980+, micros ≤ 7e15 through 2200, millis
  // ≤ 7e12, seconds ≤ 7e9), so per-row threshold dispatch on |value| is
  // exact away from the year-boundary fringes; integral `div` because a
  // double-precision divide is off-by-one-prone at 1e18 magnitudes.
  private val NanosFloor = 1e16.toLong
  private val MicrosFloor = 1e13.toLong
  private val MillisFloor = 1e10.toLong

  /** Session conf pinning the encoding of a PLAIN-LONG ts column:
    * `ns`/`us`/`ms`/`s`, or `auto` (default) = the magnitude heuristic.
    * The heuristic is exact away from the year-boundary fringes, but a
    * column of epoch-adjacent values (|v| < ~1970+317y in the next-finer
    * unit), pre-1970 dates, or MIXED units sits in an ambiguous band —
    * set the conf to pin those. */
  private val TsUnitConf = "spark.graft.ts.unit"

  /** SQL floor-division: `a div b` truncates toward zero, so a negative
    * non-multiple (pre-1970 nanos) lands one second LATE vs floor
    * semantics (and vs the TimestampType cast, which floors). Spark's
    * `%` follows the dividend's sign, so the correction term is exact. */
  private def floorDiv(a: String, b: Long): String =
    s"(($a div $b) - (CASE WHEN $a % $b < 0 THEN 1 ELSE 0 END))"

  private def tsUnit(df: DataFrame): String = {
    val u = df.sparkSession.conf.get(TsUnitConf, "auto")
    require(Set("auto", "ns", "us", "ms", "s").contains(u),
      s"$TsUnitConf must be one of auto|ns|us|ms|s, got '$u'")
    u
  }

  /** Epoch seconds from the events `ts` column, dispatching on the
    * RESOLVED parquet type rather than assuming one encoding:
    *
    *  - TIMESTAMP(MICROS/MILLIS) parquet (the Spark/Hive default writer
    *    output) surfaces as TIMESTAMP or TIMESTAMP_NTZ; cast through
    *    TimestampType (UTC session, core.Sessions) → long = floored
    *    epoch seconds.
    *  - a plain LongType column is `spark.graft.ts.unit` when set
    *    (ns/us/ms/s — the authoritative path for ambiguous data), else
    *    dispatches per row on magnitude (the NanosFloor/MicrosFloor/
    *    MillisFloor CASE) — a millis column silently divided as nanos
    *    would collapse every timestamp to ~0. Division floors (pre-1970
    *    values round toward -∞, matching the TimestampType cast).
    *
    * Takes the source DataFrame so the dispatch reads the actual resolved
    * schema — a real user's events table may be any of these. */
  private[graft] def tsSec(df: DataFrame, name: String): Column =
    df.schema(name).dataType match {
      case org.apache.spark.sql.types.LongType =>
        tsUnit(df) match {
          case "ns" => expr(floorDiv(name, 1000000000L))
          case "us" => expr(floorDiv(name, 1000000L))
          case "ms" => expr(floorDiv(name, 1000L))
          case "s"  => col(name)
          case _ =>
            expr(s"""CASE WHEN abs($name) >= $NanosFloor THEN ${floorDiv(name, 1000000000L)}
                          WHEN abs($name) >= $MicrosFloor THEN ${floorDiv(name, 1000000L)}
                          WHEN abs($name) >= $MillisFloor THEN ${floorDiv(name, 1000L)}
                          ELSE $name END""")
        }
      case _ => // TimestampType / TimestampNTZType (NTZ→TZ is identity under UTC)
        col(name).cast(org.apache.spark.sql.types.TimestampType)
          .cast(org.apache.spark.sql.types.LongType)
    }

  /** `ts` → TimestampType (µs precision) — for date/time formatting ops.
    * Same type + unit dispatch (and `spark.graft.ts.unit` pin) as
    * [[tsSec]]; ns→µs floors for pre-1970 consistency. */
  private[graft] def tsStamp(df: DataFrame, name: String): Column =
    df.schema(name).dataType match {
      case org.apache.spark.sql.types.LongType =>
        timestamp_micros(tsUnit(df) match {
          case "ns" => expr(floorDiv(name, 1000L))
          case "us" => col(name)
          case "ms" => col(name) * 1000
          case "s"  => col(name) * 1000000
          case _ =>
            expr(s"""CASE WHEN abs($name) >= $NanosFloor THEN ${floorDiv(name, 1000L)}
                          WHEN abs($name) >= $MicrosFloor THEN $name
                          WHEN abs($name) >= $MillisFloor THEN $name * 1000
                          ELSE $name * 1000000 END""")
        })
      case _ =>
        col(name).cast(org.apache.spark.sql.types.TimestampType)
    }

  // =====================================================================
  // Relational surface (inherited Spark ops — SURVEY §2.3/2.4/2.5/2.6;
  // the reference needs none beyond W1/W2 but the engine ships them, and
  // they are what BENCH exercises at sf0.1).
  // =====================================================================

  val relational: Seq[Entry] = Seq(

    Entry("q01_agg_summary", (s, dir) => {
      // TPC-H Q1 shape: map-side combinable groupBy, 2 shuffle-light aggs.
      T(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          round(avg(col("l_discount")), 6).as("avg_disc"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }, Some("""
      SELECT l_returnflag, l_linestatus,
             round(sum(l_quantity), 2) AS sum_qty,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
             round(avg(l_discount), 6) AS avg_disc,
             count(*) AS n
      FROM lineitem GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus""")),

    Entry("q02_filter_project", (s, dir) => {
      // F1/F2/F3: predicate + projection — both push into the parquet scan.
      T(s, dir, "events")
        .filter(col("event_type") === "purchase" && col("value") > 50.0)
        .select(col("event_id"), col("user_id"), round(col("value"), 4).as("value"))
        .orderBy(col("event_id"))
    }, Some("""
      SELECT event_id, user_id, round(value, 4) AS value
      FROM events WHERE event_type = 'purchase' AND value > 50.0
      ORDER BY event_id"""), bench = false),

    Entry("q03_join_broadcast", (s, dir) => {
      // dim-table join: part is small → explicit broadcast, no shuffle of
      // the fact side.
      T(s, dir, "lineitem")
        .join(broadcast(T(s, dir, "part")), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
          count(lit(1)).as("n"))
        .orderBy(col("p_brand"))
    }, Some("""
      SELECT p_brand, round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY p_brand ORDER BY p_brand""")),

    Entry("q04_join_multi", (s, dir) => {
      // chained dim joins: orders⋈customer shuffles on custkey, nation is
      // broadcast — revenue per nation.
      T(s, dir, "orders")
        .join(T(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(T(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(round(sum(col("o_totalprice")), 2).as("revenue"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("n_name"))
    }, Some("""
      SELECT n_name, round(sum(o_totalprice), 2) AS revenue, count(*) AS n_orders
      FROM orders JOIN customer ON o_custkey = c_custkey
                  JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_name ORDER BY n_name""")),

    Entry("q05_semi_join", (s, dir) => {
      // EXISTS as left_semi — no row multiplication, shuffle on the key.
      val big = T(s, dir, "orders").filter(col("o_totalprice") > 400000.0)
      T(s, dir, "customer")
        .join(big, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }, Some("""
      SELECT c_custkey, c_name FROM customer
      WHERE EXISTS (SELECT 1 FROM orders
                    WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)
      ORDER BY c_custkey""")),

    Entry("q06_anti_join", (s, dir) => {
      // NOT EXISTS as left_anti.
      T(s, dir, "customer")
        .join(T(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_mktsegment"))
        .orderBy(col("c_custkey"))
    }, Some("""
      SELECT c_custkey, c_mktsegment FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      ORDER BY c_custkey"""), bench = false),

    Entry("q07_window_topk_group", (s, dir) => {
      // per-group top-k: partitioned window (scales: hash-partition by
      // custkey, no global sort).
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      T(s, dir, "orders")
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("o_custkey"), col("o_orderkey"),
          round(col("o_totalprice"), 2).as("o_totalprice"), col("rnk"))
        .orderBy(col("o_custkey"), col("rnk"))
    }, Some("""
      SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS o_totalprice,
             CAST(rnk AS INT) AS rnk
      FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                   row_number() OVER (PARTITION BY o_custkey
                     ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
            FROM orders) WHERE rnk <= 3
      ORDER BY o_custkey, rnk""")),

    Entry("q08_rollup", (s, dir) => {
      // multi-level aggregates; NULL grouping keys coalesced for parity.
      T(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("sum_qty"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("n"), col("sum_qty"))
        .orderBy(col("rf"), col("ls"))
    }, Some("""
      SELECT coalesce(l_returnflag, 'ALL') AS rf,
             coalesce(l_linestatus, 'ALL') AS ls,
             count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
      FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
      ORDER BY rf, ls"""), bench = false),

    Entry("q09_union_distinct", (s, dir) => {
      T(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
        .union(T(s, dir, "supplier").select(col("s_nationkey").as("nationkey")))
        .distinct()
        .orderBy(col("nationkey"))
    }, Some("""
      SELECT c_nationkey AS nationkey FROM customer
      UNION SELECT s_nationkey FROM supplier ORDER BY nationkey"""), bench = false),

    Entry("q13_asof_join", (s, dir) => {
      // as-of join (no Spark built-in; operators.AsOfJoin): each purchase
      // event matched to the user's most recent view at-or-before it.
      // Views deduped to one row per (user, second) so ties are
      // deterministic. Oracle = DuckDB's native ASOF JOIN.
      val raw = T(s, dir, "events")
      val ev = raw
        .select(col("user_id"), col("event_id"), tsSec(raw, "ts").as("ts_sec"),
          col("event_type"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts_sec"))
      val views = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts_sec"))
        .agg(max(col("event_id")).as("view_event_id"))
      graft.operators.AsOfJoin.asOf(purchases, views,
          keyCol = "user_id", tsCol = "ts_sec", payloadCols = Seq("view_event_id"))
        .select(col("event_id"), col("user_id"), col("view_event_id"))
        .orderBy(col("event_id"))
    }, Some("""
      WITH e AS (SELECT user_id, event_id, event_type,
                        CAST(floor(date_part('epoch', ts)) AS BIGINT) AS ts_sec
                 FROM events),
      p AS (SELECT user_id, event_id, ts_sec FROM e
            WHERE event_type = 'purchase'),
      v AS (SELECT user_id, ts_sec, max(event_id) AS view_event_id
            FROM e WHERE event_type = 'view' GROUP BY user_id, ts_sec)
      SELECT p.event_id, p.user_id, v.view_event_id
      FROM p ASOF LEFT JOIN v
        ON p.user_id = v.user_id AND v.ts_sec <= p.ts_sec
      ORDER BY p.event_id""")),

    Entry("q14_range_join", (s, dir) => {
      // interval join (operators.RangeJoin): purchase/view pairs by the
      // same user within 15 minutes — bucketed equi-join, not a per-key
      // cartesian. Oracle = the plain inequality join (exact semantics).
      val raw = T(s, dir, "events")
      val ev = raw
        .select(col("user_id"), col("event_id"), tsSec(raw, "ts").as("ts_sec"),
          col("event_type"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"), col("ts_sec"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("event_id").as("view_id"), col("ts_sec"))
      graft.operators.RangeJoin.within(purchases, views,
          keyCol = "user_id", tsCol = "ts_sec", window = 900L)
        .select(col("purchase_id"), col("r_view_id").as("view_id"))
        .orderBy(col("purchase_id"), col("view_id"))
    }, Some("""
      WITH e AS (SELECT user_id, event_id, event_type,
                        CAST(floor(date_part('epoch', ts)) AS BIGINT) AS ts_sec
                 FROM events),
      p AS (SELECT user_id, event_id AS purchase_id, ts_sec FROM e
            WHERE event_type = 'purchase'),
      v AS (SELECT user_id, event_id AS view_id, ts_sec FROM e
            WHERE event_type = 'view')
      SELECT p.purchase_id, v.view_id
      FROM p JOIN v ON p.user_id = v.user_id
                   AND abs(p.ts_sec - v.ts_sec) <= 900
      ORDER BY purchase_id, view_id""")),

    Entry("q12_shipping_priority", (s, dir) => {
      // TPC-H Q3 shape: selective dim filter → two key joins → grouped
      // revenue → global top-10. Date + segment predicates push into the
      // scans; the final top-10 plans TakeOrderedAndProject.
      val cutoff = to_timestamp(lit("1998-06-01"))
      T(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        .join(T(s, dir, "orders").filter(col("o_orderdate") < cutoff),
          col("c_custkey") === col("o_custkey"))
        .join(T(s, dir, "lineitem").filter(col("l_shipdate") > cutoff),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("l_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
          col("o_orderpriority"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(10)
    }, Some("""
      SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
             o_orderpriority,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
      FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON o_orderkey = l_orderkey
      WHERE c_mktsegment = 'BUILDING'
        AND o_orderdate < TIMESTAMP '1998-06-01'
        AND l_shipdate > TIMESTAMP '1998-06-01'
      GROUP BY l_orderkey, o_orderdate, o_orderpriority
      ORDER BY revenue DESC, l_orderkey ASC LIMIT 10""")),

    Entry("q11_skew_salted_agg", (s, dir) => {
      // skew-resistant two-phase aggregation: events.event_type has a
      // handful of hot keys; salting spreads each over 16 reducers for
      // the partial phase. Result identical to the direct groupBy.
      graft.operators.Skew.saltedCountSum(
          T(s, dir, "events"), "event_type", "event_id", "value", 16)
        .select(col("event_type"), col("n"),
          round(col("sum_val"), 2).as("sum_val"))
        .orderBy(col("event_type"))
    }, Some("""
      SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_val
      FROM events GROUP BY event_type ORDER BY event_type"""), bench = false),

    Entry("q15_cube", (s, dir) => {
      // full grouping-sets lattice (CUBE) over two keys — the other half
      // of the multi-level aggregate family next to q08's ROLLUP.
      T(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("sum_price"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n"), col("sum_price"))
        .orderBy(col("status"), col("priority"))
    }, Some("""
      SELECT coalesce(o_orderstatus, 'ALL') AS status,
             coalesce(o_orderpriority, 'ALL') AS priority,
             count(*) AS n, round(sum(o_totalprice), 2) AS sum_price
      FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
      ORDER BY status, priority"""), bench = false),

    Entry("q16_percentiles", (s, dir) => {
      // exact interpolated percentiles per group (median + p90) — the
      // sort-based exact form, not a sketch, so both engines agree
      // bit-for-bit after rounding.
      T(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(
          round(expr("percentile(o_totalprice, 0.5)"), 2).as("median_price"),
          round(expr("percentile(o_totalprice, 0.9)"), 2).as("p90_price"),
          count(lit(1)).as("n"))
        .orderBy(col("o_orderpriority"))
    }, Some("""
      SELECT o_orderpriority,
             round(quantile_cont(o_totalprice, 0.5), 2) AS median_price,
             round(quantile_cont(o_totalprice, 0.9), 2) AS p90_price,
             count(*) AS n
      FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""), bench = false),

    Entry("q16_percentiles_approx", (s, dir) => {
      // q16's production twin: approx_percentile keeps a bounded-size
      // sketch per group (map-side combinable) where exact `percentile`
      // is a TypedImperativeAggregate buffering EVERY value per group —
      // 5 priority groups at 100 TB funnel all rows into 5 reducer
      // buffers. Sketch outputs are engine-specific, so the hashable
      // surface is a BOUNDED-ERROR VERDICT: each approx value must land
      // inside the exact p49–p51 / p89–p91 band (rank error ≤ 1% ≫ the
      // sketch's N/10000 guarantee), emitted as booleans next to the
      // oracle-checked group count. The interpolated band EDGES stay out
      // of the hash on purpose: a value landing on a rounding boundary
      // splits engines by one ulp (observed: 253115.545 at sf0.01 —
      // Spark 253115.54, DuckDB .55) while the verdict is
      // boundary-immune; exact-percentile engine parity itself is
      // q16_percentiles' job. DuckDB states TRUE, so a drifted sketch or
      // broken exact percentile hash-mismatches; ApproxPercentileSpec
      // additionally pins the edges and verdicts independently. At
      // 100 TB only the sketch half of this plan survives; the exact
      // half exists to adjudicate it at test scale — so Bench sets
      // graft.q16.sketchOnly=true and times the production sketch plan,
      // not the adjudication harness (the benched figure would otherwise
      // be dominated by the exact percentiles' full-buffer aggregates).
      if (s.conf.getOption("graft.q16.sketchOnly").contains("true"))
        T(s, dir, "orders")
          .groupBy(col("o_orderpriority"))
          .agg(
            expr("approx_percentile(o_totalprice, 0.5, 10000)").as("am"),
            expr("approx_percentile(o_totalprice, 0.9, 10000)").as("a9"),
            count(lit(1)).as("n"))
          .orderBy(col("o_orderpriority"))
      else T(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(
          expr("approx_percentile(o_totalprice, 0.5, 10000)").as("am"),
          expr("approx_percentile(o_totalprice, 0.9, 10000)").as("a9"),
          expr("percentile(o_totalprice, 0.49)").as("p49"),
          expr("percentile(o_totalprice, 0.51)").as("p51"),
          expr("percentile(o_totalprice, 0.89)").as("p89"),
          expr("percentile(o_totalprice, 0.91)").as("p91"),
          count(lit(1)).as("n"))
        .select(col("o_orderpriority"), col("n"),
          (col("am") >= col("p49") && col("am") <= col("p51")).as("median_in_band"),
          (col("a9") >= col("p89") && col("a9") <= col("p91")).as("p90_in_band"))
        .orderBy(col("o_orderpriority"))
    }, Some("""
      SELECT o_orderpriority, count(*) AS n,
             TRUE AS median_in_band, TRUE AS p90_in_band
      FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    Entry("q17_set_ops", (s, dir) => {
      // INTERSECT / EXCEPT complete the set-operation family next to
      // q09's UNION; both plan as aggregated joins over the key.
      val custNations = T(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
      val suppNations = T(s, dir, "supplier").select(col("s_nationkey").as("nationkey"))
      custNations.intersect(suppNations).withColumn("op", lit("both"))
        .union(custNations.except(suppNations).withColumn("op", lit("cust_only")))
        .select(col("op"), col("nationkey"))
        .orderBy(col("op"), col("nationkey"))
    }, Some("""
      SELECT 'both' AS op, nationkey FROM (
        SELECT c_nationkey AS nationkey FROM customer
        INTERSECT SELECT s_nationkey FROM supplier)
      UNION ALL
      SELECT 'cust_only', nationkey FROM (
        SELECT c_nationkey AS nationkey FROM customer
        EXCEPT SELECT s_nationkey FROM supplier)
      ORDER BY op, nationkey"""), bench = false),

    Entry("q10_sessionize", (s, dir) => {
      // gap-based sessionization (30 min) via lag + running sum — the
      // batch form of session windows; partitioned by user, no global
      // state. Timestamps reduced to epoch seconds for engine parity.
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_sec"), col("event_id"))
      val raw = T(s, dir, "events")
      raw
        .select(col("user_id"), col("event_id"), tsSec(raw, "ts").as("ts_sec"))
        .withColumn("gap", col("ts_sec") - lag(col("ts_sec"), 1).over(byUser))
        .withColumn("is_new", when(col("gap").isNull || col("gap") > 1800, 1).otherwise(0))
        .withColumn("session_id", sum(col("is_new")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"), min(col("event_id")).as("first_event"))
        .orderBy(col("user_id"), col("session_id"))
    }, Some("""
      WITH e AS (SELECT user_id, event_id,
                        CAST(floor(date_part('epoch', ts)) AS BIGINT) AS ts_sec
                 FROM events),
      g AS (SELECT user_id, event_id, ts_sec,
                   ts_sec - lag(ts_sec) OVER (PARTITION BY user_id
                     ORDER BY ts_sec, event_id) AS gap
            FROM e),
      sess AS (SELECT user_id, event_id,
                      CAST(sum(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END)
                        OVER (PARTITION BY user_id ORDER BY ts_sec, event_id
                              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
               FROM g)
      SELECT user_id, session_id, count(*) AS n_events,
             min(event_id) AS first_event
      FROM sess GROUP BY user_id, session_id
      ORDER BY user_id, session_id"""))
    ,

    Entry("q17_rolling_anomaly", (s, dir) => {
      // per-series rolling statistics + anomaly flag — the telemetry
      // monitoring face of the events stream: trailing-20-row mean and
      // sample stddev of `value` per user (PRECEDING-only frame, so the
      // flagged row never sees itself), z-score rounded to 6dp BEFORE
      // the 3σ compare so the keep/drop decision is identical across
      // engines (the radiusSearch rounding convention). One shuffle on
      // user_id; frames are bounded (20 rows), state O(frame).
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_sec"), col("event_id"))
      val frame = byUser.rowsBetween(-20, -1)
      val raw = T(s, dir, "events")
      raw
        .select(col("user_id"), col("event_id"), col("value"),
          tsSec(raw, "ts").as("ts_sec"))
        .withColumn("mu", avg(col("value")).over(frame))
        .withColumn("sd", stddev_samp(col("value")).over(frame))
        .withColumn("z",
          when(col("sd").isNull || col("sd") === 0.0d, lit(null))
            .otherwise(round((col("value") - col("mu")) / col("sd"), 6)))
        .filter(col("z") >= 3.0d)
        .select(col("user_id"), col("event_id"), round(col("mu"), 6).as("mu"),
          col("z"))
        .orderBy(col("user_id"), col("event_id"))
    }, Some("""
      WITH e AS (SELECT user_id, event_id, value,
                        CAST(floor(date_part('epoch', ts)) AS BIGINT) AS ts_sec
                 FROM events),
      r AS (SELECT user_id, event_id, value,
                   avg(value) OVER w AS mu,
                   stddev_samp(value) OVER w AS sd
            FROM e
            WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec, event_id
                         ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)),
      z AS (SELECT user_id, event_id, mu,
                   CASE WHEN sd IS NULL OR sd = 0 THEN NULL
                        ELSE round((value - mu) / sd, 6) END AS z
            FROM r)
      SELECT user_id, event_id, round(mu, 6) AS mu, z
      FROM z WHERE z >= 3.0
      ORDER BY user_id, event_id""")),

    Entry("q18_resample_ffill", (s, dir) => {
      // time-series RESAMPLING: each user's event stream downsampled to
      // one-HOUR bins (last value in the bin wins, ties to the larger
      // event_id), missing bins GENERATED (sequence explode bounded by
      // the user's own span) and forward-filled with last(ignoreNulls)
      // — the gap-fill every telemetry/feature-store pipeline runs
      // before joining series. One shuffle on user_id; per-user
      // windows bounded by the user's span.
      val raw = T(s, dir, "events")
      val e = raw.select(col("user_id"), col("event_id"),
        col("value"), (tsSec(raw, "ts") / 3600).cast("long").as("bin"))
      val wB = Window.partitionBy(col("user_id"), col("bin"))
        .orderBy(col("event_id").desc)
      val binLast = e.withColumn("rn", row_number().over(wB))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("bin"), col("value"))
      val spans = e.groupBy(col("user_id"))
        .agg(min(col("bin")).as("b0"), max(col("bin")).as("b1"))
      val grid = spans.select(col("user_id"),
        explode(sequence(col("b0"), col("b1"))).as("bin"))
      val wF = Window.partitionBy(col("user_id")).orderBy(col("bin"))
        .rowsBetween(Window.unboundedPreceding, 0)
      grid.join(binLast, Seq("user_id", "bin"), "left")
        .withColumn("filled",
          last(col("value"), ignoreNulls = true).over(wF))
        .select(col("user_id"), col("bin"), col("filled"))
        .orderBy(col("user_id"), col("bin"))
    }, Some("""
      WITH e AS (SELECT user_id, event_id, value,
                        CAST(floor(date_part('epoch', ts) / 3600) AS BIGINT)
                          AS bin
                 FROM events),
      lastv AS (SELECT user_id, bin, value FROM (
                  SELECT user_id, bin, value, row_number() OVER (
                    PARTITION BY user_id, bin ORDER BY event_id DESC) AS rn
                  FROM e) WHERE rn = 1),
      spans AS (SELECT user_id, min(bin) AS b0, max(bin) AS b1
                FROM e GROUP BY user_id),
      grid AS (SELECT user_id, unnest(generate_series(b0, b1)) AS bin
               FROM spans),
      j AS (SELECT g.user_id, g.bin, lastv.value
            FROM grid g LEFT JOIN lastv
              ON lastv.user_id = g.user_id AND lastv.bin = g.bin)
      SELECT user_id, bin,
             last_value(value IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY bin
               ROWS UNBOUNDED PRECEDING) AS filled
      FROM j ORDER BY user_id, bin""")),

    Entry("q19_rollup", (s, dir) => {
      // multi-level aggregation in ONE pass: ROLLUP over
      // (returnflag, linestatus) emits leaf rows, per-flag subtotals
      // and the grand total with a grouping_id disambiguator — the
      // OLAP cube family without re-scanning per level (Spark expands
      // to a single Expand + one aggregate; partial agg preserved).
      // Sums CAST to BIGINT pennies pre-aggregation: double-sum
      // ordering can't flip the hash and DuckDB's HUGEINT stays exact.
      T(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_linestatus"),
          round(col("l_extendedprice") * 100).cast("long").as("cents"),
          col("l_quantity"))
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("cents")).as("revenue_cents"),
          sum(col("l_quantity")).cast("long").as("sum_qty"),
          count(lit(1)).as("n_rows"),
          grouping_id().cast("int").as("gid"))
        .orderBy(col("gid"), col("l_returnflag"), col("l_linestatus"))
    }, Some("""
      SELECT l_returnflag, l_linestatus,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
               AS BIGINT) AS revenue_cents,
             CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
             count(*) AS n_rows,
             CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus)
               AS INT) AS gid
      FROM lineitem
      GROUP BY ROLLUP (l_returnflag, l_linestatus)
      ORDER BY gid, l_returnflag, l_linestatus""")),

    Entry("q20_pivot", (s, dir) => {
      // PIVOT: order counts per customer-priority row, statuses spread
      // to columns — one groupBy with conditional aggregates after
      // Catalyst lowers the pivot (no join, no second scan); the
      // explicit value list keeps the output schema static, the
      // requirement for a deterministic 100 TB job (an unlisted pivot
      // needs a driver-side distinct scan first).
      T(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .select(col("o_orderpriority"), col("F").as("n_f"),
          col("O").as("n_o"), col("P").as("n_p"))
        .orderBy(col("o_orderpriority"))
    }, Some("""
      SELECT o_orderpriority,
             count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
             count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
             count(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
      FROM orders GROUP BY o_orderpriority
      ORDER BY o_orderpriority""")),

    Entry("q22_grouping_sets", (s, dir) => {
      // arbitrary GROUPING SETS — the margin combination ROLLUP cannot
      // express: per-flag totals, per-status totals, and the grand
      // total, WITHOUT the leaf rows (one Expand over one scan emits
      // exactly the requested sets; a UNION of three aggregates would
      // rescan three times). grouping_id disambiguates the NULLs.
      T(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_linestatus"),
          round(col("l_extendedprice") * 100).cast("long").as("cents"))
        .groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("cents")).as("revenue_cents"),
          count(lit(1)).as("n_rows"),
          grouping_id().cast("int").as("gid"))
        .orderBy(col("gid"), col("l_returnflag"), col("l_linestatus"))
    }, Some("""
      SELECT l_returnflag, l_linestatus,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
               AS BIGINT) AS revenue_cents,
             count(*) AS n_rows,
             CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus)
               AS INT) AS gid
      FROM lineitem
      GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
      ORDER BY gid, l_returnflag, l_linestatus""")),

    Entry("q21_unpivot", (s, dir) => {
      // UNPIVOT (melt): the three lineitem measures spread into
      // (measure, value) rows — the wide→long reshape feeding any
      // per-metric aggregation; Catalyst lowers it to one Expand over a
      // single scan (the rollup machinery, no join, no union of
      // rescans). Values CAST to pennies/hundredths BIGINT so the
      // long format stays hash-portable.
      T(s, dir, "lineitem")
        .filter(col("l_orderkey") % 50 === 0)
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_quantity") * 100).cast("long").as("quantity"),
          round(col("l_extendedprice") * 100).cast("long").as("extendedprice"),
          round(col("l_discount") * 100).cast("long").as("discount"))
        .unpivot(Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("quantity"), col("extendedprice"), col("discount")),
          "measure", "v")
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("measure"))
    }, Some("""
      WITH base AS (SELECT l_orderkey, l_linenumber,
                           CAST(round(l_quantity * 100) AS BIGINT) AS q,
                           CAST(round(l_extendedprice * 100) AS BIGINT) AS e,
                           CAST(round(l_discount * 100) AS BIGINT) AS d
                    FROM lineitem WHERE l_orderkey % 50 = 0)
      SELECT l_orderkey, l_linenumber, measure, v FROM (
        SELECT l_orderkey, l_linenumber, 'quantity' AS measure, q AS v
        FROM base
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'extendedprice', e FROM base
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'discount', d FROM base)
      ORDER BY l_orderkey, l_linenumber, measure""")),

    Entry("q23_scd2_history", (s, dir) => {
      // SCD type-2 history (operators.Scd): per user, consecutive runs
      // of the same event_type collapse into [valid_from, valid_to)
      // validity intervals with a version number — the Kimball
      // dimension-history shape ("what was this entity's state at crawl
      // time"). Epoch-micros BIGINT bounds (the q13 epoch convention);
      // event_id tie-breaks colliding timestamps on both engines.
      val raw = T(s, dir, "events")
      val ev = raw.select(col("user_id"), col("event_id"),
        unix_micros(tsStamp(raw, "ts")).as("ts_us"), col("event_type"))
      graft.operators.Scd.scd2History(ev, "user_id", "event_type",
          "ts_us", "event_id")
        .select(col("user_id"), col("version").cast("int").as("version"),
          col("event_type"), col("valid_from").as("valid_from_us"),
          col("valid_to").as("valid_to_us"), col("n_events"),
          col("is_current"))
        .orderBy(col("user_id"), col("version"))
    }, Some("""
      WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
                        event_type FROM events),
      r AS (SELECT user_id, event_type, ts_us, event_id,
              row_number() OVER (PARTITION BY user_id
                ORDER BY ts_us, event_id)
              - row_number() OVER (PARTITION BY user_id, event_type
                  ORDER BY ts_us, event_id) AS grp
            FROM e),
      runs AS (SELECT user_id, event_type, min(ts_us) AS valid_from_us,
                      min(event_id) AS o, count(*) AS n_events
               FROM r GROUP BY user_id, event_type, grp),
      v AS (SELECT user_id, event_type, valid_from_us, n_events,
              CAST(row_number() OVER (PARTITION BY user_id
                ORDER BY valid_from_us, o) AS INT) AS version,
              lead(valid_from_us) OVER (PARTITION BY user_id
                ORDER BY valid_from_us, o) AS valid_to_us
            FROM runs)
      SELECT user_id, version, event_type, valid_from_us, valid_to_us,
             n_events, valid_to_us IS NULL AS is_current
      FROM v ORDER BY user_id, version""")),

    Entry("q10_sessionize_native", (s, dir) => {
      // the NATIVE merging session_window in batch mode — same operator
      // the streaming face (StreamingOps.sessionizeStream) runs, so its
      // semantics are oracle-pinned here once for both: windows
      // [ts, ts+gap) merge while they overlap, i.e. a new session
      // starts iff gap >= 1800 STRICTLY-exclusive-end semantics (the
      // lag-based q10_sessionize splits only on gap > 1800 — the two
      // forms differ exactly at 1800-second gaps, which is why this
      // boundary is worth a pinned oracle). Session end = last event
      // + gap, the window-end convention.
      val raw = T(s, dir, "events")
      raw
        .select(col("user_id"),
          timestamp_seconds(tsSec(raw, "ts")).as("ts"))
        .groupBy(col("user_id"),
          session_window(col("ts"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          unix_timestamp(col("sw.start")).as("session_start"),
          unix_timestamp(col("sw.end")).as("session_end"),
          col("n_events"))
        .orderBy(col("user_id"), col("session_start"))
    }, Some("""
      WITH e AS (SELECT user_id,
                        CAST(floor(date_part('epoch', ts)) AS BIGINT) AS ts_sec
                 FROM events),
      g AS (SELECT user_id, ts_sec,
                   ts_sec - lag(ts_sec) OVER (PARTITION BY user_id
                     ORDER BY ts_sec) AS gap
            FROM e),
      sess AS (SELECT user_id, ts_sec,
                      sum(CASE WHEN gap IS NULL OR gap >= 1800
                          THEN 1 ELSE 0 END)
                        OVER (PARTITION BY user_id ORDER BY ts_sec
                              ROWS UNBOUNDED PRECEDING) AS sid
               FROM g)
      SELECT user_id, min(ts_sec) AS session_start,
             max(ts_sec) + 1800 AS session_end, count(*) AS n_events
      FROM sess GROUP BY user_id, sid
      ORDER BY user_id, session_start"""))
  )

  // =====================================================================
  // Reference (RAG pipeline) surface — SURVEY §2.1-2.9 operators mapped
  // onto the driver test tables.
  // =====================================================================

  val rag: Seq[Entry] = Seq(

    Entry("rag_chunk_explode", (s, dir) => {
      // J1+M1 oracle form: fixed-stride character chunking (size 200,
      // stride 180 = size - overlap 20), exploded one row per chunk.
      // Pure catalyst sequence/transform/substr → whole-stage codegen.
      T(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(TextSplit.chunkFixedCol(col("text"), 200, 180)))
        .select(col("doc_id"),
          (col("pos").cast("long") * 180 + 1).as("start_pos"), col("col").as("chunk"))
        .orderBy(col("doc_id"), col("start_pos"))
    }, Some("""
      WITH g AS (
        SELECT doc_id, text,
               unnest(generate_series(1, greatest(length(text), 1)::BIGINT, 180)) AS s
        FROM documents)
      SELECT doc_id, s AS start_pos, substring(text, CAST(s AS INT), 200) AS chunk
      FROM g ORDER BY doc_id, start_pos""")),

    Entry("rag_splitter_udf", (s, dir) => {
      // M1 full semantics (separator-aware splitter, reference
      // generate_personalized_commands.sh:322-326) as the native
      // SplitTextGenerator. '###' separators are injected at fixed cuts
      // (60/120) identically in both engines so all three phases — split,
      // greedy merge, hard wrap — genuinely exercise on this corpus; the
      // oracle replays the greedy merge with a recursive CTE.
      val withSeps = expr("concat(substring(text, 1, 60), ' ### ', " +
        "substring(text, 61, 60), ' ### ', substring(text, 121))")
      T(s, dir, "documents")
        .withColumn("t2", withSeps)
        .select(col("doc_id"),
          org.apache.spark.sql.graft.TextExpressions.splitTextGen(col("t2")))
        .orderBy(col("doc_id"), col("chunk_idx"))
    }, Some("""
      WITH RECURSIVE
      d AS (SELECT doc_id,
                   substring(text, 1, 60) || ' ### ' || substring(text, 61, 60)
                     || ' ### ' || substring(text, 121) AS t2
            FROM documents),
      sp AS (SELECT doc_id, string_split(t2, '###') AS arr FROM d),
      -- ws: Scala String.trim strips every char <= U+0020, DuckDB's bare
      -- trim only spaces; spell out the whitespace set for parity
      pi AS (SELECT doc_id, arr, unnest(generate_series(1, len(arr))) AS i,
                    ' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12) AS ws
             FROM sp),
      p1 AS (SELECT doc_id, i, trim(arr[i], ws) AS piece FROM pi
             WHERE trim(arr[i], ws) <> ''),
      w AS (SELECT doc_id, i, piece,
                   unnest(generate_series(0,
                     CASE WHEN length(piece) <= 200 THEN 0
                          ELSE length(piece) - 21 END, 180)) AS s
            FROM p1),
      wp AS (SELECT doc_id, substring(piece, CAST(s + 1 AS INT), 200) AS piece,
                    row_number() OVER (PARTITION BY doc_id ORDER BY i, s) AS idx
             FROM w),
      m AS (
        SELECT doc_id, 1 AS i, piece AS cur, CAST(NULL AS VARCHAR) AS emitted
        FROM wp WHERE idx = 1
        UNION ALL
        SELECT wp.doc_id, m.i + 1,
               CASE WHEN length(m.cur) + 1 + length(wp.piece) <= 200
                    THEN m.cur || ' ' || wp.piece ELSE wp.piece END,
               CASE WHEN length(m.cur) + 1 + length(wp.piece) <= 200
                    THEN NULL ELSE m.cur END
        FROM m JOIN wp ON wp.doc_id = m.doc_id AND wp.idx = m.i + 1),
      fin AS (SELECT doc_id, max(i) AS n FROM m GROUP BY doc_id),
      ch AS (
        SELECT doc_id, i AS ord, emitted AS chunk FROM m WHERE emitted IS NOT NULL
        UNION ALL
        SELECT m.doc_id, m.i + 1 AS ord, m.cur AS chunk
        FROM m JOIN fin ON fin.doc_id = m.doc_id AND m.i = fin.n),
      ck AS (SELECT doc_id, ord,
                    trim(chunk, ' ' || chr(9) || chr(10) || chr(13) ||
                      chr(11) || chr(12)) AS chunk
             FROM ch
             WHERE trim(chunk, ' ' || chr(9) || chr(10) || chr(13) ||
               chr(11) || chr(12)) <> '')
      SELECT doc_id,
             CAST(row_number() OVER (PARTITION BY doc_id ORDER BY ord) - 1 AS INT)
               AS chunk_idx,
             chunk
      FROM ck ORDER BY doc_id, chunk_idx""")),

    Entry("rag_embed_mock", (s, dir) => {
      // M2: batched ml_predict embedding (mapPartitions, one provider call
      // per batch) with the deterministic mock. Vector VALUES are
      // engine-specific (seeded hash), so the hashable surface is a
      // VERDICT (the q16_percentiles_approx pattern): every embedding
      // must have the model dim and unit norm (the MockEmbedder contract
      // real vector search depends on); DuckDB states TRUE, so a broken
      // embed stage hash-mismatches. Exact values asserted in ScalaTest.
      val docs = T(s, dir, "documents").select(col("doc_id"), col("text"))
      MlPredict.withEmbedding(docs, new MockEmbedder(64), "text", "embedding")
        .select(col("doc_id"),
          (size(col("embedding")) === 64).as("dim_ok"),
          (abs(sqrt(aggregate(col("embedding"), lit(0.0),
            (acc, x) => acc + x.cast("double") * x.cast("double"))) - 1.0)
            < 0.001).as("norm_ok"))
        .orderBy(col("doc_id"))
    }, Some("""
      SELECT doc_id, TRUE AS dim_ok, TRUE AS norm_ok
      FROM documents ORDER BY doc_id"""), bench = false),

    Entry("rag_vector_topk", (s, dir) => {
      // M4/J3: VECTOR_SEARCH k=3 as exact cosine top-k — queries stay
      // partitioned, corpus broadcast, rank via per-query window.
      val emb = T(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val corpus = emb.select(col("vec_id").as("nid"), col("embedding").as("nvec"))
      VectorOps.bruteForceTopK(queries, corpus, 3, "qid", "qvec", "nid", "nvec")
        .select(col("qid"), col("nid"), col("rank").cast("int").as("rank"))
        .orderBy(col("qid"), col("rank"))
    }, Some("""
      WITH sims AS (
        SELECT q.vec_id AS qid, c.vec_id AS nid,
               list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS sim
        FROM embeddings q CROSS JOIN embeddings c
        WHERE q.vec_id < 8),
      ranked AS (
        SELECT qid, nid, row_number() OVER (PARTITION BY qid
                 ORDER BY sim DESC, nid ASC) AS rank
        FROM sims)
      SELECT qid, nid, CAST(rank AS INT) AS rank FROM ranked
      WHERE rank <= 3 ORDER BY qid, rank""")),

    Entry("rag_vector_topk_indexed", (s, dir) => {
      // M4/J3 through the PERSISTED index: same retrieval contract as
      // rag_vector_topk (same oracle — a divergence between the indexed
      // and broadcast paths hash-mismatches), but served by the
      // adaptive chooser FORCED past the broadcast budget, so the
      // executed plan is the IVF-Flat index scan: one equi-join whose
      // dynamic partition pruning reads only the probed cells, no
      // corpus broadcast.
      // numCandidates ≥ corpus probes every cell — the exact regime
      // (the reference's own 27-doc corpus under numCandidates=150 is
      // this regime) — which is what makes hash parity structural
      // rather than data-dependent; IvfPqIndexSpec pins the PRUNED
      // regime (numCandidates small → fewer partitions read).
      val emb = T(s, dir, "embeddings")
      val centroids = emb.filter(col("vec_id") < 4).orderBy(col("vec_id"))
        .select(col("embedding")).collect()
        .map(_.getSeq[Float](0).toSeq).toSeq
      val path = graft.core.TempRoots.scratch(
        s"ivfflat-${dir.replaceAll("[^0-9a-zA-Z]", "")}")
      val queries = emb.filter(col("vec_id") < 8)
      // (adaptiveIndexedTopK builds the index itself iff absent, so
      // bench reps already amortize the build — no buildOnce needed)
      graft.operators.SimilaritySearch.adaptiveIndexedTopK(
          queries, emb, k = 3, centroids, path,
          numCandidates = Int.MaxValue, broadcastBytes = 1L)
        .select(col("qid"), col("nid"), col("rank"))
        .orderBy(col("qid"), col("rank"))
    }, Some("""
      WITH sims AS (
        SELECT q.vec_id AS qid, c.vec_id AS nid,
               list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS sim
        FROM embeddings q CROSS JOIN embeddings c
        WHERE q.vec_id < 8),
      ranked AS (
        SELECT qid, nid, row_number() OVER (PARTITION BY qid
                 ORDER BY sim DESC, nid ASC) AS rank
        FROM sims)
      SELECT qid, nid, CAST(rank AS INT) AS rank FROM ranked
      WHERE rank <= 3 ORDER BY qid, rank""")),

    Entry("rag_vector_topk_sql", (s, dir) => {
      // M4/J3 spelled ENTIRELY in SQL against the same oracle as
      // rag_vector_topk: CREATE VECTOR INDEX builds + registers the
      // persisted IVF-Flat index (GraftSqlParser DDL), then the lateral
      // vector_search over it is served by IndexedVectorSearchRule as a
      // partition-pruned join — the per-row generator never evaluates
      // (SqlSurfaceSpec pins the plan shape). num_candidates ≥ corpus →
      // exact regime, so hash parity with the brute-force oracle is
      // structural, exactly like rag_vector_topk_indexed.
      val emb = T(s, dir, "embeddings")
      emb.select(col("vec_id").cast("string").as("document_id"),
          col("vec_id").cast("string").as("chunks"), col("embedding"))
        .createOrReplaceTempView("rag_sql_corpus")
      val path = graft.core.TempRoots.scratch(
        s"svi-rag-${dir.replaceAll("[^0-9a-zA-Z]", "")}")
      s.sql(s"""CREATE VECTOR INDEX rag_sql_idx ON rag_sql_corpus (embedding)
                WITH ('path' = '$path', 'cells' = '4',
                      'num_candidates' = '1000000000')""")
      emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("embedding"))
        .createOrReplaceTempView("rag_sql_queries")
      s.sql("""SELECT qid, CAST(vs.document_id AS BIGINT) AS nid, vs.rank
               FROM rag_sql_queries
               LATERAL VIEW vector_search('rag_sql_idx', 3, embedding) vs
                 AS rank, document_id, chunks, score
               ORDER BY qid, rank""")
    }, Some("""
      WITH sims AS (
        SELECT q.vec_id AS qid, c.vec_id AS nid,
               list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS sim
        FROM embeddings q CROSS JOIN embeddings c
        WHERE q.vec_id < 8),
      ranked AS (
        SELECT qid, nid, row_number() OVER (PARTITION BY qid
                 ORDER BY sim DESC, nid ASC) AS rank
        FROM sims)
      SELECT qid, nid, CAST(rank AS INT) AS rank FROM ranked
      WHERE rank <= 3 ORDER BY qid, rank"""), bench = false),

    Entry("rag_prompt_assembly", (s, dir) => {
      // E1-E5: exactly-3 rag array of named structs (1-based element_at)
      // fed into the reference's CONCAT prompt; docs i, i+1, i+2 stand in
      // for retrieval so the oracle is pure SQL. Rows with <3 following
      // neighbours (each 100-id block tail) yield NULL prompts — Flink's
      // NULL-concat semantics (SURVEY §7.4 #5), asserted here.
      // The neighbour window is PARTITIONED (doc_id div 100): a global
      // Window.orderBy would funnel every row through one partition — fine
      // for a harness, fatal at scale, so the harness models the real
      // shape too.
      val w = Window.partitionBy(expr("doc_id div 100")).orderBy(col("doc_id"))
      val withNext = T(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("text"))
        .withColumn("t1", lead(col("text"), 1).over(w))
        .withColumn("t2", lead(col("text"), 2).over(w))
      val rag = array(
        struct(concat(col("source"), lit("/d"), col("doc_id"), lit(".md")).as("document_id"),
          substring(col("text"), 1, 60).as("chunks")),
        struct(concat(col("source"), lit("/d"), col("doc_id") + 1, lit(".md")).as("document_id"),
          substring(col("t1"), 1, 60).as("chunks")),
        struct(concat(col("source"), lit("/d"), col("doc_id") + 2, lit(".md")).as("document_id"),
          substring(col("t2"), 1, 60).as("chunks")))
      withNext
        .withColumn("prompt",
          Coaching.buildCoachingPrompt(substring(col("text"), 1, 40), rag))
        .select(col("doc_id"), col("prompt"))
        .orderBy(col("doc_id"))
    }, Some("""
      WITH d AS (SELECT doc_id, source, text,
                        lead(text, 1) OVER (PARTITION BY doc_id // 100
                          ORDER BY doc_id) AS t1,
                        lead(text, 2) OVER (PARTITION BY doc_id // 100
                          ORDER BY doc_id) AS t2
                 FROM documents)
      SELECT doc_id,
        '## PROSPECT MESSAGE: ' || substring(text, 1, 40) ||
        e'\n\n## RAG DOCUMENTS:\n' ||
        'Document 1: ' || source || '/d' || CAST(doc_id AS VARCHAR) || '.md' || e'\n' ||
        substring(text, 1, 60) || e'\n\n' ||
        'Document 2: ' || source || '/d' || CAST(doc_id + 1 AS VARCHAR) || '.md' || e'\n' ||
        substring(t1, 1, 60) || e'\n\n' ||
        'Document 3: ' || source || '/d' || CAST(doc_id + 2 AS VARCHAR) || '.md' || e'\n' ||
        substring(t2, 1, 60) AS prompt
      FROM d ORDER BY doc_id"""), bench = false),

    Entry("rag_recent_history", (s, dir) => {
      // W1+W2+F4: last-6 view. orderBy(desc).limit plans
      // TakeOrderedAndProject (per-partition top-N + 6-row merge), not a
      // global single-partition window — the 100 TB-safe form.
      val raw = T(s, dir, "events")
      raw
        .select(col("event_id"), col("event_type"), tsSec(raw, "ts").as("ts_sec"))
        .orderBy(col("ts_sec").desc, col("event_id").desc)
        .limit(6)
        .orderBy(col("ts_sec").asc, col("event_id").asc)
    }, Some("""
      WITH ranked AS (
        SELECT event_id, event_type,
               CAST(floor(date_part('epoch', ts)) AS BIGINT) AS ts_sec,
               row_number() OVER (ORDER BY ts DESC, event_id DESC) AS r
        FROM events)
      SELECT event_id, event_type, ts_sec FROM ranked WHERE r <= 6
      ORDER BY ts_sec ASC, event_id ASC"""), bench = false),

    Entry("rag_cache_lookup", (s, dir) => {
      // F5: exact-match cache short-circuit — case-insensitive trimmed
      // equality against a broadcast cache table; misses keep NULL.
      val docs = T(s, dir, "documents")
      val cache = docs.filter(col("doc_id") % 100 === 0)
        .select(col("doc_id").as("cache_id"), col("text").as("cached_text"))
      docs.join(broadcast(cache),
          lower(trim(docs("text"))) === lower(trim(col("cached_text"))), "left")
        .select(col("doc_id"), col("cache_id"))
        .orderBy(col("doc_id"))
    }, Some("""
      SELECT d.doc_id, c.cache_id
      FROM documents d LEFT JOIN
        (SELECT doc_id AS cache_id, text AS cached_text FROM documents
         WHERE doc_id % 100 = 0) c
        ON lower(trim(d.text)) = lower(trim(c.cached_text))
      ORDER BY d.doc_id"""), bench = false),

    Entry("rag_keyword_trigger", (s, dir) => {
      // F6: 15-keyword trigger + 4-way rule cascade
      // (pricing > competitor > implementation > generic > NULL).
      // Trigger phrases injected deterministically by doc_id so every
      // class is exercised.
      val msg = concat(col("text"),
        when(col("doc_id") % 5 === 0, lit(" pricing is expensive"))
          .when(col("doc_id") % 5 === 1, lit(" what about competitor competex"))
          .when(col("doc_id") % 5 === 2, lit(" integration challenge ahead"))
          .when(col("doc_id") % 5 === 3, lit(" there is a problem"))
          .otherwise(lit("")))
      T(s, dir, "documents")
        .withColumn("msg", msg)
        .select(col("doc_id"), Coaching.triggerAdviceType(col("msg")).as("advice_type"))
        .orderBy(col("doc_id"))
    }, Some("""
      WITH m AS (
        SELECT doc_id, lower(text ||
          CASE WHEN doc_id % 5 = 0 THEN ' pricing is expensive'
               WHEN doc_id % 5 = 1 THEN ' what about competitor competex'
               WHEN doc_id % 5 = 2 THEN ' integration challenge ahead'
               WHEN doc_id % 5 = 3 THEN ' there is a problem'
               ELSE '' END) AS msg
        FROM documents)
      SELECT doc_id,
        CASE
          WHEN msg LIKE '%price%' OR msg LIKE '%expensive%' OR msg LIKE '%cost%'
            OR msg LIKE '%budget%' THEN 'pricing'
          WHEN msg LIKE '%competitor%' OR msg LIKE '%techriva%'
            OR msg LIKE '%competex%' THEN 'competitor'
          WHEN msg LIKE '%implementation%' OR msg LIKE '%integration%'
            OR msg LIKE '%difficult%' OR msg LIKE '%challenge%' THEN 'implementation'
          WHEN msg LIKE '%issue%' OR msg LIKE '%problem%' OR msg LIKE '%concern%'
            OR msg LIKE '%roi%' THEN 'generic'
          ELSE NULL END AS advice_type
      FROM m ORDER BY doc_id"""), bench = false),

    Entry("rag_json_repair", (s, dir) => {
      // E12: LLM-JSON repair chain (strip ```json fences, trailing commas)
      // on synthesized malformed payloads.
      val raw = concat(lit("```json\n"),
        lit("{\"v\": "), col("doc_id"),
        lit(", \"src\": \""), col("source"), lit("\",}\n```"))
      T(s, dir, "documents")
        .select(col("doc_id"), Coaching.repairJson(raw).as("repaired"))
        .orderBy(col("doc_id"))
    }, Some("""
      WITH raw AS (
        SELECT doc_id,
          e'```json\n{"v": ' || CAST(doc_id AS VARCHAR) || ', "src": "' ||
          source || e'",}\n```' AS r
        FROM documents)
      SELECT doc_id,
        trim(regexp_replace(
               regexp_replace(regexp_replace(r, '```json', '', 'g'),
                              '```', '', 'g'),
               e',[ \n\r\t]*([}\\]])', '\1', 'g'), e' \n\r\t') AS repaired
      FROM raw ORDER BY doc_id"""), bench = false),

    Entry("rag_doc_path", (s, dir) => {
      // E11: deterministic doc-path split (title = filename, path = dir/)
      // that the reference delegates to the LLM prompt rules.
      val docId = concat(col("source"), lit("/d"), col("doc_id"), lit(".md"))
      T(s, dir, "documents")
        .select(col("doc_id"),
          Coaching.docTitle(docId).as("title"),
          Coaching.docPath(docId).as("path"))
        .orderBy(col("doc_id"))
    }, Some("""
      WITH d AS (SELECT doc_id,
                        source || '/d' || CAST(doc_id AS VARCHAR) || '.md' AS did
                 FROM documents)
      SELECT doc_id, regexp_extract(did, '([^/]*)$', 1) AS title,
             regexp_extract(did, '^(.*/)', 1) AS path
      FROM d ORDER BY doc_id"""), bench = false),

    Entry("rag_dedup_ttl_batch", (s, dir) => {
      // T3 batch analog: at-least-once dedup — first delivery per
      // (user_id, event_type) wins; streaming form is
      // dropDuplicatesWithinWatermark (StreamingOps.dedupWithTtl).
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts_sec"), col("event_id"))
      val raw = T(s, dir, "events")
      raw
        .select(col("user_id"), col("event_type"), col("event_id"),
          tsSec(raw, "ts").as("ts_sec"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type"), col("event_id"))
        .orderBy(col("user_id"), col("event_type"))
    }, Some("""
      WITH e AS (SELECT user_id, event_type, event_id,
                        CAST(floor(date_part('epoch', ts)) AS BIGINT) AS ts_sec
                 FROM events),
      r AS (SELECT user_id, event_type, event_id,
                   row_number() OVER (PARTITION BY user_id, event_type
                     ORDER BY ts_sec, event_id) AS rn
            FROM e)
      SELECT user_id, event_type, event_id FROM r WHERE rn = 1
      ORDER BY user_id, event_type"""), bench = false),

    Entry("rag_avro_roundtrip", (s, dir) => {
      // S7/S8: the Avro wire codec as a driver-checked query — every row
      // serialized to Schema-Registry-framed Avro bytes (magic + id +
      // binary, kafka_utils.py:283-301) and decoded back; the oracle is
      // the identity projection, so any wire corruption hash-mismatches.
      val docs = T(s, dir, "documents").select("doc_id", "text", "lang", "source")
      val enc = AvroCodec.encodeUdf(docs.schema, "documents-value")
      val dec = AvroCodec.decodeUdf(docs.schema, "documents-value")
      docs
        .select(dec(enc(struct(col("doc_id"), col("text"), col("lang"), col("source")))).as("r"))
        .select(col("r.doc_id").as("doc_id"), col("r.text").as("text"),
          col("r.lang").as("lang"), col("r.source").as("source"))
        .orderBy(col("doc_id"))
    }, Some("""
      SELECT doc_id, text, lang, source FROM documents ORDER BY doc_id""")),

    Entry("rag_null_scrub", (s, dir) => {
      // F7: null-scrub — NULL→'' per field, drop rows missing
      // Message/Response (reference api_routes.py:57-78,
      // cache_utils.py:68-75). Nulls synthesized deterministically.
      T(s, dir, "documents")
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 0, lit(null).cast("string"))
            .otherwise(col("text")).as("Message"),
          when(col("doc_id") % 11 === 0, lit(null).cast("string"))
            .otherwise(col("source")).as("Response"),
          when(col("doc_id") % 13 === 0, lit(null).cast("string"))
            .otherwise(col("lang")).as("Reasoning"))
        .na.fill("", Seq("Message", "Response", "Reasoning"))
        .filter(trim(col("Message")) =!= "" && trim(col("Response")) =!= "")
        .orderBy(col("doc_id"))
    }, Some("""
      WITH c AS (
        SELECT doc_id,
               CASE WHEN doc_id % 7 = 0 THEN NULL ELSE text END AS m,
               CASE WHEN doc_id % 11 = 0 THEN NULL ELSE source END AS r,
               CASE WHEN doc_id % 13 = 0 THEN NULL ELSE lang END AS rs
        FROM documents)
      SELECT doc_id, coalesce(m, '') AS "Message", coalesce(r, '') AS "Response",
             coalesce(rs, '') AS "Reasoning"
      FROM c
      WHERE trim(coalesce(m, '')) != '' AND trim(coalesce(r, '')) != ''
      ORDER BY doc_id"""), bench = false),

    Entry("rag_keygen", (s, dir) => {
      // E10: UUID-shaped record keys (kafka_utils.py:323). Production
      // producers use uuid() (random — see TopicParityPipeline); the
      // driver-checked form derives the key deterministically from row
      // content so both engines agree.
      val h = md5(col("text"))
      T(s, dir, "documents")
        .select(col("doc_id"),
          concat_ws("-", substring(h, 1, 8), substring(h, 9, 4),
            substring(h, 13, 4), substring(h, 17, 4), substring(h, 21, 12))
            .as("record_key"))
        .orderBy(col("doc_id"))
    }, Some("""
      SELECT doc_id,
             substring(md5(text), 1, 8) || '-' || substring(md5(text), 9, 4)
               || '-' || substring(md5(text), 13, 4) || '-'
               || substring(md5(text), 17, 4) || '-'
               || substring(md5(text), 21, 12) AS record_key
      FROM documents ORDER BY doc_id"""), bench = false),

    Entry("rag_time_format", (s, dir) => {
      // E14: HH:mm rendering of event times (script.js:1266-1269) — the
      // serving-layer timestamp format as an engine column (UTC session).
      val raw = T(s, dir, "events")
      raw
        .select(col("event_id"), date_format(tsStamp(raw, "ts"), "HH:mm").as("hhmm"))
        .orderBy(col("event_id"))
    }, Some("""
      SELECT event_id, strftime(ts, '%H:%M') AS hhmm
      FROM events ORDER BY event_id"""), bench = false),

    Entry("rag_used_excerpts", (s, dir) => {
      // E13: join non-empty used_excerpts with blank lines
      // (script.js:970-971); empty and NULL entries synthesized.
      val sources = array(
        struct(substring(col("text"), 1, 20).as("used_excerpt")),
        struct(when(col("doc_id") % 3 === 0, lit(""))
          .otherwise(substring(col("text"), 21, 20)).as("used_excerpt")),
        struct(when(col("doc_id") % 4 === 0, lit(null).cast("string"))
          .otherwise(substring(col("text"), 41, 20)).as("used_excerpt")))
      T(s, dir, "documents")
        .select(col("doc_id"), Coaching.usedExcerpts(sources).as("excerpts"))
        .orderBy(col("doc_id"))
    }, Some("""
      WITH e AS (
        SELECT doc_id,
               substring(text, 1, 20) AS e1,
               CASE WHEN doc_id % 3 = 0 THEN '' ELSE substring(text, 21, 20) END AS e2,
               CASE WHEN doc_id % 4 = 0 THEN NULL ELSE substring(text, 41, 20) END AS e3
        FROM documents)
      SELECT doc_id,
             array_to_string(
               list_filter([e1, e2, e3], x -> x IS NOT NULL AND x != ''),
               e'\n\n') AS excerpts
      FROM e ORDER BY doc_id"""), bench = false),

    Entry("rag_grounding_score", (s, dir) => {
      // RAG answer grounding: fraction of the response's distinct
      // tokens attributable to the cited excerpts — the in-engine
      // hallucination gate (the eval-side complement of
      // ann_recall_report's retrieval grading). Responses synthesized
      // deterministically: the first 40 chars of the doc (grounded
      // half) plus a fabricated tail the excerpts never contain.
      val docs = T(s, dir, "documents")
        .withColumn("response", concat(substring(col("text"), 1, 40),
          lit(" zzqx fabricated unverifiable claim")))
        .withColumn("excerpts", substring(col("text"), 1, 80))
      docs.select(col("doc_id"),
          Coaching.groundingScore(col("response"), col("excerpts"))
            .as("grounding"))
        .orderBy(col("doc_id"))
    }, Some("""
      WITH t AS (
        SELECT doc_id,
               substring(text, 1, 40) ||
                 ' zzqx fabricated unverifiable claim' AS resp,
               substring(text, 1, 80) AS exc
        FROM documents),
      tok AS (
        SELECT doc_id,
               list_distinct(regexp_extract_all(lower(resp), '[a-z0-9]+')) AS r,
               list_distinct(regexp_extract_all(lower(exc), '[a-z0-9]+')) AS e
        FROM t)
      SELECT doc_id,
             CASE WHEN len(r) = 0 THEN NULL
                  ELSE CAST(len(list_intersect(r, e)) AS DOUBLE) /
                       CAST(len(r) AS DOUBLE) END AS grounding
      FROM tok ORDER BY doc_id""")),

    Entry("rag_shuffle_pick3", (s, dir) => {
      // W5: suggested-question shuffle + take 3 (script.js:426-428).
      // The PICKED SET is engine-specific (seeded rand), but its
      // properties are not: exactly 3 picks, each a genuine corpus row.
      // Emit those as a VERDICT (the q16_percentiles_approx pattern):
      // (pick_rank, doc_id+text round-trips against the corpus). A lost
      // or fabricated pick drops a row (rows_match) or states FALSE
      // (hash). Determinism of the specific pick stays in ScalaTest
      // (CsvCacheSpec) over [[shufflePick3]]. Plan: 3-row broadcast
      // inner join against one corpus scan — no shuffle; the 3-row
      // window is a bounded SinglePartition by construction.
      val docs = T(s, dir, "documents")
        .select(col("doc_id"), col("text").as("corpus_text"))
      val picked = shufflePick3(s, dir).withColumn("pick_rank",
        row_number().over(Window.orderBy(col("doc_id"))).cast("int"))
      docs.join(broadcast(picked), Seq("doc_id"))
        .select(col("pick_rank"),
          (col("text") === col("corpus_text")).as("from_corpus"))
        .orderBy(col("pick_rank"))
    }, Some("""
      SELECT CAST(generate_series AS INT) AS pick_rank, TRUE AS from_corpus
      FROM generate_series(1, 3) ORDER BY pick_rank"""), bench = false),

    Entry("rag_cache_crud", (s, dir) => {
      // S10: the full CSV-cache CRUD cycle against a real csv directory —
      // seed rows, append a second batch, delete one by message key,
      // read back sanitized (cache_utils.py:32-191).
      val tmp = java.nio.file.Files.createTempDirectory("graft-cache")
        .toString + "/cached"
      val docs = T(s, dir, "documents")
      def cacheRows(pred: Column, msg: Column) = docs.filter(pred).select(
        msg.as("Message"),
        concat(lit("resp "), col("doc_id")).as("Response"),
        when(col("doc_id") % 100 === 0, lit(null).cast("string"))
          .otherwise(col("lang")).as("Reasoning"),
        lit("").as("Used Excerpts"),
        col("source").as("RAG sources"))
      CsvCache.append(cacheRows(col("doc_id") % 50 === 0, col("text")), tmp)
      CsvCache.append(cacheRows(col("doc_id") % 70 === 0,
        concat(lit("extra "), col("text"))), tmp)
      val delMsg = docs.filter(col("doc_id") === 0)
        .select(col("text")).first().getString(0)
      CsvCache.delete(s, tmp, delMsg)
      CsvCache.read(s, tmp).orderBy(col("Message"))
    }, Some("""
      WITH base AS (
        SELECT text AS m, 'resp ' || CAST(doc_id AS VARCHAR) AS r,
               CASE WHEN doc_id % 100 = 0 THEN '' ELSE lang END AS rs,
               '' AS ue, source AS src
        FROM documents WHERE doc_id % 50 = 0 AND doc_id != 0
        UNION ALL
        SELECT 'extra ' || text, 'resp ' || CAST(doc_id AS VARCHAR),
               CASE WHEN doc_id % 100 = 0 THEN '' ELSE lang END, '', source
        FROM documents WHERE doc_id % 70 = 0)
      SELECT m AS "Message", r AS "Response", rs AS "Reasoning",
             ue AS "Used Excerpts", src AS "RAG sources"
      FROM base ORDER BY m"""), bench = false),

    Entry("rag_coach_e2e", (s, dir) => {
      // §3.1 flagship path end-to-end with deterministic mocks: knowledge
      // (from documents + the reference's own smoke fixture) → chunk →
      // embed → index → filter prospect → embed → top-3 search → reshape
      // → prompt → generate → JSON repair+parse. Generated CONTENT is
      // mock-specific, but the pipeline contract is not: exactly the two
      // prospect messages survive the filter (their text is a fixture
      // literal the oracle states), each with a parsed non-empty
      // suggested_response, exactly 3 sources, non-empty reasoning, and
      // contract-shaped JSON. Emitted as a VERDICT; full content
      // asserted in CoachE2ESpec.
      coachE2E(s, dir).select(col("message"),
          (length(col("suggested_response")) > 0).as("has_response"),
          (col("n_sources") === 3).as("sources_ok"),
          (length(col("reasoning")) > 0).as("reasoning_ok"),
          col("coaching_response").contains("suggested_response")
            .as("contract_json"))
        .orderBy(col("message"))
    }, Some("""
      SELECT * FROM (VALUES
        ('How does this compare to CompetEx?', TRUE, TRUE, TRUE, TRUE),
        ('I am interested in your product but I am concerned about the pricing.',
         TRUE, TRUE, TRUE, TRUE))
        AS t(message, has_response, sources_ok, reasoning_ok, contract_json)
      ORDER BY message"""), bench = false)
  )

  /** Shared by entry() and the rag_coach_e2e query. */
  def coachE2E(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    ModelRegistry.registerReferenceModels()
    val embedder = new MockEmbedder(64)
    val chat = new MockChat
    val docs = T(s, dir, "documents").filter(col("doc_id") < 40)
      .select(concat(col("source"), lit("/d"), col("doc_id"), lit(".md")).as("document_id"),
        concat(lit("d"), col("doc_id"), lit(".md")).as("document_name"),
        col("source").as("document_category"),
        col("text").as("document_text"))
    // reference smoke fixture rows (generate_personalized_commands.sh:530-545)
    val fixtureDoc = Seq((
      "sample/test_document.md", "Test Document", "sample",
      "This is a sample document for testing the RAG pipeline. It contains " +
        "information about our product features and capabilities."))
      .toDF("document_id", "document_name", "document_category", "document_text")
    val knowledge = docs.union(fixtureDoc)

    val pipelineStub = new CoachingPipeline(embedder, chat,
      new BroadcastBruteForceStore(Array.empty))
    val index = pipelineStub.indexKnowledge(knowledge)

    val messages = Seq(
      ("I am interested in your product but I am concerned about the pricing.", "prospect"),
      ("Let me walk you through the integration options.", "salesperson"),
      ("How does this compare to CompetEx?", "prospect"))
      .toDF("message", "speaker")

    // size-guarded retrieval strategy: collect-into-broadcast-store only
    // under the documented limit, DataFrame-join path above it — the
    // flagship never unconditionally collects the index. The index is
    // persisted across the count + build so chunk+embed runs once.
    index.persist()
    val coached =
      try {
        if (index.count() <= CoachingPipeline.BroadcastIndexLimit) {
          val store = BroadcastBruteForceStore.fromDataFrame(index)
          new CoachingPipeline(embedder, chat, store).coach(messages)
        } else pipelineStub.coachJoin(messages, index)
      } finally index.unpersist()

    coached
      .select(col("message"), col("rag_results_string"), col("coaching_response"),
        col("coaching_parsed.suggested_response").as("suggested_response"),
        size(col("coaching_parsed.sources")).as("n_sources"),
        col("coaching_parsed.reasoning").as("reasoning"))
      .orderBy(col("message"))
  }
}
