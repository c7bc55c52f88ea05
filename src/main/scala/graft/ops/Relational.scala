package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._
import graft.{QDef, Tables => T}

/** SURVEY.md §2.1–§2.8 operator inventory, one judged query per operator,
  * re-expressed Spark-first over the driver test tables.
  *
  * Reference semantics (DuckDB SQL driven from Python/bash) cited per query;
  * the Spark side is the declarative DataFrame API so Catalyst gets full
  * pushdown/pruning/join-strategy freedom — verified via .explain in
  * PlanSpec (filters reach the parquet scan, small dims broadcast).
  */
object Relational {

  /** Order-independent exact sum of a 2-decimal money double:
    * route through DECIMAL(18,2) then back to double. Needed because float
    * addition is not associative — partial aggregation order differs between
    * Spark partitions and the single-node DuckDB oracle. */
  private def moneySum(c: Column): Column =
    sum(c.cast(DecimalType(18, 2))).cast(DoubleType)

  private val moneySumSql = (x: String) =>
    s"CAST(SUM(CAST($x AS DECIMAL(18,2))) AS DOUBLE)"

  /** j13's hive-partitioned fact fixture, one write per (session, SF). */
  private val dppFactDir = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), String]()

  /** s13's nested-struct fixture, one write per (session, SF). */
  private val nestedFixtureDir = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), String]()

  val defs: Seq[QDef] = Seq(
    // ---------------------------------------------------------------- §2.1
    // S2 table scan + P1/P2 projection — ref demos/01_transaction_rollback/demo.py:74
    QDef("s2_scan_project",
      (s, d) => T.region(s, d)
        .select(col("r_regionkey"), col("r_name"))
        .orderBy("r_regionkey"),
      Some("SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey")),

    // S4 range source — ref utils/ducklake_utils.py:109, exploration/benchmark_ducklake.sh:76
    // also exercises F2 string concat ('user_' || i — ref utils/ducklake_utils.py:106)
    QDef("s4_range_source",
      (s, _) => s.range(1000)
        .select(col("id"),
          (col("id") * 2 + 1).as("odd"),
          concat(lit("user_"), col("id")).as("uname"))
        .orderBy("id"),
      Some("SELECT range AS id, range*2+1 AS odd, 'user_' || range AS uname " +
        "FROM range(1000) ORDER BY id")),

    // S5 VALUES literal relation — ref demos/01_transaction_rollback/demo.py:58-66
    QDef("s5_values_literal",
      (s, _) => {
        import s.implicits._
        Seq((1, "widget", 9.99), (2, "gadget", 19.5), (3, "gizmo", 0.01))
          .toDF("id", "name", "price").orderBy("id")
      },
      Some("SELECT id, name, CAST(price AS DOUBLE) AS price FROM (VALUES " +
        "(1,'widget',9.99),(2,'gadget',19.5),(3,'gizmo',0.01)) t(id,name,price) " +
        "ORDER BY id")),

    // S9 CSV source/sink round-trip — the ingest-format surface: a table
    // slice lands as headered CSV, is read back with an EXPLICIT schema
    // (no inference pass — at 100 TB schema inference is a full extra
    // scan), and aggregates to the same answer as the parquet original.
    // CSV scans split per file and parallelize like any other source;
    // doubles survive because Spark writes shortest-round-trip reprs.
    QDef("s9_csv_roundtrip",
      (s, d) => {
        // per-SF path keyed by the Spark application id: stable within a
        // session (repeated bench runs overwrite, not accumulate) but
        // unique per process, so two concurrent bench/verify runs at the
        // same SF never read a directory the other is truncating
        val dir = s"${System.getProperty("java.io.tmpdir")}/graft_" +
          s"${s.sparkContext.applicationId}_csv_" +
          d.replaceAll("[^A-Za-z0-9]", "_")
        T.supplier(s, d)
          .select(col("s_suppkey"), col("s_nationkey"), col("s_acctbal"))
          .write.mode("overwrite").option("header", "true").csv(dir)
        s.read
          .schema("s_suppkey long, s_nationkey long, s_acctbal double")
          .option("header", "true").csv(dir)
          .groupBy("s_nationkey")
          .agg(count(lit(1)).as("n"),
            sum(col("s_acctbal").cast(DecimalType(18, 2))).cast(DoubleType)
              .as("sum_bal"))
          .orderBy("s_nationkey")
      },
      Some("SELECT CAST(s_nationkey AS BIGINT) AS s_nationkey, " +
        "count(*) AS n, " +
        "CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal " +
        "FROM supplier GROUP BY 1 ORDER BY s_nationkey")),

    // S10 JSON-lines source/sink round-trip — same contract for the other
    // standard ingest format (one JSON object per line; splittable,
    // explicit schema on read). A deterministic quarter-slice: the
    // round-trip mechanics are size-free, so the bench measures the
    // format path, not raw write volume.
    QDef("s10_jsonl_roundtrip",
      (s, d) => {
        // same per-process path scheme as s9 (see comment there)
        val dir = s"${System.getProperty("java.io.tmpdir")}/graft_" +
          s"${s.sparkContext.applicationId}_jsonl_" +
          d.replaceAll("[^A-Za-z0-9]", "_")
        T.orders(s, d)
          .filter(col("o_orderkey") % 4 === 0)
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
          .write.mode("overwrite").json(dir)
        s.read
          .schema("o_orderkey long, o_orderstatus string, o_totalprice double")
          .json(dir)
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast(DecimalType(18, 2))).cast(DoubleType)
              .as("sum_price"))
          .orderBy("o_orderstatus")
      },
      Some("SELECT o_orderstatus, count(*) AS n, " +
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price " +
        "FROM orders WHERE o_orderkey % 4 = 0 " +
        "GROUP BY o_orderstatus ORDER BY o_orderstatus")),

    // ---------------------------------------------------------------- §2.2
    // P1 projection with aliases — ref exploration/ducklake_analysis.sh:109-117
    QDef("p1_projection",
      (s, d) => T.customer(s, d)
        .select(col("c_custkey"), col("c_name").as("customer"),
          col("c_acctbal").as("balance"))
        .orderBy("c_custkey"),
      Some("SELECT c_custkey, c_name AS customer, c_acctbal AS balance " +
        "FROM customer ORDER BY c_custkey")),

    // P3 comparison filters — ref demos/01_transaction_rollback/demo.py:100,
    // exploration/ducklake_analysis.sh:124,145.
    // (l_orderkey, l_linenumber) is NOT unique in the synthetic data, so the
    // ORDER BY includes every output column to stay total (oracle row-order
    // parity at any SF).
    QDef("p3_filter_compare",
      (s, d) => T.lineitem(s, d)
        .filter(col("l_quantity") >= 45 &&
          col("l_shipdate") < to_timestamp(lit("1997-01-01 00:00:00")))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .orderBy("l_orderkey", "l_linenumber", "l_quantity"),
      Some("SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem " +
        "WHERE l_quantity >= 45 AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00' " +
        "ORDER BY l_orderkey, l_linenumber, l_quantity")),

    // P4 IN-list filter — ref demos/01_transaction_rollback/demo.py:168
    QDef("p4_filter_in",
      (s, d) => T.orders(s, d)
        .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .select(col("o_orderkey"), col("o_orderpriority"))
        .orderBy("o_orderkey"),
      Some("SELECT o_orderkey, o_orderpriority FROM orders " +
        "WHERE o_orderpriority IN ('1-URGENT','2-HIGH') ORDER BY o_orderkey")),

    // P5 LIKE filter — ref demos/03_schema_evolution/demo.py:150-151
    QDef("p5_filter_like",
      (s, d) => T.part(s, d)
        .filter(col("p_name").like("%idge%"))
        .select(col("p_partkey"), col("p_name"))
        .orderBy("p_partkey"),
      Some("SELECT p_partkey, p_name FROM part WHERE p_name LIKE '%idge%' " +
        "ORDER BY p_partkey")),

    // P6 boolean conjunctions — ref exploration/ducklake_analysis.sh:124,145
    QDef("p6_filter_bool",
      (s, d) => T.orders(s, d)
        .filter((col("o_orderstatus") === "F" && col("o_totalprice") > 300000.0)
          || col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"))
        .orderBy("o_orderkey"),
      Some("SELECT o_orderkey, o_orderstatus, o_orderpriority FROM orders " +
        "WHERE (o_orderstatus = 'F' AND o_totalprice > 300000.0) " +
        "OR o_orderpriority = '1-URGENT' ORDER BY o_orderkey")),

    // P7 arithmetic predicate — ref exploration/benchmark_ducklake.sh:127,148
    QDef("p7_filter_arith",
      (s, d) => T.lineitem(s, d)
        .filter(col("l_orderkey") % 10 === 0 && col("l_linenumber") % 2 === 1)
        .select(col("l_orderkey"), col("l_linenumber"))
        .orderBy("l_orderkey", "l_linenumber"),
      Some("SELECT l_orderkey, l_linenumber FROM lineitem " +
        "WHERE l_orderkey % 10 = 0 AND l_linenumber % 2 = 1 " +
        "ORDER BY l_orderkey, l_linenumber")),

    // P8 IS NULL guard (nulls induced by outer join) — ref demos/03_schema_evolution/demo.py:187-189
    QDef("p8_null_check",
      (s, d) => {
        val p = T.part(s, d)
        val li = T.lineitem(s, d).filter(col("l_quantity") >= 48)
          .select(col("l_partkey"), col("l_orderkey"))
        p.join(li, p("p_partkey") === li("l_partkey"), "left_outer")
          .filter(col("l_orderkey").isNull)
          .select(col("p_partkey"))
          .orderBy("p_partkey")
      },
      Some("SELECT p_partkey FROM part LEFT JOIN " +
        "(SELECT l_partkey, l_orderkey FROM lineitem WHERE l_quantity >= 48) li " +
        "ON p_partkey = l_partkey " +
        "WHERE l_orderkey IS NULL ORDER BY p_partkey")),

    // P9 multi-arm CASE WHEN — ref exploration/ducklake_analysis.sh:92-97
    QDef("p9_case_multiarm",
      (s, d) => T.customer(s, d)
        .select(when(col("c_acctbal") < 0, "debt")
          .when(col("c_acctbal") < 5000, "low")
          .otherwise("high").as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("n"))
        .orderBy("bucket"),
      Some("SELECT CASE WHEN c_acctbal < 0 THEN 'debt' " +
        "WHEN c_acctbal < 5000 THEN 'low' ELSE 'high' END AS bucket, " +
        "count(*) AS n FROM customer GROUP BY 1 ORDER BY bucket")),

    // P10 casts — ref exploration/benchmark_ducklake.sh:75,100-102.
    // DuckDB double::INT rounds half-even while Spark ANSI cast truncates,
    // so both sides floor() explicitly (SURVEY.md §2.2 P10 caution).
    // (l_orderkey, l_linenumber) is not unique — total ORDER BY over all
    // output columns, as in P3.
    QDef("p10_cast",
      (s, d) => T.lineitem(s, d)
        .filter(col("l_orderkey") % 100 === 0)
        .select(col("l_orderkey"), col("l_linenumber"),
          floor(col("l_extendedprice")).cast(LongType).as("price_floor"),
          col("l_shipdate").cast(DateType).as("ship_day"))
        .orderBy("l_orderkey", "l_linenumber", "price_floor", "ship_day"),
      Some("SELECT l_orderkey, l_linenumber, " +
        "CAST(floor(l_extendedprice) AS BIGINT) AS price_floor, " +
        "CAST(l_shipdate AS DATE) AS ship_day FROM lineitem " +
        "WHERE l_orderkey % 100 = 0 " +
        "ORDER BY l_orderkey, l_linenumber, price_floor, ship_day")),

    // ---------------------------------------------------------------- §2.3
    // J1 inner equi-join chain — ref demos/02_time_travel/demo.py:273-290.
    // nation/region are tiny dims: Catalyst broadcasts both (no shuffle of
    // customer), which is exactly the 100TB-scale plan we want.
    QDef("j1_join_inner",
      (s, d) => {
        val c = T.customer(s, d)
        val n = T.nation(s, d)
        val r = T.region(s, d)
        c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
          .filter(col("c_acctbal") > 9000.0)
          .select(col("c_custkey"), col("n_name"), col("r_name"))
          .orderBy("c_custkey")
      },
      Some("SELECT c_custkey, n_name, r_name FROM customer " +
        "JOIN nation ON c_nationkey = n_nationkey " +
        "JOIN region ON n_regionkey = r_regionkey " +
        "WHERE c_acctbal > 9000.0 ORDER BY c_custkey")),

    // J2 left outer join + downstream agg — ref demos/05_catalog_portability/demo.py:155-163
    QDef("j2_join_left_agg",
      (s, d) => {
        val p = T.part(s, d)
        val li = T.lineitem(s, d)
        p.join(li, p("p_partkey") === li("l_partkey"), "left_outer")
          .groupBy(col("p_partkey"))
          .agg(count(col("l_orderkey")).as("n_li"),
            coalesce(sum(col("l_quantity")), lit(0).cast(DoubleType)).as("total_qty"))
          .orderBy("p_partkey")
      },
      Some("SELECT p_partkey, count(l_orderkey) AS n_li, " +
        "CAST(coalesce(sum(l_quantity), 0) AS DOUBLE) AS total_qty " +
        "FROM part LEFT JOIN lineitem ON p_partkey = l_partkey " +
        "GROUP BY p_partkey ORDER BY p_partkey")),

    // J3a left-semi (EXISTS) — ref demos/01_transaction_rollback/demo.py:186-212
    QDef("j3_semi_join",
      (s, d) => {
        val o = T.orders(s, d)
        val li = T.lineitem(s, d).filter(col("l_quantity") >= 49)
        o.join(li, o("o_orderkey") === li("l_orderkey"), "left_semi")
          .select(col("o_orderkey"), col("o_totalprice"))
          .orderBy("o_orderkey")
      },
      Some("SELECT o_orderkey, o_totalprice FROM orders WHERE EXISTS " +
        "(SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity >= 49) " +
        "ORDER BY o_orderkey")),

    // J3b left-anti (NOT EXISTS) — inventory-check complement
    QDef("j3_anti_join",
      (s, d) => {
        val p = T.part(s, d)
        val li = T.lineitem(s, d).filter(col("l_quantity") >= 48)
        p.join(li, p("p_partkey") === li("l_partkey"), "left_anti")
          .select(col("p_partkey"), col("p_name"))
          .orderBy("p_partkey")
      },
      Some("SELECT p_partkey, p_name FROM part WHERE NOT EXISTS " +
        "(SELECT 1 FROM lineitem WHERE l_partkey = p_partkey AND l_quantity >= 48) " +
        "ORDER BY p_partkey")),

    // ---------------------------------------------------------------- §2.4
    // A1 global COUNT(*) — ref demos/02_time_travel/demo.py:118
    QDef("a1_count_global",
      (s, d) => T.lineitem(s, d).agg(count(lit(1)).as("n")),
      Some("SELECT count(*) AS n FROM lineitem")),

    // A2 group-by count — ref demos/03_schema_evolution/demo.py:164-169
    QDef("a2_groupby_count",
      (s, d) => T.events(s, d)
        .groupBy("event_type").agg(count(lit(1)).as("n"))
        .orderBy("event_type"),
      Some("SELECT event_type, count(*) AS n FROM events GROUP BY event_type " +
        "ORDER BY event_type")),

    // A3 multi-aggregate per group — ref exploration/ducklake_analysis.sh:109-117.
    // avg(l_quantity) is exact: quantities are integral doubles, so partial
    // sums are order-independent; money sums use the DECIMAL route.
    QDef("a3_multi_agg",
      (s, d) => T.lineitem(s, d)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"),
          avg(col("l_quantity")).as("avg_qty"),
          min(col("l_shipdate")).as("first_ship"),
          max(col("l_shipdate")).as("last_ship"),
          moneySum(col("l_extendedprice")).as("sum_price"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some("SELECT l_returnflag, l_linestatus, count(*) AS n, " +
        "avg(l_quantity) AS avg_qty, min(l_shipdate) AS first_ship, " +
        s"max(l_shipdate) AS last_ship, ${moneySumSql("l_extendedprice")} AS sum_price " +
        "FROM lineitem GROUP BY l_returnflag, l_linestatus " +
        "ORDER BY l_returnflag, l_linestatus")),

    // A4 COALESCE(SUM) null-safe over left join — ref demos/05_catalog_portability/demo.py:159
    QDef("a4_coalesce_sum",
      (s, d) => {
        val c = T.customer(s, d)
        val o = T.orders(s, d)
        c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
          .groupBy(col("c_custkey"))
          .agg(coalesce(sum(col("o_totalprice").cast(DecimalType(18, 2))),
            lit(0)).cast(DoubleType).as("spent"))
          .orderBy("c_custkey")
      },
      Some("SELECT c_custkey, CAST(coalesce(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 0) " +
        "AS DOUBLE) AS spent FROM customer LEFT JOIN orders ON c_custkey = o_custkey " +
        "GROUP BY c_custkey ORDER BY c_custkey")),

    // A5 conditional aggregation — ref demos/05_catalog_portability/demo.py:344-353
    QDef("a5_conditional_agg",
      (s, d) => T.orders(s, d)
        .groupBy("o_orderpriority")
        .agg(sum(when(col("o_orderstatus") === "F", 1).otherwise(0)).as("n_f"),
          sum(when(col("o_orderstatus") === "O", 1).otherwise(0)).as("n_o"),
          count(lit(1)).as("n"))
        .orderBy("o_orderpriority"),
      Some("SELECT o_orderpriority, " +
        "CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f, " +
        "CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o, " +
        "count(*) AS n FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority")),

    // A6 COUNT(DISTINCT) — ref demos/05_catalog_portability/demo.py:356-365
    QDef("a6_count_distinct",
      (s, d) => T.orders(s, d)
        .groupBy("o_orderpriority")
        .agg(countDistinct(col("o_custkey")).as("n_cust"))
        .orderBy("o_orderpriority"),
      Some("SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_cust " +
        "FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority")),

    // A7 scalar agg id-allocation — ref demos/03_schema_evolution/demo.py:45-47
    QDef("a7_scalar_max_alloc",
      (s, d) => T.orders(s, d)
        .agg((coalesce(max(col("o_orderkey")), lit(0L)) + 1).as("next_id")),
      Some("SELECT coalesce(max(o_orderkey), 0) + 1 AS next_id FROM orders")),

    // ---------------------------------------------------------------- §2.5
    // W1 row_number window — ref exploration/ducklake_analysis.sh:87.
    // Deterministic tie-break on c_custkey (DuckDB's bare OVER () is
    // nondeterministic; both sides order explicitly).
    QDef("w1_row_number",
      (s, d) => {
        val w = Window.partitionBy(col("c_nationkey"))
          .orderBy(col("c_acctbal").desc, col("c_custkey"))
        T.customer(s, d)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select(col("c_nationkey"), col("rn"), col("c_custkey"), col("c_acctbal"))
          .orderBy("c_nationkey", "rn")
      },
      Some("SELECT c_nationkey, rn, c_custkey, c_acctbal FROM (" +
        "SELECT c_nationkey, c_custkey, c_acctbal, row_number() OVER " +
        "(PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rn " +
        "FROM customer) WHERE rn <= 3 ORDER BY c_nationkey, rn")),

    // W2 sessionization in batch: lag() gap detection + running sum over
    // an explicit frame assigns session ids — the full analytic-window
    // family (lag, conditional, cumulative frame) beyond the reference's
    // row_number. Both engines µs-truncate the ns event timestamps.
    QDef("w2_sessionize",
      (s, d) => {
        val byUser = Window.partitionBy("user_id")
          .orderBy(col("ts"), col("event_id"))
        val cum = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        T.events(s, d)
          .select(col("user_id"), col("ts"), col("event_id"))
          .withColumn("prev_ts", lag("ts", 1).over(byUser))
          .withColumn("new_sess",
            when(col("prev_ts").isNull ||
              col("ts").cast("long") - col("prev_ts").cast("long") > 3600, 1)
              .otherwise(0))
          .withColumn("sess_id", sum("new_sess").over(cum))
          .groupBy("user_id")
          .agg(max("sess_id").as("n_sessions"),
            count(lit(1)).as("n_events"))
          .orderBy("user_id")
      },
      Some("WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id FROM events), " +
        "g AS (SELECT user_id, ts, event_id, " +
        "lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts FROM e), " +
        // NB: DuckDB double->BIGINT casts ROUND (Spark ts->long truncates)
        // so floor() the epoch seconds explicitly before casting
        "m AS (SELECT user_id, ts, event_id, CASE WHEN prev_ts IS NULL OR " +
        "CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(prev_ts)) AS BIGINT) > 3600 " +
        "THEN 1 ELSE 0 END AS new_sess FROM g), " +
        "sid AS (SELECT user_id, CAST(SUM(new_sess) OVER (PARTITION BY user_id " +
        "ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_id " +
        "FROM m) " +
        "SELECT user_id, max(sess_id) AS n_sessions, count(*) AS n_events " +
        "FROM sid GROUP BY user_id ORDER BY user_id")),

    // W3 moving aggregate over an explicit row frame (3 preceding..current)
    // + rank — frame semantics beyond cumulative.
    QDef("w3_moving_frame",
      (s, d) => {
        val w = Window.partitionBy("l_suppkey")
          .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
        val frame = w.rowsBetween(-3, Window.currentRow)
        T.lineitem(s, d)
          .filter(col("l_suppkey") <= 3)
          .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
            col("l_shipdate"), col("l_quantity"))
          .withColumn("mv_qty",
            sum(col("l_quantity").cast(DecimalType(18, 2))).over(frame)
              .cast(DoubleType))
          .withColumn("rk", rank().over(w))
          .filter(col("rk") <= 20)
          .select("l_suppkey", "rk", "l_orderkey", "l_linenumber", "mv_qty")
          .orderBy("l_suppkey", "rk")
      },
      Some("WITH f AS (SELECT l_suppkey, l_orderkey, l_linenumber, " +
        "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (PARTITION BY l_suppkey " +
        "ORDER BY l_shipdate, l_orderkey, l_linenumber " +
        "ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS DOUBLE) AS mv_qty, " +
        "rank() OVER (PARTITION BY l_suppkey " +
        "ORDER BY l_shipdate, l_orderkey, l_linenumber) AS rk " +
        "FROM lineitem WHERE l_suppkey <= 3) " +
        "SELECT l_suppkey, rk, l_orderkey, l_linenumber, mv_qty FROM f " +
        "WHERE rk <= 20 ORDER BY l_suppkey, rk")),

    // ---------------------------------------------------------------- §2.6
    // O1 single-key sort — ref demos/01_transaction_rollback/demo.py:74
    QDef("o1_order_single",
      (s, d) => T.supplier(s, d)
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"))
        .orderBy("s_suppkey"),
      Some("SELECT s_suppkey, s_name, s_acctbal FROM supplier ORDER BY s_suppkey")),

    // O2 multi-key sort — ref exploration/ducklake_analysis.sh:183
    QDef("o2_order_multi",
      (s, d) => T.lineitem(s, d)
        .filter(col("l_orderkey") % 500 === 0)
        .select(col("l_returnflag"), col("l_shipdate"), col("l_orderkey"),
          col("l_linenumber"))
        .orderBy("l_returnflag", "l_shipdate", "l_orderkey", "l_linenumber"),
      Some("SELECT l_returnflag, l_shipdate, l_orderkey, l_linenumber FROM lineitem " +
        "WHERE l_orderkey % 500 = 0 " +
        "ORDER BY l_returnflag, l_shipdate, l_orderkey, l_linenumber")),

    // O3 top-k (ORDER BY DESC LIMIT) — ref demos/02_time_travel/demo.py:132-137.
    // Spark plans TakeOrderedAndProject: no global sort, per-partition heaps.
    QDef("o3_topk_desc",
      (s, d) => T.orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10),
      Some("SELECT o_orderkey, o_totalprice FROM orders " +
        "ORDER BY o_totalprice DESC, o_orderkey LIMIT 10")),

    // O4 LIMIT — ref demos/03_schema_evolution/demo.py:253 (ordered here for determinism)
    QDef("o4_limit",
      (s, d) => T.customer(s, d)
        .select(col("c_custkey"), col("c_name"))
        .orderBy("c_custkey")
        .limit(5),
      Some("SELECT c_custkey, c_name FROM customer ORDER BY c_custkey LIMIT 5")),

    // O5 order by aggregate output — ref demos/03_schema_evolution/demo.py:167-168
    QDef("o5_order_by_agg",
      (s, d) => T.events(s, d)
        .groupBy("event_type").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("event_type")),
      Some("SELECT event_type, count(*) AS n FROM events GROUP BY event_type " +
        "ORDER BY n DESC, event_type")),

    // O6 NULL-ordering conformance — NULLS FIRST/LAST made
    // hash-OBSERVABLE: the driver's compare canonicalizes row order, so
    // the sort position is materialized as a rank column instead (one
    // global window — bounded to 3k rows here; a scale query would rank
    // per partition). Both engines get the null placement spelled
    // explicitly, so neither's default leaks in.
    QDef("o6_sort_nulls",
      (s, d) => {
        val base = T.orders(s, d).filter(col("o_orderkey") <= 3000)
          .select(col("o_orderkey"),
            when(col("o_orderkey") % 7 === 0, lit(null))
              .otherwise(col("o_custkey")).as("k"))
        val wLast = Window.orderBy(col("k").asc_nulls_last,
          col("o_orderkey").asc)
        val wFirst = Window.orderBy(col("k").desc_nulls_first,
          col("o_orderkey").asc)
        base.select(col("o_orderkey"), col("k"),
          row_number().over(wLast).as("rnk_asc_nulls_last"),
          row_number().over(wFirst).as("rnk_desc_nulls_first"))
          .orderBy("o_orderkey")
      },
      Some("SELECT o_orderkey, " +
        "CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_custkey END AS k, " +
        "CAST(row_number() OVER (ORDER BY " +
        "(CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_custkey END) " +
        "ASC NULLS LAST, o_orderkey ASC) AS INT) AS rnk_asc_nulls_last, " +
        "CAST(row_number() OVER (ORDER BY " +
        "(CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_custkey END) " +
        "DESC NULLS FIRST, o_orderkey ASC) AS INT) AS rnk_desc_nulls_first " +
        "FROM orders WHERE o_orderkey <= 3000 ORDER BY o_orderkey")),

    // U6 UNION (DISTINCT) — the dedup half of u1: overlapping slices
    // union'd with set semantics; Spark plans union + hash-distinct
    // (partial+final), no sort.
    QDef("u6_union_distinct",
      (s, d) => {
        val a = T.orders(s, d).filter(col("o_orderkey") <= 3000)
          .select(col("o_custkey"))
        val b = T.orders(s, d)
          .filter(col("o_orderkey") > 1500 && col("o_orderkey") <= 4500)
          .select(col("o_custkey"))
        a.union(b).distinct()
          .groupBy().agg(count(lit(1)).as("n_distinct_custkeys"),
            sum(col("o_custkey")).as("sum_keys"))
      },
      Some("WITH u AS (" +
        "SELECT o_custkey FROM orders WHERE o_orderkey <= 3000 " +
        "UNION " +
        "SELECT o_custkey FROM orders " +
        "WHERE o_orderkey > 1500 AND o_orderkey <= 4500) " +
        "SELECT count(*) AS n_distinct_custkeys, " +
        "CAST(sum(o_custkey) AS BIGINT) AS sum_keys FROM u")),

    // ---------------------------------------------------------------- §2.7
    // U1 UNION ALL — ref exploration/ducklake_analysis.sh:167-183
    QDef("u1_union_all",
      (s, d) => {
        val hi = T.customer(s, d).filter(col("c_acctbal") > 9500.0)
          .select(lit("high").as("src"), col("c_custkey"), col("c_acctbal"))
        val lo = T.customer(s, d).filter(col("c_acctbal") < -900.0)
          .select(lit("low").as("src"), col("c_custkey"), col("c_acctbal"))
        hi.unionByName(lo).orderBy("src", "c_custkey")
      },
      Some("SELECT 'high' AS src, c_custkey, c_acctbal FROM customer WHERE c_acctbal > 9500.0 " +
        "UNION ALL SELECT 'low' AS src, c_custkey, c_acctbal FROM customer " +
        "WHERE c_acctbal < -900.0 ORDER BY src, c_custkey")),

    // U2 CTE pipeline — ref demos/02_time_travel/demo.py:273-290
    QDef("u2_cte_pipeline",
      (s, d) => {
        val spend = T.orders(s, d).groupBy(col("o_custkey"))
          .agg(moneySum(col("o_totalprice")).as("spent"),
            count(lit(1)).as("n_orders"))
        val c = T.customer(s, d)
        c.join(spend, c("c_custkey") === spend("o_custkey"))
          .filter(col("n_orders") >= 3)
          .select(col("c_custkey"), col("c_mktsegment"), col("spent"), col("n_orders"))
          .orderBy("c_custkey")
      },
      Some("WITH spend AS (SELECT o_custkey, " +
        s"${moneySumSql("o_totalprice")} AS spent, count(*) AS n_orders " +
        "FROM orders GROUP BY o_custkey) " +
        "SELECT c_custkey, c_mktsegment, spent, n_orders FROM customer " +
        "JOIN spend ON c_custkey = o_custkey WHERE n_orders >= 3 ORDER BY c_custkey")),

    // U3/U4 INTERSECT/EXCEPT (distinct set semantics) — absent in the
    // reference; included for library completeness.
    // U3/U4 — set INTERSECT/EXCEPT as ONE-SHUFFLE flag aggregations.
    // Catalyst rewrites Intersect/Except to distinct + left-semi/anti
    // join: two aggregate exchanges plus a join stage (~6 AQE jobs whose
    // per-job constants dominated the wall at sf1 — FLOOR_ANALYSIS
    // round 14 flagged both). The tag-union form — tag each leg, union
    // (no exchange), one groupBy collecting per-side presence flags,
    // filter — computes identical set semantics with a single shuffle
    // and half the stages, and scales the same way at 100 TB (one
    // hash-partition pass over both legs).
    QDef("u3_intersect",
      (s, d) => {
        val hot = T.orders(s, d).filter(col("o_totalprice") > 250000.0)
          .select(col("o_custkey")).withColumn("__leg", lit(1))
        val urgent = T.orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_custkey")).withColumn("__leg", lit(2))
        hot.unionByName(urgent)
          .groupBy("o_custkey")
          .agg(max(when(col("__leg") === 1, 1).otherwise(0)).as("__a"),
            max(when(col("__leg") === 2, 1).otherwise(0)).as("__b"))
          .filter(col("__a") === 1 && col("__b") === 1)
          .select("o_custkey").orderBy("o_custkey")
      },
      Some("SELECT o_custkey FROM orders WHERE o_totalprice > 250000.0 " +
        "INTERSECT SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT' " +
        "ORDER BY o_custkey")),

    QDef("u4_except",
      (s, d) => {
        val all = T.customer(s, d).select(col("c_custkey"))
          .withColumn("__leg", lit(1))
        val urgent = T.orders(s, d)
          .filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_custkey").as("c_custkey"))
          .withColumn("__leg", lit(2))
        all.unionByName(urgent)
          .groupBy("c_custkey")
          .agg(max(when(col("__leg") === 1, 1).otherwise(0)).as("__a"),
            max(when(col("__leg") === 2, 1).otherwise(0)).as("__b"))
          .filter(col("__a") === 1 && col("__b") === 0)
          .select("c_custkey").orderBy("c_custkey")
      },
      Some("SELECT c_custkey FROM customer EXCEPT " +
        "SELECT o_custkey AS c_custkey FROM orders " +
        "WHERE o_orderpriority = '1-URGENT' ORDER BY c_custkey")),

    // A9 ROLLUP — hierarchical subtotals (reference uses plain GROUP BY
    // only; completeness for the aggregation family).
    QDef("a9_rollup",
      (s, d) => T.orders(s, d)
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"),
          moneySum(col("o_totalprice")).as("revenue"))
        .orderBy(col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first),
      Some("SELECT o_orderstatus, o_orderpriority, count(*) AS n, " +
        s"${moneySumSql("o_totalprice")} AS revenue FROM orders " +
        "GROUP BY ROLLUP (o_orderstatus, o_orderpriority) " +
        "ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST")),

    // J5 correlated scalar subquery — per-row aggregate lookup.
    QDef("j5_scalar_subquery",
      (s, d) => {
        val avgBal = T.customer(s, d).groupBy("c_nationkey")
          .agg(avg("c_acctbal").as("nation_avg"))
        val c = T.customer(s, d)
        c.join(avgBal, "c_nationkey")
          .filter(col("c_acctbal") > col("nation_avg") * 2)
          .select(col("c_custkey"), col("c_acctbal"),
            round(col("nation_avg"), 6).as("nation_avg"))
          .orderBy("c_custkey")
      },
      Some("SELECT c_custkey, c_acctbal, round((SELECT avg(c2.c_acctbal) " +
        "FROM customer c2 WHERE c2.c_nationkey = c.c_nationkey), 6) AS nation_avg " +
        "FROM customer c WHERE c_acctbal > (SELECT avg(c2.c_acctbal) FROM customer c2 " +
        "WHERE c2.c_nationkey = c.c_nationkey) * 2 ORDER BY c_custkey")),

    // J6 skewed hot-key join through explicit salting (graft.ops.Skew):
    // events has only 5 distinct event_type values, each holding ~20% of
    // the table — the classic straggler shape a plain shuffle join turns
    // into 5 hot tasks. saltedJoin spreads each hot key over 8 sub-keys
    // (deterministic hash salt, broadcast-replicated dim) with identical
    // join semantics, so the oracle is the plain SQL join. Weighted sum
    // goes through exact decimals on both engines.
    QDef("j6_skew_salted",
      (s, d) => {
        import s.implicits._
        val dim = Seq(("click", "1.00"), ("view", "0.20"), ("purchase", "5.00"),
          ("signup", "2.00"), ("error", "0.10"))
          .toDF("event_type", "w")
          .select(col("event_type"), col("w").cast(DecimalType(6, 2)).as("weight"))
        val ev = T.events(s, d).select("event_type", "value")
        Skew.saltedJoin(ev, dim, "event_type", salt = 8)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast(DecimalType(18, 6)) * col("weight"))
              .cast(DoubleType).as("weighted_value"))
          .orderBy("event_type")
      },
      Some("WITH w(event_type, weight) AS (VALUES " +
        "('click', CAST(1.00 AS DECIMAL(6,2))), ('view', CAST(0.20 AS DECIMAL(6,2))), " +
        "('purchase', CAST(5.00 AS DECIMAL(6,2))), ('signup', CAST(2.00 AS DECIMAL(6,2))), " +
        "('error', CAST(0.10 AS DECIMAL(6,2)))) " +
        "SELECT event_type, count(*) AS n, " +
        "CAST(SUM(CAST(value AS DECIMAL(18,6)) * weight) AS DOUBLE) AS weighted_value " +
        "FROM events JOIN w USING (event_type) " +
        "GROUP BY event_type ORDER BY event_type")),

    // J7 AS-OF join — each purchase matched to the latest click at or
    // before its timestamp by the same user. Spark has no ASOF JOIN
    // (DuckDB does — it IS the oracle), and the naive range-join is
    // O(n*m); this is the scale shape: tag both sides, union, ONE shuffle
    // on user_id, and a running `last(click, ignoreNulls)` window carries
    // the newest click forward into each purchase row. Clicks pre-agg to
    // one row per (user, ts) so equal-timestamp ties are deterministic;
    // the side flag sorts clicks first so an equal-ts click matches (ASOF
    // uses <=).
    QDef("j7_asof_join",
      (s, d) => {
        val ev = T.events(s, d)
        val clicks = ev.filter(col("event_type") === "click")
          .groupBy("user_id", "ts").agg(max("value").as("click_value"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select("event_id", "user_id", "ts", "value")
        val tagged = clicks.select(col("user_id"), col("ts"),
            lit(0).as("side"), lit(null).cast(LongType).as("event_id"),
            lit(null).cast(DoubleType).as("value"), col("click_value"))
          .unionByName(purchases.select(col("user_id"), col("ts"),
            lit(1).as("side"), col("event_id"), col("value"),
            lit(null).cast(DoubleType).as("click_value")))
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts"), col("side"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        tagged
          .withColumn("lastc", last(when(col("side") === 0,
            struct(col("ts").as("cts"), col("click_value").as("cv"))),
            ignoreNulls = true).over(w))
          .filter(col("side") === 1 && col("lastc").isNotNull)
          .select(col("event_id"), col("user_id"),
            col("ts").as("purchase_ts"), col("value").as("purchase_value"),
            col("lastc.cts").as("click_ts"), col("lastc.cv").as("click_value"))
          .orderBy("event_id")
      },
      Some("WITH clicks AS (SELECT user_id, ts, max(value) AS click_value " +
        "FROM events WHERE event_type = 'click' GROUP BY 1, 2), " +
        "purchases AS (SELECT event_id, user_id, ts, value FROM events " +
        "WHERE event_type = 'purchase') " +
        "SELECT p.event_id, p.user_id, p.ts AS purchase_ts, " +
        "p.value AS purchase_value, c.ts AS click_ts, c.click_value " +
        "FROM purchases p ASOF JOIN clicks c " +
        "ON p.user_id = c.user_id AND c.ts <= p.ts " +
        "ORDER BY p.event_id")),

    // W4 ranking-function sweep — rank / dense_rank / ntile in one window
    // (percent_rank excluded: its n-1 division is a float both engines
    // round differently at ties). Unique (key) tie-break keeps every rank
    // deterministic cross-engine.
    QDef("w4_rank_funcs",
      (s, d) => {
        val w = Window.partitionBy(col("o_orderstatus"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        T.orders(s, d)
          .select(col("o_orderstatus"), col("o_orderkey"), col("o_totalprice"),
            rank().over(w).as("rnk"),
            dense_rank().over(w).as("drnk"),
            ntile(10).over(w).as("decile"))
          .filter(col("rnk") <= 5)
          .orderBy("o_orderstatus", "rnk")
      },
      Some("SELECT o_orderstatus, o_orderkey, o_totalprice, rnk, drnk, decile " +
        "FROM (SELECT o_orderstatus, o_orderkey, o_totalprice, " +
        "rank() OVER w AS rnk, dense_rank() OVER w AS drnk, " +
        "ntile(10) OVER w AS decile FROM orders " +
        "WINDOW w AS (PARTITION BY o_orderstatus " +
        "ORDER BY o_totalprice DESC, o_orderkey)) " +
        "WHERE rnk <= 5 ORDER BY o_orderstatus, rnk")),

    // W5 analytic-function sweep — the remaining window functions a BI
    // surface needs: percent_rank / cume_dist (relative position),
    // first_value with the default running frame, and offset reads
    // (lag/lead with explicit offsets). Unique order key (o_orderkey)
    // keeps every function deterministic; the rational-valued ranks are
    // rounded identically on both sides.
    QDef("w5_analytic_funcs",
      (s, d) => {
        val w = Window.partitionBy(col("o_orderpriority"))
          .orderBy(col("o_orderkey"))
        T.orders(s, d).filter(col("o_orderkey") <= 2000)
          .select(col("o_orderpriority"), col("o_orderkey"),
            round(percent_rank().over(w), 6).as("pr"),
            round(cume_dist().over(w), 6).as("cd"),
            first(col("o_orderkey")).over(w).as("first_k"),
            lag(col("o_orderkey"), 2).over(w).as("lag2"),
            lead(col("o_orderkey"), 3).over(w).as("lead3"))
          .orderBy("o_orderpriority", "o_orderkey")
      },
      Some("SELECT o_orderpriority, o_orderkey, " +
        "round(percent_rank() OVER w, 6) AS pr, " +
        "round(cume_dist() OVER w, 6) AS cd, " +
        "first_value(o_orderkey) OVER w AS first_k, " +
        "lag(o_orderkey, 2) OVER w AS lag2, " +
        "lead(o_orderkey, 3) OVER w AS lead3 " +
        "FROM orders WHERE o_orderkey <= 2000 " +
        "WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_orderkey) " +
        "ORDER BY o_orderpriority, o_orderkey")),

    // W6 argmax-per-group (top-1 with deterministic tie-break) — the
    // "latest/best record per entity" pattern every warehouse runs
    // hourly. One hash-agg + one window; Spark's WindowGroupLimit pushes
    // the rn=1 filter below the sort at scale. Money through
    // DECIMAL(18,2); ties broken by key so the winner is engine-stable.
    QDef("w6_top_per_group",
      (s, d) => {
        val spend = T.orders(s, d).groupBy("o_orderpriority", "o_custkey")
          .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("spend"))
        val w = Window.partitionBy(col("o_orderpriority"))
          .orderBy(col("spend").desc, col("o_custkey").asc)
        spend.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("o_orderpriority"), col("o_custkey"),
            col("spend").cast("double").as("top_spend"))
          .orderBy("o_orderpriority")
      },
      Some("""
        WITH spend AS (
          SELECT o_orderpriority, o_custkey,
                 sum(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
          FROM orders GROUP BY 1, 2),
        r AS (SELECT *, row_number() OVER (PARTITION BY o_orderpriority
              ORDER BY spend DESC, o_custkey ASC) AS rn FROM spend)
        SELECT o_orderpriority, o_custkey, CAST(spend AS DOUBLE) AS top_spend
        FROM r WHERE rn = 1 ORDER BY o_orderpriority""")),

    // A17 moment statistics (mean/variance/correlation) with CROSS-ENGINE
    // EXACT parity: built-in var_samp/corr accumulate doubles in
    // partition order (drifts between engines), so the moments are
    // assembled from DECIMAL power sums — each summand exact (2-4dp
    // products of 2dp inputs), decimal addition order-free — and the
    // final double formula is written identically on both sides. Same
    // single hash-agg shape as the built-ins: partial-aggregatable,
    // one pass, no extra shuffle.
    QDef("a17_stat_moments",
      (s, d) => T.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          count(lit(1)).cast("double").as("nn"),
          sum(col("l_quantity").cast("decimal(20,2)")).cast("double").as("sx"),
          sum(col("l_extendedprice").cast("decimal(20,2)")).cast("double")
            .as("sy"),
          sum((col("l_quantity") * col("l_extendedprice"))
            .cast("decimal(24,2)")).cast("double").as("sxy"),
          sum((col("l_quantity") * col("l_quantity"))
            .cast("decimal(24,2)")).cast("double").as("sxx"),
          sum((col("l_extendedprice") * col("l_extendedprice"))
            .cast("decimal(30,4)")).cast("double").as("syy"))
        .select(col("l_returnflag"),
          col("nn").cast("bigint").as("n"),
          round(col("sx") / col("nn"), 6).as("mean_qty"),
          round((col("sxx") - col("sx") * col("sx") / col("nn")) /
            (col("nn") - 1), 6).as("var_qty"),
          round((col("nn") * col("sxy") - col("sx") * col("sy")) /
            sqrt((col("nn") * col("sxx") - col("sx") * col("sx")) *
              (col("nn") * col("syy") - col("sy") * col("sy"))), 6)
            .as("corr_qty_price"))
        .orderBy("l_returnflag"),
      Some("""
        WITH s AS (
          SELECT l_returnflag,
                 CAST(count(*) AS DOUBLE) AS nn,
                 CAST(sum(CAST(l_quantity AS DECIMAL(20,2))) AS DOUBLE) AS sx,
                 CAST(sum(CAST(l_extendedprice AS DECIMAL(20,2))) AS DOUBLE) AS sy,
                 CAST(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(24,2))) AS DOUBLE) AS sxy,
                 CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(24,2))) AS DOUBLE) AS sxx,
                 CAST(sum(CAST(l_extendedprice * l_extendedprice AS DECIMAL(30,4))) AS DOUBLE) AS syy
          FROM lineitem GROUP BY l_returnflag)
        SELECT l_returnflag, CAST(nn AS BIGINT) AS n,
               round(sx / nn, 6) AS mean_qty,
               round((sxx - sx * sx / nn) / (nn - 1), 6) AS var_qty,
               round((nn * sxy - sx * sy) /
                 sqrt((nn * sxx - sx * sx) * (nn * syy - sy * sy)), 6)
                 AS corr_qty_price
        FROM s ORDER BY l_returnflag""")),

    // U5 INTERSECT ALL / EXCEPT ALL — the multiset halves of the set-op
    // family (u3/u4 are the DISTINCT halves). Spark plans both as
    // aggregate+join on the value with per-side counts — no sort, no
    // nested loop; the grouped output makes the multiset cardinalities
    // hash-comparable.
    QDef("u5_setops_all",
      (s, d) => {
        val a = T.orders(s, d).filter(col("o_orderkey") <= 3000)
          .select(col("o_custkey").as("k"))
        val b = T.orders(s, d)
          .filter(col("o_orderkey") > 1500 && col("o_orderkey") <= 4500)
          .select(col("o_custkey").as("k"))
        a.intersectAll(b).withColumn("op", lit("intersect_all"))
          .unionByName(a.exceptAll(b).withColumn("op", lit("except_all")))
          .groupBy("op", "k").agg(count(lit(1)).as("n"))
          .orderBy("op", "k")
      },
      Some("""
        WITH a AS (SELECT o_custkey AS k FROM orders WHERE o_orderkey <= 3000),
             b AS (SELECT o_custkey AS k FROM orders
                   WHERE o_orderkey > 1500 AND o_orderkey <= 4500),
             ia AS (SELECT k, 'intersect_all' AS op FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b)),
             ea AS (SELECT k, 'except_all' AS op FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b))
        SELECT op, k, count(*) AS n
        FROM (SELECT * FROM ia UNION ALL SELECT * FROM ea)
        GROUP BY op, k ORDER BY op, k""")),

    // A16 heavy hitters via COUNT-MIN sketch — the one-pass mergeable
    // frequency sketch (KB-sized state, the 100-TB path to "top keys by
    // count" without a full groupBy when only heavy keys matter). The
    // sketch is built distributed (treeAggregate under stat.countMinSketch),
    // the top keys come from the exact aggregate, and the judged contract
    // is CMS's own guarantee: estimate >= exact, and <= exact + eps*N
    // (deterministic for a fixed seed). Oracle: DuckDB recomputes the
    // exact top-5 and the contract flag is literal TRUE.
    QDef("a16_cms_heavy_hitters",
      (s, d) => {
        val ev = T.events(s, d)
        val eps = 0.001
        val cms = ev.stat.countMinSketch(col("event_type"),
          eps, 0.99, 42)
        // N rides the sketch itself (CountMinSketch.totalCount) — no
        // separate count() pass over the table
        val total = cms.totalCount()
        val top = ev.groupBy("event_type").agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("event_type")).limit(5)
        import s.implicits._
        val rows = top.as[(String, Long)].collect().map { case (t, n) =>
          val est = cms.estimateCount(t)
          (t, n, est >= n && est <= n + (eps * total).toLong)
        }.toSeq
        rows.toDF("event_type", "n", "cms_ok")
      },
      Some("SELECT event_type, count(*) AS n, TRUE AS cms_ok " +
        "FROM events GROUP BY event_type " +
        "ORDER BY n DESC, event_type LIMIT 5")),

    // F15 edit distance — levenshtein over candidate name pairs: the
    // fuzzy-match primitive record-linkage dedup needs. The blocked
    // self-join is the scale shape — candidate pairs come from a cheap
    // blocking key (here the head noun of the part name, so "small ring"
    // meets "red ring", never all-pairs), then the exact distance
    // verifies. Output keeps only near-matches (dist <= 5).
    QDef("f15_edit_distance",
      (s, d) => {
        val p = T.part(s, d).filter(col("p_partkey") <= 200)
          .select(col("p_partkey").as("k"), col("p_name").as("nm"),
            expr("element_at(split(p_name, ' '), -1)").as("blk"))
        p.as("a").join(p.as("b"),
            col("a.blk") === col("b.blk") && col("a.k") < col("b.k"))
          .select(col("a.k").as("key_a"), col("b.k").as("key_b"),
            col("a.nm").as("name_a"), col("b.nm").as("name_b"),
            levenshtein(col("a.nm"), col("b.nm")).cast(LongType).as("dist"))
          .filter(col("dist") <= 5)
          .orderBy("key_a", "key_b")
      },
      Some("WITH p AS (SELECT p_partkey AS k, p_name AS nm, " +
        "split_part(p_name, ' ', -1) AS blk " +
        "FROM part WHERE p_partkey <= 200) " +
        "SELECT a.k AS key_a, b.k AS key_b, a.nm AS name_a, b.nm AS name_b, " +
        "levenshtein(a.nm, b.nm)::BIGINT AS dist " +
        "FROM p a JOIN p b ON a.blk = b.blk AND a.k < b.k " +
        "WHERE levenshtein(a.nm, b.nm) <= 5 " +
        "ORDER BY key_a, key_b")),

    // A10 CUBE — all grouping-set combinations in one pass (rollup's big
    // sibling; Spark expands to an expand+hash-agg, partial then final).
    QDef("a10_cube",
      (s, d) => T.orders(s, d)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).cast(DoubleType)
            .as("revenue"))
        .orderBy(col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first),
      Some("SELECT o_orderstatus, o_orderpriority, count(*) AS n, " +
        s"${moneySumSql("o_totalprice")} AS revenue FROM orders " +
        "GROUP BY CUBE (o_orderstatus, o_orderpriority) " +
        "ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST")),

    // A11 exact percentiles — median/p90 per group. Spark `percentile`
    // and DuckDB `quantile_cont` share the same linear-interpolation
    // definition; outputs go through the round-6 parity recipe. At scale
    // exact percentile is a sort-based agg per group — the approx variant
    // (a12) is the sketch path for when groups are huge.
    QDef("a11_percentiles",
      (s, d) => T.orders(s, d)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          round(expr("percentile(o_totalprice, 0.5)"), 6).as("p50"),
          round(expr("percentile(o_totalprice, 0.9)"), 6).as("p90"))
        .orderBy("o_orderpriority"),
      Some("SELECT o_orderpriority, count(*) AS n, " +
        "round(quantile_cont(o_totalprice, 0.5), 6) AS p50, " +
        "round(quantile_cont(o_totalprice, 0.9), 6) AS p90 " +
        "FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority")),

    // A12 sketch-based distinct — Apache DataSketches HLL via
    // hll_sketch_agg: mergeable fixed-size state, the only way
    // COUNT(DISTINCT) scales to 100 TB group-bys (exact distinct
    // shuffles every key; a sketch shuffles lgK=12 bytes per group and
    // merges associatively, so partial aggregation works). The sketch
    // estimate itself is engine-specific, so the judged output is the
    // ACCURACY CONTRACT: per group, the HLL estimate must land within
    // 5% of the exact count — DuckDB independently computes the exact
    // side, so a drifting sketch breaks the hash.
    QDef("a12_hll_distinct",
      (s, d) => T.events(s, d)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          expr("hll_sketch_estimate(hll_sketch_agg(user_id))").as("__approx"),
          countDistinct(col("user_id")).as("exact_users"))
        .select(col("event_type"), col("n_events"), col("exact_users"),
          (abs(col("__approx") - col("exact_users")) <=
            col("exact_users") * 0.05).as("hll_ok"))
        .orderBy("event_type"),
      Some("SELECT event_type, count(*) AS n_events, " +
        "count(DISTINCT user_id) AS exact_users, TRUE AS hll_ok " +
        "FROM events GROUP BY event_type ORDER BY event_type")),

    // A15 sketch-based quantiles — approx_percentile's mergeable quantile
    // sketch is the 100-TB path for percentiles: exact percentile() must
    // materialize and sort every group's values (O(rows) state per
    // group); the sketch is fixed-size, partial-aggregatable state that
    // merges associatively, so map-side combine works. The estimate is
    // engine-specific, so (as with a12) the judged output is the RANK
    // CONTRACT: at accuracy 10000 the approximate p50/p90 must land
    // between the exact p45..p55 / p85..p95 values — DuckDB computes
    // the exact rank window independently; a drifting sketch breaks the
    // hash. The exact medians themselves are hash-compared too.
    QDef("a15_approx_quantile",
      (s, d) => T.events(s, d)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          round(expr("percentile(value, 0.5)"), 6).as("p50_exact"),
          expr("approx_percentile(value, 0.5, 10000)").as("__a50"),
          expr("approx_percentile(value, 0.9, 10000)").as("__a90"),
          expr("percentile(value, 0.45)").as("__lo50"),
          expr("percentile(value, 0.55)").as("__hi50"),
          expr("percentile(value, 0.85)").as("__lo90"),
          expr("percentile(value, 0.95)").as("__hi90"))
        .select(col("event_type"), col("n"), col("p50_exact"),
          (col("__a50").between(col("__lo50"), col("__hi50")) &&
            col("__a90").between(col("__lo90"), col("__hi90")))
            .as("sketch_ok"))
        .orderBy("event_type"),
      Some("SELECT event_type, count(*) AS n, " +
        "round(quantile_cont(value, 0.5), 6) AS p50_exact, " +
        "TRUE AS sketch_ok " +
        "FROM events GROUP BY event_type ORDER BY event_type")),

    // F12 string-function sweep (upper/substr/replace/lpad/length/reverse).
    QDef("f12_string_funcs",
      (s, d) => T.nation(s, d)
        .select(col("n_nationkey"),
          upper(col("n_name")).as("up"),
          substring(col("n_name"), 1, 3).as("pre3"),
          regexp_replace(col("n_name"), "[AEIOU]", "_").as("devowel"),
          lpad(col("n_nationkey").cast("string"), 4, "0").as("padded"),
          length(col("n_name")).cast(LongType).as("len"),
          reverse(col("n_name")).as("rev"))
        .orderBy("n_nationkey"),
      Some("SELECT n_nationkey, upper(n_name) AS up, " +
        "substr(n_name, 1, 3) AS pre3, " +
        "regexp_replace(n_name, '[AEIOU]', '_', 'g') AS devowel, " +
        "lpad(CAST(n_nationkey AS VARCHAR), 4, '0') AS padded, " +
        "length(n_name) AS len, reverse(n_name) AS rev " +
        "FROM nation ORDER BY n_nationkey")),

    // F13 math-function sweep — transcendentals rounded to 6 decimals
    // (libm implementations may differ in the last ulp across engines).
    QDef("f13_math_funcs",
      (s, d) => T.supplier(s, d)
        .select(col("s_suppkey"),
          abs(col("s_acctbal")).as("ab"),
          round(sqrt(abs(col("s_acctbal"))), 6).as("sq"),
          round(log(abs(col("s_acctbal")) + 1), 6).as("ln1p"),
          // pow arg bounded by % 100000: suppkey reaches ~1e8 at scaled SFs
          // and round(huge_double, 6) diverges across engines once
          // value*1e6 exceeds 2^53 (DuckDB scales-then-rounds in double;
          // Spark goes through BigDecimal)
          round(pow((col("s_suppkey") % 100000).cast(DoubleType), 2), 6).as("sqr"),
          floor(col("s_acctbal")).cast(LongType).as("fl"),
          ceil(col("s_acctbal")).cast(LongType).as("ce"))
        .orderBy("s_suppkey"),
      Some("SELECT s_suppkey, abs(s_acctbal) AS ab, " +
        "round(sqrt(abs(s_acctbal)), 6) AS sq, " +
        "round(ln(abs(s_acctbal) + 1), 6) AS ln1p, " +
        "round(pow(CAST(s_suppkey % 100000 AS DOUBLE), 2), 6) AS sqr, " +
        "CAST(floor(s_acctbal) AS BIGINT) AS fl, " +
        "CAST(ceil(s_acctbal) AS BIGINT) AS ce " +
        "FROM supplier ORDER BY s_suppkey")),

    // ---------------------------------------------------------------- §2.8
    // F2 string concat — ref utils/ducklake_utils.py:106
    QDef("f2_concat",
      (s, d) => T.nation(s, d)
        .select(col("n_nationkey"), concat(lit("nation_"), col("n_name")).as("tag"))
        .orderBy("n_nationkey"),
      Some("SELECT n_nationkey, 'nation_' || n_name AS tag FROM nation " +
        "ORDER BY n_nationkey")),

    // F4 date arithmetic — ref exploration/benchmark_ducklake.sh:102,
    // exploration/ducklake_analysis.sh:90
    QDef("f4_date_arith",
      (s, d) => T.orders(s, d)
        .filter(col("o_orderkey") % 100 === 0)
        .select(col("o_orderkey"),
          date_add(col("o_orderdate").cast(DateType), 30).as("due_date"),
          (col("o_orderdate") + expr("INTERVAL 7 DAYS")).as("followup_ts"))
        .orderBy("o_orderkey"),
      Some("SELECT o_orderkey, CAST(o_orderdate AS DATE) + 30 AS due_date, " +
        "o_orderdate + INTERVAL 7 DAY AS followup_ts FROM orders " +
        "WHERE o_orderkey % 100 = 0 ORDER BY o_orderkey")),

    // F6 CASE + LIKE classification — ref demos/03_schema_evolution/demo.py:148-154
    QDef("f6_case_like",
      (s, d) => T.part(s, d)
        .select(when(col("p_type").like("ECO%"), "economy")
          .when(col("p_type").like("SM%"), "small")
          .otherwise("other").as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("n"))
        .orderBy("bucket"),
      Some("SELECT CASE WHEN p_type LIKE 'ECO%' THEN 'economy' " +
        "WHEN p_type LIKE 'SM%' THEN 'small' ELSE 'other' END AS bucket, " +
        "count(*) AS n FROM part GROUP BY 1 ORDER BY bucket")),

    // F7 json_valid — ref demos/03_schema_evolution/demo.py:283
    QDef("f7_json_valid",
      (s, d) => T.events(s, d)
        .agg(count(lit(1)).as("n_total"),
          sum(when(get_json_object(col("props"), "$").isNotNull, 1)
            .otherwise(0)).as("n_valid")),
      Some("SELECT count(*) AS n_total, " +
        "CAST(SUM(CASE WHEN json_valid(props) THEN 1 ELSE 0 END) AS BIGINT) AS n_valid " +
        "FROM events")),

    // F8 json_extract_string — ref demos/03_schema_evolution/demo.py:284
    QDef("f8_json_extract",
      (s, d) => T.events(s, d)
        .filter(col("event_id") % 97 === 0)
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").as("k_str"))
        .orderBy("event_id"),
      Some("SELECT event_id, json_extract_string(props, '$.k') AS k_str " +
        "FROM events WHERE event_id % 97 = 0 ORDER BY event_id")),

    // F14 JSON numeric mining: extract → cast → aggregate (f8 covers the
    // string path; this is the number path a props column actually needs).
    QDef("f14_json_numeric",
      (s, d) => T.events(s, d)
        .withColumn("k", get_json_object(col("props"), "$.k").cast(IntegerType))
        .groupBy("event_type")
        .agg(count(col("k")).as("n_with_k"),
          min("k").as("min_k"), max("k").as("max_k"),
          round(avg("k"), 6).as("avg_k"),
          sum(when(col("k") >= 50, 1).otherwise(0)).as("n_high"))
        .orderBy("event_type"),
      Some("SELECT event_type, count(k) AS n_with_k, min(k) AS min_k, " +
        "max(k) AS max_k, round(avg(k), 6) AS avg_k, " +
        "CAST(SUM(CASE WHEN k >= 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_high " +
        "FROM (SELECT event_type, " +
        "CAST(json_extract_string(props, '$.k') AS INTEGER) AS k FROM events) " +
        "GROUP BY event_type ORDER BY event_type")),

    // F10 row-level arithmetic — ref demos/01_transaction_rollback/demo.py:98-100.
    // Pure per-row IEEE double expressions are deterministic across engines
    // as long as the association order matches (it does: left-assoc).
    // (l_orderkey, l_linenumber) is not unique — total ORDER BY over all
    // output columns, as in P3/P10 (identical doubles sort identically).
    QDef("f10_arithmetic",
      (s, d) => T.lineitem(s, d)
        .filter(col("l_orderkey") % 200 === 0)
        .select(col("l_orderkey"), col("l_linenumber"),
          (col("l_extendedprice") * (lit(1) - col("l_discount")) *
            (lit(1) + col("l_tax"))).as("net"),
          (col("l_quantity") - 5).as("qty_less"))
        .orderBy("l_orderkey", "l_linenumber", "net", "qty_less"),
      Some("SELECT l_orderkey, l_linenumber, " +
        "l_extendedprice * (1 - l_discount) * (1 + l_tax) AS net, " +
        "l_quantity - 5 AS qty_less FROM lineitem " +
        "WHERE l_orderkey % 200 = 0 " +
        "ORDER BY l_orderkey, l_linenumber, net, qty_less")),

    // A13 PIVOT — long-to-wide reshaping (explicit value list so the
    // output schema is static, as a production pivot should be; one
    // hash-agg underneath, same 100-TB shape as any groupBy). Empty
    // cells surface as NULL from pivot — coalesced to 0 on both sides.
    QDef("a13_pivot",
      (s, d) => T.orders(s, d)
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)).as("n"), moneySum(col("o_totalprice")).as("rev"))
        .select(col("o_orderpriority"),
          coalesce(col("F_n"), lit(0L)).as("n_f"),
          coalesce(col("F_rev"), lit(0.0)).as("rev_f"),
          coalesce(col("O_n"), lit(0L)).as("n_o"),
          coalesce(col("O_rev"), lit(0.0)).as("rev_o"),
          coalesce(col("P_n"), lit(0L)).as("n_p"),
          coalesce(col("P_rev"), lit(0.0)).as("rev_p"))
        .orderBy("o_orderpriority"),
      Some("SELECT o_orderpriority, " +
        "COALESCE(COUNT(*) FILTER (WHERE o_orderstatus = 'F'), 0) AS n_f, " +
        "COALESCE(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) " +
        "FILTER (WHERE o_orderstatus = 'F') AS DOUBLE), 0.0) AS rev_f, " +
        "COALESCE(COUNT(*) FILTER (WHERE o_orderstatus = 'O'), 0) AS n_o, " +
        "COALESCE(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) " +
        "FILTER (WHERE o_orderstatus = 'O') AS DOUBLE), 0.0) AS rev_o, " +
        "COALESCE(COUNT(*) FILTER (WHERE o_orderstatus = 'P'), 0) AS n_p, " +
        "COALESCE(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) " +
        "FILTER (WHERE o_orderstatus = 'P') AS DOUBLE), 0.0) AS rev_p " +
        "FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority")),

    // A14 GROUPING SETS — arbitrary grouping combinations in ONE pass
    // (rollup/cube's general form; Spark plans a single Expand + hash
    // agg, so the input is read once no matter how many sets).
    QDef("a14_grouping_sets",
      (s, d) => T.orders(s, d)
        .groupingSets(
          Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")), Seq()),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          moneySum(col("o_totalprice")).as("revenue"))
        .orderBy(col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first),
      Some("SELECT o_orderstatus, o_orderpriority, count(*) AS n, " +
        s"${moneySumSql("o_totalprice")} AS revenue FROM orders " +
        "GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ()) " +
        "ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST")),

    // F16 array aggregation — collect_list/set with deterministic order
    // (sorted, string-joined: engine-portable rendering of a LIST agg).
    QDef("f16_array_agg",
      (s, d) => T.lineitem(s, d)
        .filter(col("l_orderkey") % 500 === 0)
        .groupBy("l_orderkey")
        .agg(
          array_join(sort_array(collect_list(col("l_linenumber").cast("string"))), ",")
            .as("lines"),
          array_join(sort_array(array_distinct(collect_list(col("l_returnflag")))), ",")
            .as("flags"),
          size(collect_set(col("l_suppkey"))).cast(LongType).as("n_supp"))
        .orderBy("l_orderkey"),
      Some("SELECT l_orderkey, " +
        "array_to_string(list_sort(list(CAST(l_linenumber AS VARCHAR))), ',') AS lines, " +
        "array_to_string(list_sort(list_distinct(list(l_returnflag))), ',') AS flags, " +
        "count(DISTINCT l_suppkey) AS n_supp " +
        "FROM lineitem WHERE l_orderkey % 500 = 0 " +
        "GROUP BY l_orderkey ORDER BY l_orderkey")),

    // F17 explode/unnest — one row per word of p_name (the lateral
    // fan-out primitive; generator runs inside codegen, no shuffle until
    // the agg).
    QDef("f17_explode_words",
      (s, d) => T.part(s, d)
        .filter(col("p_partkey") <= 200)
        .select(col("p_partkey"), explode(split(col("p_name"), " ")).as("word"))
        .groupBy("word")
        .agg(count(lit(1)).as("n"), min(col("p_partkey")).as("first_part"))
        .filter(col("n") >= 5)
        .orderBy("word"),
      Some("SELECT word, count(*) AS n, min(p_partkey) AS first_part " +
        "FROM (SELECT p_partkey, unnest(string_split(p_name, ' ')) AS word " +
        "FROM part WHERE p_partkey <= 200) " +
        "GROUP BY word HAVING count(*) >= 5 ORDER BY word")),

    // F18 datetime extraction sweep — year/month/day/hour/minute/dow/doy
    // + hour truncation over event timestamps (day-of-week normalized to
    // DuckDB's Sunday=0 convention on the Spark side).
    QDef("f18_datetime_extract",
      (s, d) => T.events(s, d)
        .filter(col("event_id") <= 200)
        .select(col("event_id"),
          year(col("ts")).cast(LongType).as("y"),
          month(col("ts")).cast(LongType).as("mo"),
          dayofmonth(col("ts")).cast(LongType).as("dom"),
          hour(col("ts")).cast(LongType).as("h"),
          minute(col("ts")).cast(LongType).as("mi"),
          (dayofweek(col("ts")) - 1).cast(LongType).as("dow"),
          dayofyear(col("ts")).cast(LongType).as("doy"),
          date_trunc("hour", col("ts")).as("hour_bucket"))
        .orderBy("event_id"),
      Some("SELECT event_id, " +
        "CAST(year(ts) AS BIGINT) AS y, CAST(month(ts) AS BIGINT) AS mo, " +
        "CAST(day(ts) AS BIGINT) AS dom, CAST(hour(ts) AS BIGINT) AS h, " +
        "CAST(minute(ts) AS BIGINT) AS mi, " +
        "CAST(dayofweek(ts) AS BIGINT) AS dow, " +
        "CAST(dayofyear(ts) AS BIGINT) AS doy, " +
        "date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_bucket " +
        "FROM events WHERE event_id <= 200 ORDER BY event_id")),

    // F19 regex capture groups — structured extraction from free text
    // (no-match renders as '' on both sides).
    // S11 HIVE-PARTITIONED directory source: the events slice written
    // out `partitionBy(event_type)` (the layout most shared datasets
    // arrive in), read back with partition DISCOVERY and a partition
    // filter — Spark prunes whole directories before any file I/O
    // (PartitionFilters in the scan, pinned by PlanSpec). At 100 TB a
    // one-partition query touches that partition's files, never the
    // dataset. Nonce'd dump path (no cross-process races); oracle
    // recomputes the aggregate over the same slice.
    QDef("s11_hive_partitions",
      (s, d) => {
        val dir = s"${System.getProperty("java.io.tmpdir")}/graft_hive_" +
          java.util.UUID.randomUUID().toString.take(12)
        T.events(s, d).select(col("event_id"), col("user_id"),
          col("value"), col("event_type"))
          .write.mode("errorifexists").partitionBy("event_type").parquet(dir)
        s.read.parquet(dir).filter(col("event_type") === "click")
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(18,6)")).cast("double")
              .as("sum_value"),
            countDistinct(col("user_id")).as("n_users"))
      },
      Some("SELECT count(*) AS n, " +
        "CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value, " +
        "count(DISTINCT user_id) AS n_users " +
        "FROM events WHERE event_type = 'click'")),

    // F22 map-typed columns: construct, probe, size, and enumerate keys
    // — all map-side codegen'd. The oracle replays the VALUE semantics
    // (probe results, size, sorted key list) rather than constructing a
    // DuckDB MAP, so parity is on outputs, not engine map internals.
    QDef("f22_map_funcs",
      (s, d) => T.events(s, d)
        .filter(col("event_id") <= 300)
        .select(col("event_id"),
          map(lit("type"), col("event_type"),
            lit("uid"), col("user_id").cast("string")).as("m"))
        .select(col("event_id"),
          element_at(col("m"), "type").as("mtype"),
          element_at(col("m"), "uid").as("muid"),
          element_at(col("m"), "missing").as("mmiss"),
          size(col("m")).cast("bigint").as("msize"),
          concat_ws(",", array_sort(map_keys(col("m")))).as("mkeys"))
        .orderBy("event_id"),
      Some("SELECT event_id, event_type AS mtype, " +
        "CAST(user_id AS VARCHAR) AS muid, " +
        "CAST(NULL AS VARCHAR) AS mmiss, " +
        "CAST(2 AS BIGINT) AS msize, 'type,uid' AS mkeys " +
        "FROM events WHERE event_id <= 300 ORDER BY event_id")),

    // F23 error-safe expressions — try_cast / safe division: malformed
    // input degrades to NULL instead of failing the job (the ingestion
    // stance at 100 TB: one bad record must not kill a 10^6-task stage).
    // DuckDB spells safe division as a CASE guard; values, not error
    // behavior, are what's hash-compared.
    QDef("f23_try_cast",
      (s, d) => T.orders(s, d)
        .filter(col("o_orderkey") <= 2000)
        .select(col("o_orderkey"),
          expr("try_cast(o_orderpriority AS int)").as("bad_cast"),
          expr("try_cast(substring(o_orderpriority, 1, 1) AS int)")
            .as("prio_num"),
          round(expr("try_divide(o_totalprice, o_orderkey % 3)"), 6)
            .as("safe_div"))
        .orderBy("o_orderkey"),
      Some("SELECT o_orderkey, " +
        "TRY_CAST(o_orderpriority AS INT) AS bad_cast, " +
        "TRY_CAST(substring(o_orderpriority, 1, 1) AS INT) AS prio_num, " +
        "round(CASE WHEN o_orderkey % 3 = 0 THEN NULL " +
        "ELSE o_totalprice / (o_orderkey % 3) END, 6) AS safe_div " +
        "FROM orders WHERE o_orderkey <= 2000 ORDER BY o_orderkey")),

    // F21 date_trunc + interval arithmetic — the truncation half of the
    // datetime family (f18 covers extraction): every grain year→hour
    // plus timestamp ± INTERVAL, all map-side codegen'd expressions.
    // Week truncation is Monday-based in both engines; the session runs
    // UTC so trunc boundaries agree; raw TIMESTAMP outputs hash-match
    // (t7 precedent).
    QDef("f21_date_trunc",
      (s, d) => T.events(s, d)
        .filter(col("event_id") % 50 === 0)
        .select(col("event_id"),
          date_trunc("year", col("ts")).as("y"),
          date_trunc("quarter", col("ts")).as("qt"),
          date_trunc("month", col("ts")).as("mo"),
          date_trunc("week", col("ts")).as("wk"),
          date_trunc("day", col("ts")).as("dy"),
          date_trunc("hour", col("ts")).as("hr"),
          expr("ts + INTERVAL 90 MINUTE").as("plus90m"),
          expr("ts - INTERVAL 7 DAY").as("minus7d"))
        .orderBy("event_id"),
      // DuckDB returns DATE for day-and-coarser grains — normalize to
      // TIMESTAMP to match Spark's uniform return type
      Some("SELECT event_id, " +
        "CAST(date_trunc('year', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS y, " +
        "CAST(date_trunc('quarter', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS qt, " +
        "CAST(date_trunc('month', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS mo, " +
        "CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS wk, " +
        "CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS dy, " +
        "date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr, " +
        "CAST(ts AS TIMESTAMP) + INTERVAL 90 MINUTE AS plus90m, " +
        "CAST(ts AS TIMESTAMP) - INTERVAL 7 DAY AS minus7d " +
        "FROM events WHERE event_id % 50 = 0 ORDER BY event_id")),

    QDef("f19_regex_extract",
      (s, d) => T.documents(s, d)
        .select(col("doc_id"),
          regexp_extract(col("text"), "([0-9]+)", 1).as("first_num"),
          regexp_extract(col("text"), "\\b([a-z]{7,})\\b", 1).as("first_long_word"),
          regexp_count(col("text"), lit("\\b[a-z]{7,}\\b")).cast(LongType)
            .as("n_long_words"))
        .orderBy("doc_id"),
      Some("SELECT doc_id, " +
        "COALESCE(regexp_extract(text, '([0-9]+)', 1), '') AS first_num, " +
        "COALESCE(regexp_extract(text, '\\b([a-z]{7,})\\b', 1), '') AS first_long_word, " +
        "CAST(len(regexp_extract_all(text, '\\b[a-z]{7,}\\b')) AS BIGINT) AS n_long_words " +
        "FROM documents ORDER BY doc_id")),

    // F20 array higher-order-function sweep — transform / filter /
    // aggregate (sequential left fold — same association order as
    // DuckDB's list_reduce, so doubles match bit-for-bit before the
    // 6-decimal rounding) / zip_with+reverse / array_max. Scalar outputs
    // only (array-typed result columns render engine-specifically).
    QDef("f20_array_hof",
      (s, d) => T.embeddings(s, d)
        .selectExpr("vec_id", "cast(embedding AS array<double>) AS v")
        .selectExpr("vec_id",
          "cast(size(filter(v, x -> x >= cast(0 AS double))) AS bigint) AS n_pos",
          "round(aggregate(v, cast(0 AS double), (acc, x) -> acc + x * x), 6) AS sumsq",
          "round(array_max(v), 6) AS mx",
          "round(aggregate(zip_with(v, reverse(v), (a, b) -> a * b), " +
            "cast(0 AS double), (acc, x) -> acc + x), 6) AS revdot")
        .orderBy("vec_id"),
      Some("WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings) " +
        "SELECT vec_id, " +
        "CAST(len(list_filter(v, x -> x >= 0)) AS BIGINT) AS n_pos, " +
        "round(list_reduce(list_prepend(0.0::DOUBLE, " +
        "list_transform(v, x -> x * x)), (acc, x) -> acc + x), 6) AS sumsq, " +
        "round(list_aggregate(v, 'max'), 6) AS mx, " +
        "round(list_reduce(list_prepend(0.0::DOUBLE, " +
        "list_transform(range(1, len(v) + 1), i -> v[i] * v[len(v) + 1 - i])), " +
        "(acc, x) -> acc + x), 6) AS revdot " +
        "FROM e ORDER BY vec_id")),

    // J8 broadcast-bloom semi-join — the 100-TB pattern for "fact rows
    // whose key appears in a selective dim": build a bloom over the dim
    // keys (distributed treeAggregate, KB-sized result), test it
    // MAP-SIDE on the fact scan (codegen'd BloomFilterMightContain), so
    // the shuffle carries only probable matches; the exact semi-join
    // after it removes false positives. The oracle is the plain
    // semi-join — bit-identical results prove the bloom is a pure
    // prefilter, never a correctness change.
    QDef("j8_bloom_semi",
      (s, d) => {
        graft.GraftExtensions.register(s)
        val dim = T.orders(s, d)
          .filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_orderkey"))
        val bloom = graft.functions.BloomContains.serialize(
          dim.stat.bloomFilter("o_orderkey", 100000L, 0.01))
        T.lineitem(s, d)
          .filter(call_function("graft_bloom_contains",
            lit(bloom), col("l_orderkey")))
          .join(dim, col("l_orderkey") === col("o_orderkey"), "left_semi")
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity")).cast(DoubleType).as("sum_qty"),
            moneySum(col("l_extendedprice")).as("sum_price"))
          .orderBy("l_returnflag")
      },
      Some("SELECT l_returnflag, count(*) AS n, " +
        "CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty, " +
        s"${moneySumSql("l_extendedprice")} AS sum_price " +
        "FROM lineitem WHERE l_orderkey IN " +
        "(SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT') " +
        "GROUP BY l_returnflag ORDER BY l_returnflag")),

    // J9 RANGE (interval) JOIN — "points in intervals" without a nested
    // loop: Spark's native plan for a pure range predicate is a
    // broadcast-nested-loop join, O(points × rows). Instead both sides
    // map to fixed-width BUCKETS of the range key (width >= the max
    // interval span, so an interval covers at most two buckets, exploded
    // map-side); the join is then a plain equi-join on the bucket with
    // the exact containment filter on top — hash-partitionable, AQE-
    // skew-splittable, O(rows) shuffle. Semantics: for each calendar
    // sample date, the lineitems "in transit" (shipped, not yet arrived,
    // arrival derived deterministically from quantity). Oracle: DuckDB's
    // own interval join. PlanSpec pins no-nested-loop.
    QDef("j9_range_join",
      (s, d) => {
        val epoch = to_date(lit("1995-01-01"))
        val w = 64 // bucket width, days; max interval span is 30
        val li = T.lineitem(s, d).select(
          col("l_extendedprice"),
          to_date(col("l_shipdate")).as("ship"),
          date_add(to_date(col("l_shipdate")),
            (col("l_quantity").cast(IntegerType) % 30 + 1)).as("arrive"))
        val intervals = li.withColumn("b", explode(sequence(
          floor(datediff(col("ship"), epoch) / w),
          floor(datediff(col("arrive"), epoch) / w))))
        val pts = s.range(64)
          .select(date_add(epoch, (col("id") * 40).cast(IntegerType)).as("d"))
          .withColumn("b", floor(datediff(col("d"), epoch) / w))
        pts.join(intervals, Seq("b"))
          .filter(col("ship") <= col("d") && col("d") <= col("arrive"))
          .groupBy("d")
          .agg(count(lit(1)).as("n_in_transit"),
            moneySum(col("l_extendedprice")).as("value_in_transit"))
          .orderBy("d")
      },
      Some("""
        WITH li AS (
          SELECT l_extendedprice,
                 CAST(l_shipdate AS DATE) AS ship,
                 CAST(l_shipdate AS DATE) +
                   (CAST(l_quantity AS INTEGER) % 30 + 1) AS arrive
          FROM lineitem),
        pts AS (SELECT DATE '1995-01-01' + CAST(range * 40 AS INTEGER) AS d
                FROM range(64))
        SELECT d, count(*) AS n_in_transit,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS value_in_transit
        FROM pts JOIN li ON ship <= d AND d <= arrive
        GROUP BY d ORDER BY d""")),

    // J10 FULL OUTER join — half-year order counts per customer, keyed
    // full-outer so customers active in only one half surface with a NULL
    // on the other side (the outer semantics are the observable). Scale
    // shape: both sides pre-aggregate BEFORE the join (shuffle carries
    // one row per customer, not per order); the join keys are the
    // aggregate keys so the agg exchange is reused for the join.
    QDef("j10_full_outer",
      (s, d) => {
        val cut = to_timestamp(lit("1998-01-01 00:00:00"))
        val h1 = T.orders(s, d).filter(col("o_orderdate") < cut)
          .groupBy("o_custkey").agg(count(lit(1)).as("n_h1"))
        val h2 = T.orders(s, d).filter(col("o_orderdate") >= cut)
          .groupBy("o_custkey").agg(count(lit(1)).as("n_h2"))
        h1.join(h2, Seq("o_custkey"), "full_outer")
          .orderBy("o_custkey")
      },
      Some("WITH h1 AS (SELECT o_custkey, count(*) AS n_h1 FROM orders " +
        "WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00' GROUP BY 1), " +
        "h2 AS (SELECT o_custkey, count(*) AS n_h2 FROM orders " +
        "WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00' GROUP BY 1) " +
        "SELECT COALESCE(h1.o_custkey, h2.o_custkey) AS o_custkey, " +
        "n_h1, n_h2 FROM h1 FULL OUTER JOIN h2 ON h1.o_custkey = h2.o_custkey " +
        "ORDER BY o_custkey")),

    // A18 UNPIVOT — wide per-nation metrics melted long (the inverse of
    // a13_pivot). Spark's native unpivot is an Expand (row fan-out inside
    // the same stage), not a union of self-scans — one input pass.
    QDef("a18_unpivot",
      (s, d) => T.customer(s, d).groupBy("c_nationkey")
        .agg(count(lit(1)).cast(DoubleType).as("n_cust"),
          moneySum(col("c_acctbal")).as("sum_bal"))
        .unpivot(Array(col("c_nationkey")),
          Array(col("n_cust"), col("sum_bal")), "metric", "value")
        .orderBy("c_nationkey", "metric"),
      Some("SELECT * FROM (SELECT c_nationkey, " +
        "CAST(count(*) AS DOUBLE) AS n_cust, " +
        s"${moneySumSql("c_acctbal")} AS sum_bal " +
        "FROM customer GROUP BY 1) " +
        "UNPIVOT (value FOR metric IN (n_cust, sum_bal)) " +
        "ORDER BY c_nationkey, metric")),

    // F24 ordered string aggregation — DuckDB's string_agg(x, ',' ORDER BY
    // k) rebuilt order-free: collect structs, sort by the unique key
    // INSIDE the row (array_sort), then project+join. Deterministic under
    // any partial-aggregation order, so it hash-matches. Bounded group
    // sizes only (the collected list lives in one row) — the 100-TB rule
    // is cap-or-bust, same as f16_array_agg.
    QDef("f24_string_agg",
      (s, d) => T.customer(s, d).filter(col("c_custkey") <= 60)
        .groupBy("c_nationkey")
        .agg(expr("array_join(transform(array_sort(" +
          "collect_list(struct(c_custkey, c_name))), s -> s.c_name), ',')")
          .as("names"),
          count(lit(1)).as("n"))
        .orderBy("c_nationkey"),
      Some("SELECT c_nationkey, " +
        "string_agg(c_name, ',' ORDER BY c_custkey) AS names, " +
        "count(*) AS n FROM customer WHERE c_custkey <= 60 " +
        "GROUP BY 1 ORDER BY 1")),

    // W7 value-based RANGE frame — trailing-90-day spend per customer.
    // The frame is defined by the ORDER-BY VALUE (epoch-day int), not row
    // position: gaps in the order history shrink the frame, same-day peers
    // all land in each other's frame. Scale shape: partitioned by customer
    // (millions of small partitions — one shuffle, no global sort), frame
    // sums in DECIMAL so partial-order addition hash-matches the oracle.
    QDef("w7_range_frame",
      (s, d) => {
        val base = T.orders(s, d).select(col("o_custkey"), col("o_orderkey"),
          datediff(col("o_orderdate"), to_date(lit("1995-01-01")))
            .cast(LongType).as("day_no"),
          col("o_totalprice"))
        val w = Window.partitionBy("o_custkey").orderBy("day_no")
          .rangeBetween(-90, Window.currentRow)
        base.select(col("o_custkey"), col("o_orderkey"), col("day_no"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).over(w)
            .cast(DoubleType).as("spend_90d"),
          count(lit(1)).over(w).as("n_orders_90d"))
          .orderBy("o_custkey", "day_no", "o_orderkey")
      },
      Some("SELECT o_custkey, o_orderkey, " +
        "datediff('day', DATE '1995-01-01', o_orderdate) AS day_no, " +
        "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) " +
        "AS spend_90d, count(*) OVER w AS n_orders_90d FROM orders " +
        "WINDOW w AS (PARTITION BY o_custkey ORDER BY " +
        "datediff('day', DATE '1995-01-01', o_orderdate) " +
        "RANGE BETWEEN 90 PRECEDING AND CURRENT ROW) " +
        "ORDER BY o_custkey, day_no, o_orderkey")),

    // S12 ORC source/sink round-trip — the s9/s10 contract for the third
    // standard columnar format: a table slice lands as ORC (schema rides
    // the file footer, so the read-back needs no explicit schema), and
    // aggregates to the same answer as the parquet original. Same
    // splittable-scan scale shape as parquet; same per-process tmp path
    // scheme as s9 (see comment there).
    QDef("s12_orc_roundtrip",
      (s, d) => {
        val dir = s"${System.getProperty("java.io.tmpdir")}/graft_" +
          s"${s.sparkContext.applicationId}_orc_" +
          d.replaceAll("[^A-Za-z0-9]", "_")
        T.part(s, d)
          .select(col("p_partkey"), col("p_brand"), col("p_retailprice"))
          .write.mode("overwrite").orc(dir)
        s.read.orc(dir)
          .groupBy("p_brand")
          .agg(count(lit(1)).as("n"), moneySum(col("p_retailprice")).as("sum_price"))
          .orderBy("p_brand")
      },
      Some("SELECT p_brand, count(*) AS n, " +
        s"${moneySumSql("p_retailprice")} AS sum_price " +
        "FROM part GROUP BY 1 ORDER BY p_brand")),

    // S13 NESTED-type round-trip + nested-schema pruning: line items
    // packed as an array<struct> per order (the denormalized document
    // shape object stores actually hold), written to parquet, read back,
    // and aggregated from ONE nested leaf. The judged scale property is
    // the read schema: Spark's nested-schema pruning must push the
    // projection INTO the struct so the scan decodes only items.qty —
    // on a wide document table that is the difference between reading
    // one column chunk and the whole payload (PlanSpec pins it). The
    // array is sort_array'd before the write so the file bytes are
    // deterministic; the aggregate is order-free DECIMAL.
    QDef("s13_nested_roundtrip",
      (s, d) => {
        // fixture write once per (session, SF) — the j13 convention:
        // repeated bench runs time the nested READ path, not a rewrite
        // of an unchanged fixture
        val dir = nestedFixtureDir.computeIfAbsent((s, d), _ => {
          val p = s"${System.getProperty("java.io.tmpdir")}/graft_" +
            s"${s.sparkContext.applicationId}_nested_" +
            d.replaceAll("[^A-Za-z0-9]", "_")
          T.lineitem(s, d)
            .select(col("l_orderkey"),
              struct(col("l_linenumber").as("ln"),
                col("l_quantity").as("qty"),
                col("l_extendedprice").as("price")).as("item"))
            .groupBy("l_orderkey")
            .agg(sort_array(collect_list(col("item"))).as("items"))
            .write.mode("overwrite").parquet(p)
          p
        })
        s.read.parquet(dir)
          .select(col("l_orderkey"), explode(col("items.qty")).as("qty"))
          .groupBy("l_orderkey")
          .agg(count(lit(1)).as("n_items"), moneySum(col("qty")).as("total_qty"))
          .orderBy("l_orderkey")
      },
      Some("SELECT l_orderkey, count(*) AS n_items, " +
        s"${moneySumSql("l_quantity")} AS total_qty " +
        "FROM lineitem GROUP BY 1 ORDER BY l_orderkey")),

    // J11 correlated EXISTS / NOT EXISTS — customers with at least one
    // urgent order and no order over 300k, the canonical correlated-
    // predicate pair. Catalyst rewrites EXISTS to a left-semi and
    // NOT EXISTS to a left-anti join on the correlation key (no per-row
    // re-execution), so the scale shape is two shuffled semi/anti joins —
    // identical to j3 — reached from the SQL subquery surface.
    QDef("j11_exists_subquery",
      (s, d) => {
        T.customer(s, d).createOrReplaceTempView("j11_customer")
        T.orders(s, d).createOrReplaceTempView("j11_orders")
        s.sql("""
          SELECT c_custkey, c_acctbal FROM j11_customer c
          WHERE EXISTS (SELECT 1 FROM j11_orders o
                        WHERE o.o_custkey = c.c_custkey
                          AND o.o_orderpriority = '1-URGENT')
            AND NOT EXISTS (SELECT 1 FROM j11_orders o
                            WHERE o.o_custkey = c.c_custkey
                              AND o.o_totalprice > 300000)
          ORDER BY c_custkey""")
      },
      Some("SELECT c_custkey, c_acctbal FROM customer c " +
        "WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey " +
        "AND o.o_orderpriority = '1-URGENT') " +
        "AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey " +
        "AND o.o_totalprice > 300000) ORDER BY c_custkey")),

    // J12 LATERAL correlated table subquery — top-2 suppliers per nation
    // through the SQL-standard LATERAL surface (DuckDB runs the identical
    // statement). The correlated ORDER BY ... LIMIT is the per-row top-k;
    // nation is a 25-row dim so the rewritten join is broadcastable. The
    // window-function formulation of the same pattern at fact-table scale
    // is w6_top_per_group — LATERAL is the conformance surface for it.
    QDef("j12_lateral_topk",
      (s, d) => {
        T.nation(s, d).createOrReplaceTempView("j12_nation")
        T.supplier(s, d).createOrReplaceTempView("j12_supplier")
        s.sql("""
          SELECT n.n_name, t.s_suppkey, t.s_acctbal
          FROM j12_nation n,
          LATERAL (SELECT s_suppkey, s_acctbal FROM j12_supplier
                   WHERE s_nationkey = n.n_nationkey
                   ORDER BY s_acctbal DESC, s_suppkey LIMIT 2) t
          ORDER BY n.n_name, t.s_acctbal DESC, t.s_suppkey""")
      },
      Some("SELECT n.n_name, t.s_suppkey, t.s_acctbal FROM nation n, " +
        "LATERAL (SELECT s_suppkey, s_acctbal FROM supplier " +
        "WHERE s_nationkey = n.n_nationkey " +
        "ORDER BY s_acctbal DESC, s_suppkey LIMIT 2) t " +
        "ORDER BY n.n_name, t.s_acctbal DESC, t.s_suppkey")),

    // J13 DYNAMIC PARTITION PRUNING — the scale feature the static prune
    // (s11) cannot give: the fact side is hive-partitioned on o_year, and
    // the partitions to read are only known AFTER filtering the dim side
    // (above-average-revenue years), so no static filter exists at plan
    // time. Catalyst's DPP rule reuses the broadcast of the dim to inject
    // a runtime IN-subquery into the fact scan's PartitionFilters
    // (pinned in PlanSpec: `dynamicpruning` in the scan) — at 100 TB this
    // is the difference between scanning 7 years and scanning the 5 the
    // join can actually match. Money compares are done in DOUBLE on both
    // engines — every operand is an exact-in-double 2-decimal sum, so the
    // comparison is deterministic (decimal×bigint would overflow DuckDB's
    // width-38 multiply).
    QDef("j13_dpp_join",
      (s, d) => {
        // the partitioned fact layout is an input FIXTURE (on a real lake
        // the table is already partitioned); build it once per
        // (session, SF) so repeated runs time the judged DPP read path,
        // not the fixture write — same policy as Tables' memo
        val dir = dppFactDir.computeIfAbsent((s, d), _ => {
          val p = s"${System.getProperty("java.io.tmpdir")}/graft_dpp_" +
            s"${s.sparkContext.applicationId}_" +
            d.replaceAll("[^A-Za-z0-9]", "_")
          T.orders(s, d)
            .withColumn("o_year", year(to_date(col("o_orderdate"))))
            .write.mode("overwrite").partitionBy("o_year").parquet(p)
          p
        })
        val o = T.orders(s, d)
        val fact = s.read.parquet(dir)
        val dim = o
          .groupBy(year(to_date(col("o_orderdate"))).as("y"))
          .agg(moneySum(col("o_totalprice")).as("rev"))
          .withColumn("tot", sum(col("rev")).over(Window.partitionBy()))
          .withColumn("ny", count(lit(1)).over(Window.partitionBy()))
          .filter(col("rev") * col("ny") > col("tot"))
          .select(col("y"))
        fact.join(broadcast(dim), fact("o_year") === dim("y"))
          .groupBy(col("o_year"))
          .agg(count(lit(1)).as("n_orders"),
            moneySum(col("o_totalprice")).as("revenue"))
          .orderBy("o_year")
      },
      Some("""
        WITH dim0 AS (
          SELECT CAST(year(CAST(o_orderdate AS DATE)) AS INT) AS y,
                 CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
          FROM orders GROUP BY 1),
        dim AS (
          SELECT y FROM (
            SELECT y, rev, SUM(rev) OVER () AS tot, COUNT(*) OVER () AS ny
            FROM dim0)
          WHERE rev * ny > tot)
        SELECT o.o_year, count(*) AS n_orders,
               CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS revenue
        FROM (SELECT *, CAST(year(CAST(o_orderdate AS DATE)) AS INT) AS o_year
              FROM orders) o
        JOIN dim ON o.o_year = dim.y
        GROUP BY o.o_year ORDER BY o.o_year""")),

    // U7 recursive CTE — the month spine is DERIVED by recursion (anchor
    // + step until the fixed point), then left-joined to per-month order
    // counts: months with no orders surface as zeros. Both engines run
    // the same WITH RECURSIVE statement. Scale shape: the recursion is
    // O(spine) driver-cheap iteration over an 80-row relation; the only
    // data-sized work is one pre-aggregated scan of orders.
    QDef("u7_recursive_cte",
      (s, d) => {
        T.orders(s, d).createOrReplaceTempView("u7_orders")
        s.sql("""
          WITH RECURSIVE months(mon) AS (
            SELECT DATE '1995-01-01'
            UNION ALL SELECT add_months(mon, 1) FROM months
            WHERE mon < DATE '2001-08-01'),
          per_month AS (
            SELECT trunc(CAST(o_orderdate AS DATE), 'month') AS mon,
                   count(*) AS n,
                   SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
            FROM u7_orders GROUP BY 1)
          SELECT m.mon, COALESCE(p.n, 0) AS n_orders,
                 CAST(COALESCE(p.rev, 0) AS DOUBLE) AS revenue
          FROM months m LEFT JOIN per_month p ON p.mon = m.mon
          ORDER BY m.mon""")
      },
      Some("""
        WITH RECURSIVE months(mon) AS (
          SELECT DATE '1995-01-01'
          UNION ALL SELECT CAST(mon + INTERVAL 1 MONTH AS DATE) FROM months
          WHERE mon < DATE '2001-08-01'),
        per_month AS (
          SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS mon,
                 count(*) AS n,
                 SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
          FROM orders GROUP BY 1)
        SELECT m.mon, COALESCE(p.n, 0) AS n_orders,
               CAST(COALESCE(p.rev, 0) AS DOUBLE) AS revenue
        FROM months m LEFT JOIN per_month p ON p.mon = m.mon
        ORDER BY m.mon""")),

    // F25 calendar functions — the month/week-boundary sweep f18/f21 do
    // not cover: month arithmetic WITH end-of-month clamping (add_months:
    // Jan 31 + 1 month = Feb 28/29 on both engines), last_day, ISO week
    // number, quarter, English day name, day distance to a fixed date.
    // Map-only, codegen'd, no shuffle.
    QDef("f25_calendar_funcs",
      (s, d) => T.orders(s, d)
        .filter(col("o_orderkey") % 13 === 0)
        .select(col("o_orderkey"),
          to_date(col("o_orderdate")).as("od"),
          add_months(to_date(col("o_orderdate")), 3).as("plus3m"),
          last_day(to_date(col("o_orderdate"))).as("month_end"),
          weekofyear(col("o_orderdate")).as("iso_week"),
          quarter(col("o_orderdate")).as("qtr"),
          date_format(col("o_orderdate"), "EEEE").as("dow_name"),
          datediff(to_date(lit("2002-01-01")), to_date(col("o_orderdate")))
            .as("days_left"))
        .orderBy("o_orderkey"),
      Some("SELECT o_orderkey, CAST(o_orderdate AS DATE) AS od, " +
        "CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE) AS plus3m, " +
        "last_day(CAST(o_orderdate AS DATE)) AS month_end, " +
        "CAST(weekofyear(o_orderdate) AS INT) AS iso_week, " +
        "CAST(quarter(o_orderdate) AS INT) AS qtr, " +
        "dayname(CAST(o_orderdate AS DATE)) AS dow_name, " +
        "CAST(datediff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') " +
        "AS INT) AS days_left " +
        "FROM orders WHERE o_orderkey % 13 = 0 ORDER BY o_orderkey")),

    // Headline composite: TPC-H Q3-shaped shipping priority — segment-filtered
    // customers ⋈ date-bounded orders ⋈ post-date lineitems, revenue per
    // order, top 10. Scale shape: both filters reach the parquet scans
    // (PushedFilters), the joins are shuffle-hash on the natural keys,
    // revenue aggregates partial→final, and the top-k is
    // TakeOrderedAndProject (no global sort). Revenue in exact DECIMAL so
    // the desc sort + tie-break picks the same 10 rows as the oracle.
    QDef("q3_shipping_priority",
      (s, d) => {
        val c = T.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
          .select("c_custkey")
        val o = T.orders(s, d)
          .filter(col("o_orderdate") < to_timestamp(lit("1998-01-01 00:00:00")))
          .select("o_orderkey", "o_custkey", "o_orderdate")
        val l = T.lineitem(s, d)
          .filter(col("l_shipdate") > to_timestamp(lit("1998-01-01 00:00:00")))
          .select("l_orderkey", "l_extendedprice", "l_discount")
        c.join(o, c("c_custkey") === o("o_custkey"))
          .join(l, o("o_orderkey") === l("l_orderkey"))
          .groupBy(col("l_orderkey"), col("o_orderdate"))
          .agg(sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
            (lit(1) - col("l_discount").cast(DecimalType(4, 2))))
            .cast(DoubleType).as("revenue"))
          .orderBy(col("revenue").desc, col("l_orderkey"))
          .limit(10)
          .select("l_orderkey", "revenue", "o_orderdate")
      },
      Some("SELECT l_orderkey, " +
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
        "(1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue, " +
        "o_orderdate " +
        "FROM customer JOIN orders ON c_custkey = o_custkey " +
        "JOIN lineitem ON l_orderkey = o_orderkey " +
        "WHERE c_mktsegment = 'BUILDING' " +
        "AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00' " +
        "AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00' " +
        "GROUP BY l_orderkey, o_orderdate " +
        "ORDER BY revenue DESC, l_orderkey LIMIT 10")),

    // Headline composite: TPC-H Q5-shaped local supplier volume — 6-way
    // star join (region→nation→supplier / customer→orders→lineitem) with
    // the co-nation constraint (customer and supplier share a nation).
    // Scale shape: region⋈nation is a broadcast seed; supplier joins it
    // broadcast too (dim-sized); the fact chain shuffles once per key;
    // the extra c_nationkey = s_nationkey equi-condition rides the same
    // hash join (no post-filter cartesian residue).
    QDef("q5_local_supplier_volume",
      (s, d) => {
        val rn = T.region(s, d).filter(col("r_name") === "ASIA")
          .join(T.nation(s, d), col("n_regionkey") === col("r_regionkey"))
          .select("n_nationkey", "n_name")
        val sup = T.supplier(s, d).join(broadcast(rn),
            col("s_nationkey") === col("n_nationkey"))
          .select("s_suppkey", "s_nationkey", "n_name")
        val o = T.orders(s, d)
          .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01 00:00:00")) &&
            col("o_orderdate") < to_timestamp(lit("1997-01-01 00:00:00")))
          .select("o_orderkey", "o_custkey")
        val c = T.customer(s, d).select("c_custkey", "c_nationkey")
        T.lineitem(s, d)
          .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
          .join(o, col("l_orderkey") === o("o_orderkey"))
          .join(c, o("o_custkey") === c("c_custkey"))
          .join(sup, col("l_suppkey") === sup("s_suppkey") &&
            c("c_nationkey") === sup("s_nationkey"))
          .groupBy(col("n_name"))
          .agg(sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
            (lit(1) - col("l_discount").cast(DecimalType(4, 2))))
            .cast(DoubleType).as("revenue"))
          .orderBy(col("revenue").desc, col("n_name"))
      },
      Some("SELECT n_name, " +
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
        "(1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue " +
        "FROM region JOIN nation ON n_regionkey = r_regionkey " +
        "JOIN supplier ON s_nationkey = n_nationkey " +
        "JOIN customer ON c_nationkey = n_nationkey " +
        "JOIN orders ON o_custkey = c_custkey " +
        "JOIN lineitem ON l_orderkey = o_orderkey AND l_suppkey = s_suppkey " +
        "WHERE r_name = 'ASIA' " +
        "AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' " +
        "AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00' " +
        "GROUP BY n_name ORDER BY revenue DESC, n_name")),

    // Headline composite: TPC-H Q18-shaped large-volume customers —
    // aggregate lineitem per order, HAVING-filter the heavy tail, join the
    // survivors back to orders+customer, top 100 by price. Scale shape:
    // the HAVING agg reduces the fact table BEFORE any join (the classic
    // agg-pushdown win — joining first would shuffle the full fact);
    // quantities are integer-valued doubles so their sum is exact.
    QDef("q18_large_orders",
      (s, d) => {
        val big = T.lineitem(s, d).groupBy("l_orderkey")
          .agg(sum(col("l_quantity")).as("sum_qty"))
          .filter(col("sum_qty") > 300)
        T.orders(s, d)
          .join(big, col("o_orderkey") === col("l_orderkey"))
          .join(T.customer(s, d), col("o_custkey") === col("c_custkey"))
          .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
            col("o_orderdate"), col("o_totalprice"), col("sum_qty"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
          .limit(100)
      },
      Some("SELECT c_name, c_custkey, o_orderkey, o_orderdate, " +
        "o_totalprice, sum_qty " +
        "FROM orders JOIN (SELECT l_orderkey, sum(l_quantity) AS sum_qty " +
        "FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 300) b " +
        "ON o_orderkey = l_orderkey " +
        "JOIN customer ON c_custkey = o_custkey " +
        "ORDER BY o_totalprice DESC, o_orderkey LIMIT 100")),

    // Headline composite: TPC-H Q1-shaped pricing summary (bench workhorse;
    // exercises scan→filter→hash-agg→sort in one whole-stage-codegen span).
    QDef("q1_pricing_summary",
      (s, d) => T.lineitem(s, d)
        .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02 00:00:00")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(sum(col("l_quantity")).as("sum_qty"),
          moneySum(col("l_extendedprice")).as("sum_base_price"),
          // disc price in EXACT decimal arithmetic: casting each 2-decimal
          // operand to DECIMAL recovers its intended value exactly in both
          // engines; double-product-then-round differs between engines.
          sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
            (lit(1) - col("l_discount").cast(DecimalType(4, 2))))
            .cast(DoubleType).as("sum_disc_price"),
          avg(col("l_quantity")).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some("SELECT l_returnflag, l_linestatus, " +
        "CAST(sum(l_quantity) AS DOUBLE) AS sum_qty, " +
        s"${moneySumSql("l_extendedprice")} AS sum_base_price, " +
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
        "(1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) " +
        "AS sum_disc_price, avg(l_quantity) AS avg_qty, count(*) AS count_order " +
        "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00' " +
        "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"))
  ,

    // Headline composite: TPC-H Q7-shaped two-nation trade volume by year.
    // Scale shape: BOTH nation filters apply before any fact join (the
    // supplier side collapses to a broadcast dim, the customer side
    // shrinks to ~2/25 of the table), so the fact chain shuffles only the
    // surviving pairs; the asymmetric pair condition is a residual filter
    // over two already-restricted columns, never a cartesian.
    QDef("q7_nation_trade",
      (s, d) => {
        val pair = Seq("NATION_3", "NATION_7")
        val n1 = T.nation(s, d).filter(col("n_name").isin(pair: _*))
          .select(col("n_nationkey").as("sk"), col("n_name").as("supp_nation"))
        val n2 = T.nation(s, d).filter(col("n_name").isin(pair: _*))
          .select(col("n_nationkey").as("ck"), col("n_name").as("cust_nation"))
        val sup = T.supplier(s, d).join(broadcast(n1),
            col("s_nationkey") === col("sk"))
          .select("s_suppkey", "supp_nation")
        val cust = T.customer(s, d).join(broadcast(n2),
            col("c_nationkey") === col("ck"))
          .select("c_custkey", "cust_nation")
        val l = T.lineitem(s, d)
          .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01 00:00:00")) &&
            col("l_shipdate") < to_timestamp(lit("1998-01-01 00:00:00")))
          .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount",
            "l_shipdate")
        val o = T.orders(s, d).select("o_orderkey", "o_custkey")
        l.join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
          .join(o, col("l_orderkey") === col("o_orderkey"))
          .join(cust, col("o_custkey") === col("c_custkey"))
          .filter((col("supp_nation") === "NATION_3" &&
              col("cust_nation") === "NATION_7") ||
            (col("supp_nation") === "NATION_7" &&
              col("cust_nation") === "NATION_3"))
          .groupBy(col("supp_nation"), col("cust_nation"),
            year(col("l_shipdate")).as("l_year"))
          .agg(sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
            (lit(1) - col("l_discount").cast(DecimalType(4, 2))))
            .cast(DoubleType).as("revenue"))
          .orderBy("supp_nation", "cust_nation", "l_year")
      },
      Some("SELECT supp_nation, cust_nation, l_year, " +
        "CAST(SUM(vol) AS DOUBLE) AS revenue FROM (" +
        "SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation, " +
        "CAST(year(l_shipdate) AS INT) AS l_year, " +
        "CAST(l_extendedprice AS DECIMAL(18,2)) * " +
        "(1 - CAST(l_discount AS DECIMAL(4,2))) AS vol " +
        "FROM supplier JOIN lineitem ON s_suppkey = l_suppkey " +
        "JOIN orders ON o_orderkey = l_orderkey " +
        "JOIN customer ON c_custkey = o_custkey " +
        "JOIN nation n1 ON s_nationkey = n1.n_nationkey " +
        "JOIN nation n2 ON c_nationkey = n2.n_nationkey " +
        "WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7') " +
        "OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3')) " +
        "AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' " +
        "AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00') t " +
        "GROUP BY supp_nation, cust_nation, l_year " +
        "ORDER BY supp_nation, cust_nation, l_year")),

    // Headline composite: TPC-H Q14-shaped promo revenue share per month.
    // The part dim broadcasts; revenue sums are exact decimals cast to
    // double, and the promo percentage is ONE IEEE double division of two
    // such exact operands — bit-identical cross-engine (ratios of floats
    // are only safe when both operands are exact).
    QDef("q14_promo_revenue",
      (s, d) => {
        val disc = col("l_extendedprice").cast(DecimalType(18, 2)) *
          (lit(1) - col("l_discount").cast(DecimalType(4, 2)))
        T.lineitem(s, d)
          .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01 00:00:00")) &&
            col("l_shipdate") < to_timestamp(lit("1997-01-01 00:00:00")))
          .join(broadcast(T.part(s, d).select("p_partkey", "p_type")),
            col("l_partkey") === col("p_partkey"))
          .groupBy(month(col("l_shipdate")).as("mo"))
          .agg(
            sum(when(col("p_type") === "PROMO", disc)
              .otherwise(lit(0).cast(DecimalType(18, 2))))
              .cast(DoubleType).as("promo_revenue"),
            sum(disc).cast(DoubleType).as("total_revenue"))
          .withColumn("promo_pct",
            lit(100.0) * col("promo_revenue") / col("total_revenue"))
          .orderBy("mo")
      },
      Some("SELECT CAST(month(l_shipdate) AS INT) AS mo, " +
        "CAST(SUM(CASE WHEN p_type = 'PROMO' " +
        "THEN CAST(l_extendedprice AS DECIMAL(18,2)) * " +
        "(1 - CAST(l_discount AS DECIMAL(4,2))) " +
        "ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS promo_revenue, " +
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
        "(1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS total_revenue, " +
        "100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO' " +
        "THEN CAST(l_extendedprice AS DECIMAL(18,2)) * " +
        "(1 - CAST(l_discount AS DECIMAL(4,2))) " +
        "ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) / " +
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
        "(1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS promo_pct " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' " +
        "AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00' " +
        "GROUP BY mo ORDER BY mo")),

    // Headline composite: TPC-H Q12-shaped late-shipment priority split
    // (shipmode replaced by returnflag — the testdata carries no
    // l_shipmode): orders JOIN lineitem on a date-arithmetic lateness
    // predicate, priorities bucketed high/low as conditional integer
    // counts — exact cross-engine by construction.
    QDef("q12_late_shipments",
      (s, d) => {
        val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        T.orders(s, d).select("o_orderkey", "o_orderdate", "o_orderpriority")
          .join(T.lineitem(s, d).select("l_orderkey", "l_returnflag", "l_shipdate"),
            col("o_orderkey") === col("l_orderkey"))
          .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
          .groupBy("l_returnflag")
          .agg(sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
            sum(when(high, 0L).otherwise(1L)).as("low_line_count"))
          .orderBy("l_returnflag")
      },
      Some("SELECT l_returnflag, " +
        "CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') " +
        "THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count, " +
        "CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') " +
        "THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count " +
        "FROM orders JOIN lineitem ON o_orderkey = l_orderkey " +
        "WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY " +
        "GROUP BY l_returnflag ORDER BY l_returnflag")),

    // Headline composite: TPC-H Q10-shaped returned-item losers — which
    // customers returned the most value in a quarter. The returnflag +
    // date filters reduce lineitem/orders BEFORE the joins; the nation
    // dim broadcasts; exact-decimal revenue; top 20.
    QDef("q10_returned_items",
      (s, d) => {
        val l = T.lineitem(s, d).filter(col("l_returnflag") === "R")
          .select("l_orderkey", "l_extendedprice", "l_discount")
        val o = T.orders(s, d)
          .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01 00:00:00")) &&
            col("o_orderdate") < to_timestamp(lit("1996-04-01 00:00:00")))
          .select("o_orderkey", "o_custkey")
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(T.customer(s, d), col("o_custkey") === col("c_custkey"))
          .join(broadcast(T.nation(s, d)),
            col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"),
            col("n_name"))
          .agg(sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
            (lit(1) - col("l_discount").cast(DecimalType(4, 2))))
            .cast(DoubleType).as("revenue"))
          .orderBy(col("revenue").desc, col("c_custkey"))
          .limit(20)
          .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
      },
      Some("SELECT c_custkey, c_name, " +
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
        "(1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue, " +
        "c_acctbal, n_name " +
        "FROM customer JOIN orders ON c_custkey = o_custkey " +
        "JOIN lineitem ON l_orderkey = o_orderkey " +
        "JOIN nation ON c_nationkey = n_nationkey " +
        "WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' " +
        "AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00' " +
        "AND l_returnflag = 'R' " +
        "GROUP BY c_custkey, c_name, c_acctbal, n_name " +
        "ORDER BY revenue DESC, c_custkey LIMIT 20")),

    // Headline composite: TPC-H Q16-shaped supplier diversity with a
    // NOT IN subquery — suppliers per (brand, size) EXCLUDING a
    // disqualified set. Both sides of the NOT IN are non-null-qualified
    // so Catalyst degrades the null-aware anti join (NAAJ — a per-row
    // broadcast set probe with null bookkeeping) to a plain broadcast
    // LeftAnti hash join, and the distinct pairs are collapsed BEFORE
    // the count so the final aggregate runs over (brand,size,supp)
    // triples, not the full join output.
    QDef("q16_supplier_diversity",
      (s, d) => {
        // COUNT(DISTINCT supplier) per (brand,size) as a BITMAP aggregate
        // over the bounded suppkey domain, not a row-level DISTINCT: the
        // group space is tiny (|brands|x|sizes| ~ 1.2k), so fixed 4 KB
        // bitmaps shuffle instead of the ~|lineitem| string-keyed rows a
        // two-exchange DISTINCT moves (sf1: 2x42 s of task time -> one
        // bitmap pass) — DuckDB's perfect-hash-set trick for small-domain
        // distinct counts. The hot aggregation is keyed by a DENSE INT
        // combo id minted from the 1.2k distinct (brand,size) pairs (the
        // string columns rejoin only on the 1.2k-row result), so the
        // per-row hash probe touches two ints, not a string
        val part = T.part(s, d).select("p_partkey", "p_brand", "p_size")
        val combos = part.select("p_brand", "p_size").distinct()
          .withColumn("cid",
            row_number().over(Window.orderBy("p_brand", "p_size")))
        val pmap = part.join(broadcast(combos), Seq("p_brand", "p_size"))
          .select("p_partkey", "cid")
        val badSup = T.supplier(s, d)
          .filter(col("s_acctbal") < 0 && col("s_suppkey").isNotNull)
          .select("s_suppkey")
        T.lineitem(s, d).select("l_partkey", "l_suppkey")
          .filter(col("l_suppkey").isNotNull)
          .join(broadcast(badSup),
            col("l_suppkey") === col("s_suppkey"), "left_anti")
          .join(broadcast(pmap), col("l_partkey") === col("p_partkey"))
          .groupBy(col("cid"),
            expr("bitmap_bucket_number(l_suppkey)").as("b"))
          .agg(expr("bitmap_count(bitmap_construct_agg(" +
            "bitmap_bit_position(l_suppkey)))").as("bc"))
          .groupBy("cid")
          .agg(sum(col("bc")).cast(LongType).as("supplier_cnt"))
          .join(broadcast(combos), "cid")
          .select("p_brand", "p_size", "supplier_cnt")
          .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_size"))
          .limit(50)
      },
      Some("SELECT p_brand, p_size, count(*) AS supplier_cnt " +
        "FROM (SELECT DISTINCT p_brand, p_size, l_suppkey " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "WHERE l_suppkey IS NOT NULL AND l_suppkey NOT IN " +
        "(SELECT s_suppkey FROM supplier " +
        "WHERE s_acctbal < 0 AND s_suppkey IS NOT NULL)) " +
        "GROUP BY p_brand, p_size " +
        "ORDER BY supplier_cnt DESC, p_brand, p_size LIMIT 50")),

    // Headline composite: TPC-H Q19-shaped disjunctive filter — an
    // OR-of-ANDs predicate across a join. The plan-level observable:
    // Catalyst factors the single-side implications out of the
    // disjunction (p_brand IN (...) to the part scan, the l_quantity
    // envelope to the lineitem scan) so both scans prune BEFORE the
    // join, and the full disjunction remains as the residual condition.
    QDef("q19_disjunctive",
      (s, d) => {
        val l = T.lineitem(s, d)
          .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
        val p = T.part(s, d).select("p_partkey", "p_brand", "p_size")
        l.join(p, col("l_partkey") === col("p_partkey"))
          .filter(
            (col("p_brand") === "Brand#1" && col("p_size").between(1, 10) &&
              col("l_quantity").between(1, 20)) ||
            (col("p_brand") === "Brand#2" && col("p_size").between(11, 20) &&
              col("l_quantity").between(10, 30)) ||
            (col("p_brand") === "Brand#3" && col("p_size").between(21, 40) &&
              col("l_quantity").between(20, 40)))
          .agg(count(lit(1)).as("n_items"),
            sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
              (lit(1) - col("l_discount").cast(DecimalType(4, 2))))
              .cast(DoubleType).as("revenue"))
      },
      Some("SELECT count(*) AS n_items, " +
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
        "(1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10 " +
        "AND l_quantity BETWEEN 1 AND 20) " +
        "OR (p_brand = 'Brand#2' AND p_size BETWEEN 11 AND 20 " +
        "AND l_quantity BETWEEN 10 AND 30) " +
        "OR (p_brand = 'Brand#3' AND p_size BETWEEN 21 AND 40 " +
        "AND l_quantity BETWEEN 20 AND 40)")),

    // A21 — filtered/boolean aggregate conformance: count_if, bool_and,
    // bool_or (DuckDB spells count_if as FILTER) — exact integer/boolean
    // outputs, one hash-agg.
    QDef("a21_filtered_aggs",
      (s, d) => T.customer(s, d)
        .groupBy("c_nationkey")
        .agg(
          expr("count_if(c_acctbal > 5000.0)").as("n_rich"),
          expr("count_if(c_mktsegment = 'BUILDING')").as("n_building"),
          expr("bool_and(c_acctbal > -1000.0)").as("all_above_floor"),
          expr("bool_or(c_acctbal < 0.0)").as("any_negative"))
        .orderBy("c_nationkey"),
      Some("SELECT c_nationkey, " +
        "count(*) FILTER (WHERE c_acctbal > 5000.0) AS n_rich, " +
        "count(*) FILTER (WHERE c_mktsegment = 'BUILDING') AS n_building, " +
        "bool_and(c_acctbal > -1000.0) AS all_above_floor, " +
        "bool_or(c_acctbal < 0.0) AS any_negative " +
        "FROM customer GROUP BY c_nationkey ORDER BY c_nationkey")),

    // O7 — LIMIT/OFFSET pagination (Dataset.offset, Spark 3.4+): a total
    // order plus a page window. Spark plans the whole page prefix as a
    // top-(offset+limit) — fine for page-depth pagination; keyset
    // pagination (WHERE key > last) is the 100-TB recipe, which o1/o3
    // style predicates already cover.
    QDef("o7_limit_offset",
      (s, d) => T.customer(s, d)
        .select("c_custkey", "c_name", "c_acctbal")
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
        .offset(20).limit(10),
      Some("SELECT c_custkey, c_name, c_acctbal FROM customer " +
        "ORDER BY c_acctbal DESC, c_custkey LIMIT 10 OFFSET 20")),

    // J14 — interval-OVERLAP join (two interval sets, overlap predicate —
    // the meeting-conflict / downtime-attribution shape; j9 is the
    // point-in-interval special case). Spark has no native interval join,
    // so both sides explode to fixed-width day buckets and the overlap
    // becomes a bucket EQUI-join + residual filter + pair-dedup — at
    // 100 TB this shuffles on the bucket key instead of nested-looping,
    // and the bucket width bounds the fan-out (intervals here span ≤6
    // days; width 16 → ≤2 buckets per interval). Oracle: DuckDB's native
    // range-predicate join over the same generated calendar.
    QDef("j14_overlap_join",
      (s, d) => {
        val epoch = to_date(lit("1995-01-01"))
        val w = 16
        val cal = s.range(232)
          .select(col("id").as("win_id"),
            date_add(epoch, (col("id") * 11).cast(IntegerType)).as("c_start"))
          .withColumn("c_end", date_add(col("c_start"), 2))
        val ord = T.orders(s, d)
          .select(col("o_orderkey"), col("o_totalprice"),
            to_date(col("o_orderdate")).as("o_start"))
          .withColumn("o_end", date_add(col("o_start"),
            (col("o_orderkey") % 5 + 1).cast(IntegerType)))
        val calB = cal.withColumn("b", explode(sequence(
          floor(datediff(col("c_start"), epoch) / w),
          floor(datediff(col("c_end"), epoch) / w))))
        val ordB = ord.withColumn("b", explode(sequence(
          floor(datediff(col("o_start"), epoch) / w),
          floor(datediff(col("o_end"), epoch) / w))))
        calB.join(ordB, Seq("b"))
          .filter(col("c_start") <= col("o_end") &&
            col("o_start") <= col("c_end"))
          .select("win_id", "c_start", "o_orderkey", "o_totalprice")
          .distinct()
          .groupBy("win_id", "c_start")
          .agg(count(lit(1)).as("n_overlapping"),
            moneySum(col("o_totalprice")).as("value_overlapping"))
          .orderBy("win_id")
      },
      Some("""
        WITH cal AS (SELECT range AS win_id,
               DATE '1995-01-01' + CAST(range * 11 AS INTEGER) AS c_start,
               DATE '1995-01-01' + CAST(range * 11 + 2 AS INTEGER) AS c_end
             FROM range(232)),
        ord AS (SELECT o_orderkey, o_totalprice,
               CAST(o_orderdate AS DATE) AS o_start,
               CAST(o_orderdate AS DATE) +
                 CAST(o_orderkey % 5 + 1 AS INTEGER) AS o_end
             FROM orders)
        SELECT win_id, c_start, count(*) AS n_overlapping,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS value_overlapping
        FROM cal JOIN ord ON c_start <= o_end AND o_start <= c_end
        GROUP BY win_id, c_start ORDER BY win_id""")),

    // F26 — URL decomposition (Spark's parse_url built-in, which DuckDB
    // lacks — the oracle replays it with string/regex primitives): the
    // web-corpus curation primitive behind domain extraction and
    // per-domain grouping. URLs are synthesized deterministically onto
    // the docs (the corpus has no URL column), parsed map-side
    // (parse_url is codegen'd), then grouped per host. At 100 TB this is
    // scan → map → small hash-agg.
    QDef("f26_url_parse",
      (s, d) => T.documents(s, d)
        .withColumn("url", concat(lit("https://"), col("source"),
          lit(".example."),
          expr("CASE WHEN doc_id % 3 = 0 THEN 'com' " +
            "WHEN doc_id % 3 = 1 THEN 'org' ELSE 'net' END"),
          lit("/p/"), col("doc_id").cast("string"),
          lit("?ref=r"), (col("doc_id") % 7).cast("string")))
        .select(
          expr("parse_url(url, 'HOST')").as("host"),
          expr("parse_url(url, 'PATH')").as("path"),
          expr("parse_url(url, 'QUERY', 'ref')").as("ref"))
        .groupBy("host")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("ref")).as("n_refs"),
          max(length(col("path"))).as("max_path_len"))
        .withColumn("tld", regexp_extract(col("host"), "\\.([a-z]+)$", 1))
        .select("host", "tld", "n_docs", "n_refs", "max_path_len")
        .orderBy("host"),
      Some("SELECT host, regexp_extract(host, '\\.([a-z]+)$', 1) AS tld, " +
        "count(*) AS n_docs, count(DISTINCT ref) AS n_refs, " +
        "MAX(length(path)) AS max_path_len FROM (" +
        "SELECT source || '.example.' || tld AS host, " +
        "'/p/' || CAST(doc_id AS VARCHAR) AS path, " +
        "'r' || CAST(doc_id % 7 AS VARCHAR) AS ref FROM (" +
        "SELECT doc_id, source, CASE WHEN doc_id % 3 = 0 THEN 'com' " +
        "WHEN doc_id % 3 = 1 THEN 'org' ELSE 'net' END AS tld " +
        "FROM documents) a) t " +
        "GROUP BY host ORDER BY host")),

    // F27 — bitwise-function conformance sweep (AND/OR/XOR/shifts/
    // popcount over the range source): map-only integer ops, exact by
    // construction on both engines.
    QDef("f27_bitwise_funcs",
      (s, d) => s.range(512).selectExpr(
        "id",
        "id & 255 AS b_and",
        "id | 7 AS b_or",
        "id ^ 129 AS b_xor",
        "shiftleft(id, 3) AS b_shl",
        "shiftright(id, 2) AS b_shr",
        "bit_count(id) AS b_pop")
        .orderBy("id"),
      Some("SELECT range AS id, range & 255 AS b_and, range | 7 AS b_or, " +
        "xor(range, 129) AS b_xor, range << 3 AS b_shl, " +
        "range >> 2 AS b_shr, CAST(bit_count(range) AS INT) AS b_pop " +
        "FROM range(512) ORDER BY id")),

    // F28 string formatting/manipulation sweep — the second half of the
    // string surface (f12 covers case/substr/regex/pad/reverse):
    // translate, repeat, ascii/chr codecs, left/right slices, substring
    // position, field splitting, and character-set trims. Map-only.
    QDef("f28_string_format",
      (s, d) => T.part(s, d)
        .filter(col("p_partkey") % 7 === 0)
        .select(col("p_partkey"),
          translate(col("p_name"), "aeiou", "12345").as("xlate"),
          repeat(substring(col("p_name"), 1, 2), 3).as("rep"),
          ascii(col("p_name")).as("first_code"),
          chr(lit(65) + col("p_partkey") % 26).as("letter"),
          expr("left(p_name, 5)").as("l5"),
          expr("right(p_name, 4)").as("r4"),
          instr(col("p_name"), "o").cast(LongType).as("pos_o"),
          expr("split_part(p_name, ' ', 2)").as("word2"),
          expr("TRIM(LEADING 'bs' FROM p_name)").as("ltr"),
          expr("TRIM(TRAILING 'gt' FROM p_name)").as("rtr"))
        .orderBy("p_partkey"),
      Some("SELECT p_partkey, " +
        "translate(p_name, 'aeiou', '12345') AS xlate, " +
        "repeat(substr(p_name, 1, 2), 3) AS rep, " +
        "CAST(ascii(p_name) AS INT) AS first_code, " +
        "chr(CAST(65 + p_partkey % 26 AS INT)) AS letter, " +
        "left(p_name, 5) AS l5, right(p_name, 4) AS r4, " +
        "strpos(p_name, 'o') AS pos_o, " +
        "split_part(p_name, ' ', 2) AS word2, " +
        "ltrim(p_name, 'bs') AS ltr, rtrim(p_name, 'gt') AS rtr " +
        "FROM part WHERE p_partkey % 7 = 0 ORDER BY p_partkey")),

    // T12 — OHLC resampling (the finance/telemetry "bars" shape): per
    // (hour, type) open/close via deterministically ORDERED first/last
    // windows (ties broken by event_id — floats pass through untouched,
    // no arithmetic, so the hash compare is exact), high/low/count as a
    // plain hash-agg. Scale shape: one shuffle on the bucket key for the
    // window, agg reuses it.
    QDef("t12_ohlc_resample",
      (s, d) => {
        val e = T.events(s, d).select(
          date_trunc("hour", col("ts")).as("h"),
          col("event_type"), col("ts"), col("event_id"), col("value"))
        val w = Window.partitionBy("h", "event_type")
          .orderBy("ts", "event_id")
        e.withColumn("open", first("value").over(
            w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
          .withColumn("close", last("value").over(
            w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
          .groupBy("h", "event_type", "open", "close")
          .agg(min("value").as("lo"), max("value").as("hi"),
            count(lit(1)).as("n"))
          .select("h", "event_type", "open", "close", "lo", "hi", "n")
          .orderBy("h", "event_type")
      },
      Some("""
        WITH e AS (SELECT date_trunc('hour', ts) AS h, event_type, ts,
                          event_id, value FROM events),
        w AS (SELECT h, event_type,
              first_value(value) OVER (PARTITION BY h, event_type
                ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
                AS open,
              last_value(value) OVER (PARTITION BY h, event_type
                ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
                AS close,
              value FROM e)
        SELECT h, event_type, open, close, min(value) AS lo,
               max(value) AS hi, count(*) AS n
        FROM w GROUP BY h, event_type, open, close
        ORDER BY h, event_type""")),

    // A+ — equi-width histogram (the width_bucket / DuckDB histogram()
    // analog, which Spark lacks as a built-in): one map-side integer
    // bucket key + one hash-agg. Buckets are computed in exact integer
    // cents (DECIMAL→BIGINT, integer division) so bucket edges cannot
    // straddle float rounding between engines; at 100 TB this is a
    // map-only transform plus a ~20-group agg — no sort, no window.
    QDef("a19_histogram",
      (s, d) => T.orders(s, d)
        .select((col("o_totalprice").cast(DecimalType(18, 2)) * 100)
          .cast(LongType).as("cents"))
        .groupBy(expr("cents div 2500000").as("bucket"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("cents")).as("sum_cents"),
          min(col("cents")).as("min_cents"),
          max(col("cents")).as("max_cents"))
        .withColumn("lo_dollars", (col("bucket") * 25000L).cast(DoubleType))
        .select("bucket", "lo_dollars", "n_orders", "sum_cents",
          "min_cents", "max_cents")
        .orderBy("bucket"),
      Some("SELECT bucket, CAST(bucket * 25000 AS DOUBLE) AS lo_dollars, " +
        "count(*) AS n_orders, CAST(SUM(cents) AS BIGINT) AS sum_cents, " +
        "MIN(cents) AS min_cents, MAX(cents) AS max_cents " +
        "FROM (SELECT cents, cents // 2500000 AS bucket FROM " +
        "(SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) " +
        "AS cents FROM orders) a) t " +
        "GROUP BY bucket ORDER BY bucket")),

    // ------------------------------------------------------- TPC-H remainder
    // The 12 queries completing the 22-query TPC-H-shaped suite. The driver
    // tables carry no partsupp and no commit/receipt dates, so (as q12/q16
    // already do) each is adapted to the available columns: lineitem stands
    // in as the part↔supplier price list, and lateness is
    // l_shipdate > o_orderdate + 60 days. Money math follows the repo
    // convention: exact DECIMAL products/sums, one final cast to double.

    // Q6-shaped forecast revenue: the one-table scan→filter→scalar-agg
    // workhorse. Scale shape: all three predicates push to the parquet
    // scan; the agg is a partial→final sum with no shuffle key (2 rows
    // move). The discount band compares stored doubles to the same
    // literals in both engines — deterministic.
    QDef("q6_forecast_revenue",
      (s, d) => T.lineitem(s, d)
        .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01 00:00:00")) &&
          col("l_shipdate") < to_timestamp(lit("1997-01-01 00:00:00")) &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
          col("l_discount").cast(DecimalType(4, 2)))
          .cast(DoubleType).as("revenue")),
      Some("SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
        "CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue " +
        "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' " +
        "AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00' " +
        "AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24")),

    // Q4-shaped order-priority check: EXISTS over lineitem, expressed as
    // inner-join→distinct rather than a left-semi. Deliberate: a LEFT
    // SEMI can only broadcast its RIGHT side — the fact table — so it
    // degrades to a full two-sided shuffle; the inner join lets the
    // planner broadcast the date-shrunk orders side (either side builds)
    // and the distinct then dedups only the surviving (order, priority)
    // pairs. Same EXISTS semantics (each order counted once), and at a
    // scale where the quarter of orders outgrows broadcast, AQE falls
    // back to the same orderkey shuffle the semi join would have paid.
    QDef("q4_order_priority",
      (s, d) => T.orders(s, d)
        .filter(col("o_orderdate") >= to_timestamp(lit("1996-07-01 00:00:00")) &&
          col("o_orderdate") < to_timestamp(lit("1996-10-01 00:00:00")))
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
        .join(T.lineitem(s, d).select("l_orderkey", "l_shipdate"),
          col("o_orderkey") === col("l_orderkey") &&
            col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
        .select("o_orderkey", "o_orderpriority").distinct()
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority"),
      Some("SELECT o_orderpriority, count(*) AS order_count FROM orders " +
        "WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00' " +
        "AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00' " +
        "AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey " +
        "AND l_shipdate > o_orderdate + INTERVAL 60 DAY) " +
        "GROUP BY o_orderpriority ORDER BY o_orderpriority")),

    // Q2-shaped min-cost supplier (partsupp stands in as lineitem): for
    // each qualifying part, the EUROPE suppliers whose offer price equals
    // the part's minimum. Scale shape: both dims broadcast; the min is a
    // window over one partkey shuffle (never a global sort, no join-back);
    // the price equality compares exact DECIMALs, so the correlated-min
    // oracle matches bit-for-bit.
    QDef("q2_min_cost_supplier",
      (s, d) => {
        val eur = T.region(s, d).filter(col("r_name") === "EUROPE")
          .join(T.nation(s, d), col("n_regionkey") === col("r_regionkey"))
          .select("n_nationkey", "n_name")
        val sup = T.supplier(s, d).join(broadcast(eur),
            col("s_nationkey") === col("n_nationkey"))
          .select("s_suppkey", "s_name", "s_acctbal", "n_name")
        val p = T.part(s, d)
          .filter(col("p_size") <= 5 && col("p_type") === "LARGE")
          .select("p_partkey")
        val offers = T.lineitem(s, d)
          .select("l_partkey", "l_suppkey", "l_extendedprice")
          .join(broadcast(p), col("l_partkey") === col("p_partkey"))
          .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
          .select(col("p_partkey"), col("s_name"), col("s_acctbal"),
            col("n_name"),
            col("l_extendedprice").cast(DecimalType(18, 2)).as("price_dec"))
        // per-part min as a WINDOW over the offers (one partkey shuffle
        // serving both the min and the filter) — a groupBy+join-back
        // would shuffle the same rows AND re-broadcast the result
        offers
          .withColumn("min_price",
            min(col("price_dec")).over(Window.partitionBy("p_partkey")))
          .filter(col("price_dec") === col("min_price"))
          .select(col("s_acctbal"), col("s_name"), col("n_name"),
            col("p_partkey"), col("price_dec").cast(DoubleType).as("best_price"))
          .distinct()
          .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
            col("p_partkey"))
          .limit(100)
      },
      Some("SELECT DISTINCT s_acctbal, s_name, n_name, p_partkey, " +
        "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE) AS best_price " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "JOIN supplier ON s_suppkey = l_suppkey " +
        "JOIN nation ON s_nationkey = n_nationkey " +
        "JOIN region ON n_regionkey = r_regionkey " +
        "WHERE p_size <= 5 AND p_type = 'LARGE' AND r_name = 'EUROPE' " +
        "AND CAST(l_extendedprice AS DECIMAL(18,2)) = " +
        "(SELECT MIN(CAST(l2.l_extendedprice AS DECIMAL(18,2))) " +
        "FROM lineitem l2 JOIN supplier s2 ON s2.s_suppkey = l2.l_suppkey " +
        "JOIN nation n2 ON n2.n_nationkey = s2.s_nationkey " +
        "JOIN region r2 ON r2.r_regionkey = n2.n_regionkey " +
        "WHERE l2.l_partkey = p_partkey AND r2.r_name = 'EUROPE') " +
        "ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100")),

    // Q8-shaped national market share: ASIA customers buying PROMO parts,
    // the target nation's share of supplier revenue per year. Scale
    // shape: part/nation/supplier broadcast; customer shrinks to one
    // region before touching facts; ONE pass computes both the
    // numerator (conditional sum) and denominator — the share is a
    // single IEEE division of two exact sums.
    QDef("q8_market_share",
      (s, d) => {
        val vol = col("l_extendedprice").cast(DecimalType(18, 2)) *
          (lit(1) - col("l_discount").cast(DecimalType(4, 2)))
        val rn = T.region(s, d).filter(col("r_name") === "ASIA")
          .join(T.nation(s, d), col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey").as("rnk"))
        val cust = T.customer(s, d).join(broadcast(rn),
            col("c_nationkey") === col("rnk"))
          .select("c_custkey")
        val o = T.orders(s, d)
          .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01 00:00:00")) &&
            col("o_orderdate") < to_timestamp(lit("1998-01-01 00:00:00")))
          .select("o_orderkey", "o_custkey", "o_orderdate")
        val p = T.part(s, d).filter(col("p_type") === "PROMO")
          .select("p_partkey")
        val supN = T.supplier(s, d).join(broadcast(T.nation(s, d)),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("n_name").as("supp_nation"))
        T.lineitem(s, d)
          .select("l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice",
            "l_discount")
          .join(broadcast(p), col("l_partkey") === col("p_partkey"))
          .join(o, col("l_orderkey") === col("o_orderkey"))
          .join(cust, col("o_custkey") === col("c_custkey"))
          .join(broadcast(supN), col("l_suppkey") === col("s_suppkey"))
          .groupBy(year(col("o_orderdate")).as("o_year"))
          .agg(
            sum(when(col("supp_nation") === "NATION_3", vol)
              .otherwise(lit(0).cast(DecimalType(18, 2))))
              .cast(DoubleType).as("nation_vol"),
            sum(vol).cast(DoubleType).as("total_vol"))
          .withColumn("mkt_share", col("nation_vol") / col("total_vol"))
          .orderBy("o_year")
      },
      Some("SELECT o_year, nation_vol, total_vol, " +
        "nation_vol / total_vol AS mkt_share FROM (" +
        "SELECT o_year, " +
        "CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN vol " +
        "ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS nation_vol, " +
        "CAST(SUM(vol) AS DOUBLE) AS total_vol FROM (" +
        "SELECT CAST(year(o_orderdate) AS INT) AS o_year, " +
        "n2.n_name AS supp_nation, " +
        "CAST(l_extendedprice AS DECIMAL(18,2)) * " +
        "(1 - CAST(l_discount AS DECIMAL(4,2))) AS vol " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "JOIN orders ON o_orderkey = l_orderkey " +
        "JOIN customer ON c_custkey = o_custkey " +
        "JOIN nation n1 ON c_nationkey = n1.n_nationkey " +
        "JOIN region ON n1.n_regionkey = r_regionkey " +
        "JOIN supplier ON s_suppkey = l_suppkey " +
        "JOIN nation n2 ON s_nationkey = n2.n_nationkey " +
        "WHERE r_name = 'ASIA' AND p_type = 'PROMO' " +
        "AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' " +
        "AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00') t " +
        "GROUP BY o_year) g ORDER BY o_year")),

    // Q9-shaped product-type profit (supplycost stands in as
    // p_retailprice): profit per supplier nation per year over a
    // name-matched part subset. Scale shape: part filter broadcasts, so
    // the fact chain is pre-pruned on partkey; profit is exact decimal
    // (price*(1-disc) − retail*qty with integer-valued qty as
    // DECIMAL(4,0)) summed then cast once.
    QDef("q9_product_profit",
      (s, d) => {
        val profit = col("l_extendedprice").cast(DecimalType(18, 2)) *
          (lit(1) - col("l_discount").cast(DecimalType(4, 2))) -
          col("p_retailprice").cast(DecimalType(18, 2)) *
          col("l_quantity").cast(DecimalType(4, 0))
        val p = T.part(s, d).filter(col("p_name").like("%dget%"))
          .select("p_partkey", "p_retailprice")
        val supN = T.supplier(s, d).join(broadcast(T.nation(s, d)),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("n_name"))
        T.lineitem(s, d)
          .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
            "l_extendedprice", "l_discount")
          .join(broadcast(p), col("l_partkey") === col("p_partkey"))
          .join(T.orders(s, d).select("o_orderkey", "o_orderdate"),
            col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(supN), col("l_suppkey") === col("s_suppkey"))
          .groupBy(col("n_name").as("nation"),
            year(col("o_orderdate")).as("o_year"))
          .agg(sum(profit).cast(DoubleType).as("sum_profit"))
          .orderBy(col("nation"), col("o_year").desc)
      },
      Some("SELECT nation, o_year, CAST(SUM(profit) AS DOUBLE) AS sum_profit " +
        "FROM (SELECT n_name AS nation, " +
        "CAST(year(o_orderdate) AS INT) AS o_year, " +
        "CAST(l_extendedprice AS DECIMAL(18,2)) * " +
        "(1 - CAST(l_discount AS DECIMAL(4,2))) - " +
        "CAST(p_retailprice AS DECIMAL(18,2)) * " +
        "CAST(l_quantity AS DECIMAL(4,0)) AS profit " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "JOIN orders ON o_orderkey = l_orderkey " +
        "JOIN supplier ON s_suppkey = l_suppkey " +
        "JOIN nation ON s_nationkey = n_nationkey " +
        "WHERE p_name LIKE '%dget%') t " +
        "GROUP BY nation, o_year ORDER BY nation, o_year DESC")),

    // Q11-shaped important parts: per-part value over one region's
    // suppliers, with each part's share of the regional total as a
    // scalar-subquery column. (TPC-H's fixed fraction threshold is
    // SF-dependent by definition; top-50-by-value keeps the same plan
    // shape — agg, broadcast scalar total, sort+limit — at every scale.)
    QDef("q11_important_parts",
      (s, d) => {
        val asup = T.supplier(s, d)
          .join(broadcast(T.nation(s, d)
              .join(T.region(s, d).filter(col("r_name") === "ASIA"),
                col("n_regionkey") === col("r_regionkey"))
              .select("n_nationkey")),
            col("s_nationkey") === col("n_nationkey"))
          .select("s_suppkey")
        // pv feeds BOTH the per-part rows and the scalar total; AQE's
        // ReuseExchange does not dedupe a subtree referenced from two
        // branches (measured on x7, round 11), so un-materialized this
        // scans and shuffles lineitem TWICE. Persist the per-part agg —
        // O(parts) rows, distributed — exactly what a CTE
        // materialization does; Cached.release drops it post-query.
        val pv = Cached.track(T.lineitem(s, d)
          .select("l_partkey", "l_suppkey", "l_extendedprice")
          .join(broadcast(asup), col("l_suppkey") === col("s_suppkey"))
          .groupBy("l_partkey")
          .agg(sum(col("l_extendedprice").cast(DecimalType(18, 2))).as("v")))
        val tot = pv.agg(sum(col("v")).as("total"))
        pv.crossJoin(broadcast(tot))
          .select(col("l_partkey"), col("v").cast(DoubleType).as("part_value"),
            (col("v").cast(DoubleType) / col("total").cast(DoubleType))
              .as("pct_of_total"))
          .orderBy(col("part_value").desc, col("l_partkey"))
          .limit(50)
      },
      Some("WITH asup AS (SELECT s_suppkey FROM supplier " +
        "JOIN nation ON s_nationkey = n_nationkey " +
        "JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'ASIA'), " +
        "pv AS (SELECT l_partkey, " +
        "SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS v " +
        "FROM lineitem JOIN asup ON l_suppkey = s_suppkey " +
        "GROUP BY l_partkey) " +
        "SELECT l_partkey, CAST(v AS DOUBLE) AS part_value, " +
        "CAST(v AS DOUBLE) / CAST((SELECT SUM(v) FROM pv) AS DOUBLE) " +
        "AS pct_of_total FROM pv " +
        "ORDER BY part_value DESC, l_partkey LIMIT 50")),

    // Q13-shaped customer order distribution: left join preserving
    // order-less customers, count per customer, then the histogram of
    // counts. Scale shape: one custkey shuffle (the outer join and the
    // first agg share it), then a tiny second agg over ≤~50 groups.
    QDef("q13_order_distribution",
      (s, d) => T.customer(s, d).select("c_custkey")
        .join(T.orders(s, d).filter(col("o_orderpriority") =!= "5-LOW")
            .select("o_orderkey", "o_custkey"),
          col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc),
      Some("SELECT c_count, count(*) AS custdist FROM (" +
        "SELECT c_custkey, count(o_orderkey) AS c_count FROM customer " +
        "LEFT OUTER JOIN orders ON c_custkey = o_custkey " +
        "AND o_orderpriority <> '5-LOW' GROUP BY c_custkey) c " +
        "GROUP BY c_count ORDER BY custdist DESC, c_count DESC")),

    // Q15-shaped top supplier: quarterly revenue per supplier, keep the
    // max. The revenue stays DECIMAL until output so the max-equality
    // join is exact; the scalar max broadcasts. Scale shape: one
    // suppkey agg over the date-pruned scan, then dim-sized joins.
    QDef("q15_top_supplier",
      (s, d) => {
        // rev feeds both the supplier join and the scalar max — same
        // double-referenced-subtree shape as q11: AQE does not reuse the
        // exchange across branches, so materialize the O(suppliers) agg
        // once (Cached.release drops it post-query)
        val rev = Cached.track(T.lineitem(s, d)
          .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01 00:00:00")) &&
            col("l_shipdate") < to_timestamp(lit("1996-04-01 00:00:00")))
          .groupBy("l_suppkey")
          .agg(sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
            (lit(1) - col("l_discount").cast(DecimalType(4, 2)))).as("rev_dec")))
        val mx = rev.agg(max(col("rev_dec")).as("max_dec"))
        T.supplier(s, d)
          .join(rev, col("s_suppkey") === col("l_suppkey"))
          .crossJoin(broadcast(mx))
          .filter(col("rev_dec") === col("max_dec"))
          .select(col("s_suppkey"), col("s_name"),
            col("rev_dec").cast(DoubleType).as("total_revenue"))
          .orderBy("s_suppkey")
      },
      Some("WITH rev AS (SELECT l_suppkey, " +
        "SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
        "(1 - CAST(l_discount AS DECIMAL(4,2)))) AS rev_dec " +
        "FROM lineitem " +
        "WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' " +
        "AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00' " +
        "GROUP BY l_suppkey) " +
        "SELECT s_suppkey, s_name, CAST(rev_dec AS DOUBLE) AS total_revenue " +
        "FROM supplier JOIN rev ON s_suppkey = l_suppkey " +
        "WHERE rev_dec = (SELECT MAX(rev_dec) FROM rev) ORDER BY s_suppkey")),

    // Q17-shaped small-quantity revenue: lineitems below half their
    // part's average quantity, for one brand. The correlated avg
    // decorrelates to a per-part agg broadcast back onto the same
    // subset; avg of integer-valued doubles is one exact-sum/count
    // division, deterministic cross-engine.
    QDef("q17_small_qty_revenue",
      (s, d) => {
        // the brand-filtered join subset feeds BOTH the per-part avg and
        // the final probe — the q11/q15 double-referenced-subtree shape:
        // materialize it once (sf1: the second fact pass was 9.0 s of
        // task time; a window formulation instead collapses to one
        // AQE-coalesced serial task at local scale)
        val l = Cached.track(T.lineitem(s, d)
          .select("l_partkey", "l_quantity", "l_extendedprice")
          .join(broadcast(T.part(s, d).filter(col("p_brand") === "Brand#5")
            .select("p_partkey")), col("l_partkey") === col("p_partkey")))
        val avgq = l.groupBy(col("l_partkey").as("ap"))
          .agg(avg(col("l_quantity")).as("avg_qty"))
        l.join(broadcast(avgq), col("l_partkey") === col("ap") &&
            col("l_quantity") < lit(0.5) * col("avg_qty"))
          .agg((moneySum(col("l_extendedprice")) / 7.0).as("avg_yearly"))
      },
      Some("SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) " +
        "AS DOUBLE) / 7.0 AS avg_yearly " +
        "FROM lineitem JOIN part ON p_partkey = l_partkey " +
        "WHERE p_brand = 'Brand#5' " +
        "AND l_quantity < 0.5 * (SELECT AVG(l2.l_quantity) FROM lineitem l2 " +
        "WHERE l2.l_partkey = lineitem.l_partkey)")),

    // Q20-shaped part promotion: suppliers of one region who moved >50
    // units of any name-matched part in a year — an IN-subquery over a
    // HAVING agg, decorrelated to agg→distinct→left-semi. Scale shape:
    // the (suppkey,partkey) agg is the only fact shuffle; supplier and
    // nation stay dim-sized.
    QDef("q20_part_promotion",
      (s, d) => {
        val heavy = T.lineitem(s, d)
          .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01 00:00:00")) &&
            col("l_shipdate") < to_timestamp(lit("1997-01-01 00:00:00")))
          .select("l_partkey", "l_suppkey", "l_quantity")
          .join(broadcast(T.part(s, d).filter(col("p_name").like("b%"))
            .select("p_partkey")), col("l_partkey") === col("p_partkey"))
          .groupBy("l_suppkey", "l_partkey")
          .agg(sum(col("l_quantity")).as("qty"))
          .filter(col("qty") > 50)
          .select("l_suppkey").distinct()
        T.supplier(s, d)
          .join(broadcast(T.nation(s, d)
              .join(T.region(s, d).filter(col("r_name") === "ASIA"),
                col("n_regionkey") === col("r_regionkey"))
              .select("n_nationkey")),
            col("s_nationkey") === col("n_nationkey"))
          .join(heavy, col("s_suppkey") === col("l_suppkey"), "left_semi")
          .select("s_name", "s_acctbal")
          .orderBy("s_name", "s_acctbal")
      },
      Some("SELECT s_name, s_acctbal FROM supplier " +
        "JOIN nation ON s_nationkey = n_nationkey " +
        "JOIN region ON n_regionkey = r_regionkey " +
        "WHERE r_name = 'ASIA' AND s_suppkey IN (" +
        "SELECT l_suppkey FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "WHERE p_name LIKE 'b%' " +
        "AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' " +
        "AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00' " +
        "GROUP BY l_suppkey, l_partkey HAVING SUM(l_quantity) > 50) " +
        "ORDER BY s_name, s_acctbal")),

    // Q21-shaped waiting suppliers: late lineitems on finished
    // multi-supplier orders where ONLY this supplier was late. The
    // EXISTS/NOT-EXISTS pair decorrelates to per-order supplier counts
    // (distinct suppliers, distinct LATE suppliers) joined back to the
    // late lines — two orderkey-partitioned aggs instead of two
    // correlated self-joins; the oracle keeps the textbook EXISTS form
    // as an independent formulation of the same semantics.
    QDef("q21_waiting_suppliers",
      (s, d) => {
        // collapse to (order, supplier) pairs FIRST — one shuffle of the
        // fact join output, after which everything is pair-sized. Two
        // countDistincts over the raw lines would Expand (double) the
        // shuffle; and the per-order supplier/late counts are WINDOWS
        // over the pairs (one orderkey shuffle of pair-sized data), not
        // a pairs⋈stats self-join — so the fact side is scanned exactly
        // once and nothing is cached or recomputed.
        val w = Window.partitionBy("l_orderkey")
        T.lineitem(s, d).select("l_orderkey", "l_suppkey", "l_shipdate")
          .join(T.orders(s, d).filter(col("o_orderstatus") === "F")
            .select("o_orderkey", "o_orderdate"),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy("l_orderkey", "l_suppkey")
          .agg(max((col("l_shipdate") >
            col("o_orderdate") + expr("INTERVAL 60 DAYS")).cast("int"))
            .as("sl"))
          .withColumn("n_supp", count(lit(1)).over(w))
          .withColumn("n_late", sum(col("sl")).over(w))
          .filter(col("sl") === 1 && col("n_supp") >= 2 && col("n_late") === 1)
          .join(broadcast(T.supplier(s, d).select("s_suppkey", "s_name")),
            col("l_suppkey") === col("s_suppkey"))
          .groupBy("s_name")
          .agg(count(lit(1)).as("numwait"))
          .orderBy(col("numwait").desc, col("s_name"))
          .limit(25)
      },
      Some("SELECT s_name, count(*) AS numwait FROM (" +
        "SELECT DISTINCT l1.l_orderkey, l1.l_suppkey FROM lineitem l1 " +
        "JOIN orders ON o_orderkey = l1.l_orderkey " +
        "WHERE o_orderstatus = 'F' " +
        "AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY " +
        "AND EXISTS (SELECT 1 FROM lineitem l2 " +
        "WHERE l2.l_orderkey = l1.l_orderkey " +
        "AND l2.l_suppkey <> l1.l_suppkey) " +
        "AND NOT EXISTS (SELECT 1 FROM lineitem l3 " +
        "JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey " +
        "WHERE l3.l_orderkey = l1.l_orderkey " +
        "AND l3.l_suppkey <> l1.l_suppkey " +
        "AND l3.l_shipdate > o3.o_orderdate + INTERVAL 60 DAY)) w " +
        "JOIN supplier ON s_suppkey = l_suppkey " +
        "GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 25")),

    // Q22-shaped global sales opportunity (phone prefix stands in as a
    // nation subset): rich customers inactive since 2000. Scale shape:
    // the avg threshold is one broadcast scalar (exact decimal sum /
    // count); the anti join shuffles on custkey against the date-pruned
    // orders; output is a per-nation agg.
    QDef("q22_global_sales",
      (s, d) => {
        val c = T.customer(s, d).filter(col("c_nationkey").isin(1, 3, 5, 7, 9))
        val avgBal = c.filter(col("c_acctbal") > 0.0)
          .agg((sum(col("c_acctbal").cast(DecimalType(18, 2)))
            .cast(DoubleType) / count(lit(1))).as("avg_bal"))
        c.join(T.orders(s, d)
            .filter(col("o_orderdate") >= to_timestamp(lit("2000-01-01 00:00:00")))
            .select("o_custkey"),
          col("c_custkey") === col("o_custkey"), "left_anti")
          .crossJoin(broadcast(avgBal))
          .filter(col("c_acctbal") > col("avg_bal"))
          .groupBy(col("c_nationkey").as("cntry"))
          .agg(count(lit(1)).as("numcust"),
            moneySum(col("c_acctbal")).as("total_acctbal"))
          .orderBy("cntry")
      },
      Some("SELECT c_nationkey AS cntry, count(*) AS numcust, " +
        s"${moneySumSql("c_acctbal")} AS total_acctbal " +
        "FROM customer WHERE c_nationkey IN (1,3,5,7,9) " +
        "AND c_acctbal > (SELECT " +
        "CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*) " +
        "FROM customer WHERE c_nationkey IN (1,3,5,7,9) " +
        "AND c_acctbal > 0.0) " +
        "AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey " +
        "AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00') " +
        "GROUP BY cntry ORDER BY cntry"))
  )
}
