package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the judged operator inventory: every SURVEY.md §2 operator
  * (plus the LLM-pipeline extensions) has one named entry; `oracleSql` holds
  * the equivalent DuckDB SQL where the op is SQL-expressible.
  */
object SparkEntry {

  private def allDefs: Seq[QDef] =
    ops.Relational.defs ++ ops.Pipeline.defs ++ ops.LakeScenarios.defs

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    *
    * Demo-5 "production metrics" analog (ref demos/05_catalog_portability/
    * demo.py:331-365) over the star schema: revenue + order mix per nation,
    * dims broadcast, facts aggregated partial→final, top-k by revenue.
    */
  def entry(spark: SparkSession): DataFrame = {
    val d = "/root/testdata/sf0.001"
    val c = Tables.customer(spark, d)
    val o = Tables.orders(spark, d)
    val n = Tables.nation(spark, d)
    c.join(o, c("c_custkey") === o("o_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).cast(DoubleType)
          .as("revenue"),
        sum(when(col("o_orderstatus") === "F", 1).otherwise(0)).as("n_filled"),
        countDistinct(col("c_custkey")).as("n_customers"))
      .orderBy(col("revenue").desc, col("n_name"))
      .limit(10)
  }

  /** Core count for a local session: `SPARK_GRAFT_CPUS` when set, else
    * `default`. */
  def cpus(default: => Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.toInt)

  /** The one session shape every runtime surface and the test suites
    * share: `local[cores]` with the shuffle width equal to the cores, UTC,
    * no UI, and cost-based optimization. Lake-table scans carry exact
    * manifest statistics (rowCount/size/min-max/NDV via RelationStats), so
    * the INITIAL plan picks broadcast sides and join order from stats
    * instead of relying on AQE runtime repair; plain parquet reads (no
    * catalog stats) keep their default size-only estimates. */
  def session(cores: Int): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.cbo.enabled", "true")
      .config("spark.sql.cbo.planStats.enabled", "true")
      .config("spark.sql.cbo.joinReorder.enabled", "true")
      .getOrCreate()

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allDefs.map(q => q.name -> q.build).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    allDefs.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
