package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.{BeforeAndAfterAll, Outcome}

/** Shared local SparkSession for all specs (one JVM-wide session — specs
  * must not stop() it). Mirrors the driver's session shape: UTC, CPU-count
  * shuffle partitions. Suites never use it directly: each gets a child
  * session (class SparkSpec) that inherits these confs, and each test runs
  * with that child as the thread's active session. */
object SparkSpec {
  lazy val spark: SparkSession = {
    // SPARK_GRAFT_CBO=0 re-runs the A/B (plan-stats estimation off)
    val cboOn = (!sys.env.get("SPARK_GRAFT_CBO").contains("0")).toString
    val cpus = math.max(4, Runtime.getRuntime.availableProcessors())
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // cost-based optimization: lake-table scans carry exact manifest
      // statistics (rowCount/size/min-max/NDV via RelationStats), so the
      // INITIAL plan picks broadcast sides and join order from stats
      // instead of relying on AQE runtime repair; plain parquet reads
      // (no catalog stats) keep their default size-only estimates
      .config("spark.sql.cbo.enabled", cboOn)
      .config("spark.sql.cbo.planStats.enabled", cboOn)
      .config("spark.sql.cbo.joinReorder.enabled", cboOn)
      .getOrCreate()
  }
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  /** Per-suite CHILD session: shared SparkContext/executor, but isolated
    * SQLConf, temp views and UDF registry — suites run concurrently
    * (build.sbt `Test / testForkedParallel`), and several mutate session
    * confs (AQE toggles, broadcast thresholds, codegen flags) that must
    * not leak into a concurrently running suite's plans. The child keeps
    * the builder's confs (CBO, shuffle width, time zone). */
  lazy val spark: SparkSession = SparkSpec.spark.newSession()
  override def beforeAll(): Unit = {
    spark.sparkContext.setLogLevel("ERROR")
    super.beforeAll()
  }
  /** Each test runs with this suite's child as the thread's ACTIVE
    * session. `SQLConf.get` reads the active session's conf, and code
    * outside an action — `optimizedPlan.stats`, cost-mode explain — reads
    * CBO switches through it; a pool thread with no active session falls
    * back to Spark's defaults (CBO off), so stats-dependent tests would
    * pass or fail by which thread the suite happened to land on. */
  override def withFixture(test: NoArgTest): Outcome = {
    val prior = SparkSession.getActiveSession
    SparkSession.setActiveSession(spark)
    try super.withFixture(test)
    finally prior match {
      case Some(s) => SparkSession.setActiveSession(s)
      case None => SparkSession.clearActiveSession()
    }
  }
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}
