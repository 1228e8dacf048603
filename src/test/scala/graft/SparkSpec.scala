package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session — Spark
  * sessions are expensive; suites must not stop() it). The one
  * exception is TablesSpec's stopped-session eviction test, so a
  * stopped session is rebuilt here with the same confs. */
object SparkSpec {
  private var current: SparkSession = _

  def session: SparkSession = synchronized {
    if (current == null || current.sparkContext.isStopped) current = build()
    current
  }

  private def build(): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // fixture timestamps are tz-naive (isAdjustedToUTC=false); read them
      // as LTZ (UTC session) so unix_micros et al. see TIMESTAMP, matching
      // the DuckDB oracle's epoch values
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
      .config("spark.ui.enabled", "false")
      .config("spark.checkpoint.compress", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  /** Smoke-scale fixtures (sf0.001): 6k lineitem / 1k events / 500 docs. */
  val sf = "/root/testdata/sf0.001"
}
