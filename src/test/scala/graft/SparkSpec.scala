package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs — one per suite (lazy), UTC, small
  * shuffle fan-out. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName(getClass.getSimpleName)
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    // storage-partitioned joins for key-grouped docstore scans: set
    // from process start so plan shapes never depend on which query
    // was constructed first (etl_connector_copartition also sets it
    // for foreign sessions)
    .config("spark.sql.sources.v2.bucketing.enabled", "true")
    // recursive-CTE working sets scale with the table (see Bench.scala)
    .config("spark.sql.cteRecursionRowLimit", "100000000")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sfDir = "/root/testdata/sf0.001"

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Runs `body` with one session conf set, restoring the old value. */
  def withConf[T](key: String, value: String)(body: => T): T = {
    val old = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
