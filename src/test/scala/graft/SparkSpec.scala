package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs: [[Session.build]] pinned to 4 task
  * slots, so test shuffle fan-out does not follow `SPARK_GRAFT_CPUS`. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Session.build(cpus = 4)

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
