package graft

import org.apache.spark.sql.SparkSession

/** The one session builder: `Bench`, `Verify`, `Explain` and the test
  * suites all get their session here, so every query plans under the
  * same settings and the same installed extensions. */
object Session {

  /** A local session with `cpus` task slots (`SPARK_GRAFT_CPUS`, default
    * 4), or the JVM's already-running one. */
  def build(cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.toInt)): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      // one shuffle partition per task slot; AQE coalesces from there
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // results and their oracle SQL must not depend on the host's zone
      .config("spark.sql.session.timeZone", "UTC")
      // storage-partitioned joins for key-grouped docstore scans, on from
      // process start so no plan depends on which query ran first
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      // recursive-CTE working sets scale with the table (the sf1 audit
      // tripped the 1M default on a log2(N)-depth walk over 50k docs);
      // the limit is a runaway guard, not a capacity plan
      .config("spark.sql.cteRecursionRowLimit", "100000000")
      // TIMESTAMP(NANOS) fixture columns are read as raw longs (see
      // ParquetDirSource); set before any query thread can race a scan
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // reliable-mode Skew.cut checkpoints are deleted once their RDD is
      // collected; the cleaner reads this only at context start
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      // no web UI: many short local processes, nobody watching a port
      .config("spark.ui.enabled", "false")
      // SQL functions, BandJoinRule and AsOfJoinStrategy, installed once
      // at build: every query and every newSession() plans with them
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
