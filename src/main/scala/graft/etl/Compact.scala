package graft.etl

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{count, lit}

/** Small-files compaction — the standing operational problem of any
  * partitioned 100 TB sink: long-running ingestion accumulates
  * thousands of tiny files per partition, and both scan task count and
  * driver file-listing cost blow up. Rewrites a parquet dataset into
  * `targetFiles` uniformly-sized output files.
  *
  * `repartition` (round-robin shuffle), not `coalesce`: coalesce(n)
  * caps the parallelism of the read stage itself to n and inherits any
  * input-split skew into the output files; the round-robin shuffle
  * costs one pass and yields uniform files. Output goes to a fresh
  * directory — atomic in-place swaps are the province of transactional
  * table formats, not a filesystem rename here. */
object Compact {

  /** Returns the number of rows written (observed during the write,
    * no re-read). */
  def compact(
      spark: SparkSession,
      inDir: String,
      outDir: String,
      targetFiles: Int,
      compression: String = "zstd"): Long = {
    require(targetFiles > 0, s"targetFiles must be positive, got $targetFiles")
    val (df, obs) = Metrics.observed(spark.read.parquet(inDir), "compact",
      count(lit(1)).as("rows"))
    df.repartition(targetFiles)
      .write.mode("overwrite")
      .option("compression", compression)
      .parquet(outDir)
    obs.get("rows").asInstanceOf[Long]
  }
}
