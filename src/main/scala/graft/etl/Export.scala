package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's whole data plane (A4→A13) as one declarative Spark
  * plan per table (reference `_process_collection` + `write_collection`,
  * main.py:102-158, 287-309):
  *
  *   read → inclusive date-range filter (pushed down to the source) →
  *   derive year/month/day → route by the string partition value
  *   (`"unknown"` fallback, main.py:110) → partitioned zstd parquet
  *   write with file rotation.
  *
  * What the reference hand-built, Spark supplies:
  *   - buffering/row groups (A9,A11)  → vectorized parquet writer;
  *   - file rotation at 4M rows (A12) → `maxRecordsPerFile`;
  *   - 6-thread DB fan-out (A14)      → partitioned reads + task
  *     parallelism (a serial driver loop over tables is enough; each
  *     write job is internally parallel across input splits);
  *   - schema freeze (A10)            → one plan-time schema per table.
  *
  * At 100 TB the same plan holds: the scan parallelizes over file
  * splits, the filter prunes at the source, and the write is one
  * shuffle-free narrow pipeline per task (no global sort, no driver
  * materialization). Partition count = input splits; output files are
  * bounded by `maxRecordsPerFile`.
  */
object Export {

  /** Per-table export result (A13's running count, main.py:158). */
  final case class TableResult(table: String, rows: Long, outputPath: String)

  /** Derived partition-value column: string year with the reference's
    * `"unknown"` fallback (main.py:110). */
  def partitionValue(dateCol: String) =
    coalesce(year(col(dateCol)).cast("string"), lit("unknown"))

  /** A4-A7: scan + pushdown filter + derived columns for one table. */
  def transform(
      df: DataFrame,
      dateCol: Option[String],
      startDate: Option[String],
      endDate: Option[String]): DataFrame =
    dateCol match {
      case None => df.withColumn("part_year", lit("unknown"))
      case Some(f) =>
        val filtered = (startDate, endDate) match {
          case (Some(a), Some(b)) =>
            df.filter(col(f).between(lit(a).cast("timestamp"), lit(b).cast("timestamp")))
          case (Some(a), None) => df.filter(col(f) >= lit(a).cast("timestamp"))
          case (None, Some(b)) => df.filter(col(f) <= lit(b).cast("timestamp"))
          case (None, None)    => df
        }
        filtered
          .withColumn("year", year(col(f)))
          .withColumn("month", month(col(f)))
          .withColumn("day", dayofmonth(col(f)))
          .withColumn("part_year", partitionValue(f))
    }

  /** Run the export for every configured table. Failure semantics are
    * per-table keep-going with an error summary — the reference's
    * thread pool silently swallowed failures (main.py:269-273); we keep
    * "one bad table doesn't kill the job" but never lose the error.
    * `source` defaults to the plain parquet harness layout (no column
    * rewriting); pass a [[graft.sources.MongoSource]] for the
    * production path — the pipeline below is identical either way. */
  def run(spark: SparkSession, cfg: ExportConfig): Seq[Either[(String, Throwable), TableResult]] =
    run(spark, cfg, graft.sources.ParquetDirSource(cfg.inputDir))

  def run(
      spark: SparkSession,
      cfg: ExportConfig,
      src: graft.sources.TableSource): Seq[Either[(String, Throwable), TableResult]] = {
    val all = cfg.dateColumns.keySet
    val selected =
      if (cfg.includeTables.nonEmpty) all.intersect(cfg.includeTables)
      else all.diff(cfg.excludeTables)
    // an include entry with no date_columns config is an error, not a
    // silent skip ("never lose the error")
    val unknown = cfg.includeTables.diff(all).toSeq.sorted.map { t =>
      Left(t -> new IllegalArgumentException(
        s"include_tables entry '$t' has no date_columns configuration"))
    }
    unknown ++ selected.toSeq.sorted.map { table =>
      try Right(exportTable(spark, cfg, src, table, cfg.dateColumns(table)))
      catch { case e: Exception => Left(table -> e) }
    }
  }

  def exportTable(
      spark: SparkSession,
      cfg: ExportConfig,
      source: graft.sources.TableSource,
      table: String,
      dateCol: Option[String]): TableResult = {
    val out = s"${cfg.outputDir}/$table"
    val (start, end) = cfg.rangeFor(table)
    val df = transform(source.read(spark, table), dateCol, start, end)
    // A13's running count is observed DURING the write (a
    // re-read-and-count would double every export's read I/O — at
    // 100 TB that is the difference between one pass and two).
    val (counted, obs) = Metrics.observed(df, s"export:$table", count(lit(1)).as("rows"))
    counted.write
      .mode("overwrite")
      .partitionBy("part_year")
      .option("compression", cfg.compression)
      // reference rotates files at row_group_size*10 rows (main.py:225-228)
      .option("maxRecordsPerFile", cfg.rowGroupSize.toLong * 10)
      .parquet(out)
    TableResult(table, obs.get("rows").asInstanceOf[Long], out)
  }
}
