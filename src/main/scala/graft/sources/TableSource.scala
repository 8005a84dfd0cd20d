package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Source abstraction (SURVEY §7.5): the engine's operators read tables
  * through this trait so the offline parquet harness and a production
  * MongoDB deployment are interchangeable — swap the source, keep every
  * query. */
trait TableSource {
  /** Read one logical table/collection as a DataFrame. Implementations
    * must normalize timestamps to µs (Spark's native precision). */
  def read(spark: SparkSession, table: String): DataFrame
  /** Tables this source can enumerate (reference A1 catalog scan). */
  def list(spark: SparkSession): Seq[String]
}

/** Directory of `<table>.parquet` files (the harness fixture layout).
  *
  * `nsTimestampCols` names columns stored as TIMESTAMP(NANOS) (which
  * Spark 4 can't read natively): they're read as raw ns via the legacy
  * nanosAsLong flag and integer-divided to µs — float division would
  * corrupt them (2024 epoch-ns > 2^53). Strictly opt-in: with the
  * default empty set no column is touched and no session flag is set,
  * so a plain long column that happens to be named `ts` passes through
  * verbatim (production would carry this annotation in the catalog).
  *
  * The schema comes from one footer read on the driver
  * ([[ParquetDirSource.footerSchema]]) and is handed to
  * `spark.read.schema(_).parquet`, so a read launches no Spark job:
  * `spark.read.parquet`'s own inference runs a one-task job just to
  * read that footer. */
final case class ParquetDirSource(
    dir: String,
    nsTimestampCols: Set[String] = Set.empty) extends TableSource {
  override def read(spark: SparkSession, table: String): DataFrame = {
    if (nsTimestampCols.nonEmpty) ParquetDirSource.prepareSession(spark)
    val path = s"$dir/$table.parquet"
    val df = ParquetDirSource.footerSchema(spark, path)
      .fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))
    df.schema.fields.foldLeft(df) { (acc, f) =>
      if (nsTimestampCols.contains(f.name) && f.dataType == org.apache.spark.sql.types.LongType)
        acc.withColumn(f.name,
          timestamp_micros(expr(s"${f.name} div 1000")).cast("timestamp_ntz"))
      else acc
    }
  }

  override def list(spark: SparkSession): Seq[String] =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".parquet"))
      .map(_.getName.stripSuffix(".parquet"))
      .sorted
}

object ParquetDirSource {
  private val prepared =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, java.lang.Boolean]()

  /** One-time per-session setup for TIMESTAMP(NANOS) columns: the
    * legacy nanosAsLong flag is session-global, so it is set exactly
    * once under computeIfAbsent (concurrent first readers block until
    * the flag is visible instead of racing a scan past an unset flag).
    * Callers that build the session themselves can also pre-set the
    * flag at config time, which makes this a no-op check. */
  def prepareSession(spark: SparkSession): Unit =
    prepared.computeIfAbsent(spark, s => {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      java.lang.Boolean.TRUE
    })

  /** The schema `spark.read.parquet(path)` infers, read from the footer
    * its inference would touch: with schema merging off, Spark takes
    * `_common_metadata`, then `_metadata`, then the first data file in
    * path order, skipping the names Spark's own file listing skips
    * (`CatalystBridge.isHiddenPathName`). The footer is converted by
    * Spark's own converter over the session conf, so
    * `nanosAsLong`, NTZ inference and binary-as-string apply exactly as
    * in inference, and opened over the context's Hadoop conf (no new
    * `Configuration`, whose parse dominates a footer read). None where
    * Spark must infer itself: merging on, a missing path, no file to
    * read, or subdirectories (partition discovery) — so any error
    * stays Spark's own. */
  def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    import org.apache.spark.sql.graftshim.CatalystBridge
    val sqlConf = CatalystBridge.sqlConf(spark)
    if (sqlConf.isParquetSchemaMergingEnabled) return None
    val hconf = spark.sparkContext.hadoopConfiguration
    val root = new Path(path)
    val fs = root.getFileSystem(hconf)
    val status = scala.util.Try(fs.getFileStatus(root)).toOption
    val files: Seq[FileStatus] = status match {
      case None => return None
      case Some(st) if st.isFile => Seq(st)
      case Some(_) =>
        val visible = fs.listStatus(root).toSeq
          .filterNot(f => CatalystBridge.isHiddenPathName(f.getPath.getName))
        if (visible.exists(_.isDirectory)) return None
        visible.sortBy(_.getPath.toString)
    }
    def named(n: String) = files.find(_.getPath.getName == n)
    val summaries = Set(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
      ParquetFileWriter.PARQUET_METADATA_FILE)
    named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
      .orElse(named(ParquetFileWriter.PARQUET_METADATA_FILE))
      .orElse(files.find(f => !summaries(f.getPath.getName)))
      .map { f =>
        val meta = ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(f, hconf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
        ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, meta),
          new ParquetToSparkSchemaConverter(sqlConf))
      }
  }
}

/** MongoDB source via the Spark MongoDB connector (the production path
  * of the reference, BASELINE.json `spark_approach`). Maps the
  * reference's knobs onto connector options: cursor `batch_size`
  * (main.py:31,301) → the connector's batch size; the single-cursor
  * scan (main.py:297-303) becomes a partitioned read
  * (`SamplePartitioner`), which is the whole reason to run on Spark.
  *
  * Not exercised in this zero-egress harness (no mongod, no connector
  * jar) — construction fails fast if the connector isn't on the
  * classpath; everything downstream of `read` is source-agnostic and IS
  * tested through [[ParquetDirSource]]. */
final case class MongoSource(
    connectionUri: String,
    database: String,
    batchSize: Int = 10000) extends TableSource {

  /** Connector options derived from the reference's knobs — exposed so
    * the mapping is unit-testable without a live mongod/connector jar
    * (reference main.py:31,301: cursor batch_size; single-cursor scan →
    * partitioned read). */
  def readerOptions(table: String): Map[String, String] = Map(
    "spark.mongodb.read.connection.uri" -> connectionUri,
    "spark.mongodb.read.database" -> database,
    "spark.mongodb.read.collection" -> table,
    "spark.mongodb.read.batchSize" -> batchSize.toString,
    "spark.mongodb.read.partitioner" ->
      "com.mongodb.spark.sql.connector.read.partitioner.SamplePartitioner")

  override def read(spark: SparkSession, table: String): DataFrame =
    spark.read
      .format("mongodb")
      .options(readerOptions(table))
      .load()
      .drop("_id") // reference A6 (main.py:107)

  override def list(spark: SparkSession): Seq[String] =
    throw new UnsupportedOperationException(
      "collection listing requires a live MongoClient; wire via config in this harness")
}
