package graft

import graft.sources.ParquetDirSource
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.{expr, timestamp_micros}
import org.apache.spark.sql.graftshim.CatalystBridge

/** `ParquetDirSource` reads its schema from one footer on the driver:
  * the schema must equal `spark.read.parquet`'s inference, and a read
  * must start no Spark job. */
class TableSourceSpec extends SparkSpec {

  // the sf0.01 fixtures, beside the shared sf0.001 ones
  private val fixtureDir = new java.io.File(sfDir).getParent + "/sf0.01"

  /** Jobs started while `body` runs. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
    }
    CatalystBridge.waitForListeners(spark)
    spark.sparkContext.addSparkListener(listener)
    val out =
      try body
      finally {
        CatalystBridge.waitForListeners(spark)
        spark.sparkContext.removeSparkListener(listener)
      }
    (out, jobs.get)
  }

  /** A part-file table beside `_SUCCESS` and hidden `.crc` files. */
  private lazy val partFileDir: String = {
    val dir = s"${tmpDir("graft-partdir")}/t.parquet"
    spark.range(0, 300).selectExpr("id", "cast(id % 7 as string) AS s",
      "cast(id as double) / 3 AS d").repartition(3).write.parquet(dir)
    val names = new java.io.File(dir).list().toSeq
    assert(names.contains("_SUCCESS") && names.exists(n => n.startsWith(".") && n.endsWith(".crc")),
      names.mkString(", "))
    dir.stripSuffix("/t.parquet")
  }

  /** A single-file table whose `ts` is TIMESTAMP(NANOS), which Spark reads
    * only as a long under `nanosAsLong`. */
  private lazy val nanosDir: String = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.MessageTypeParser
    val dir = tmpDir("graft-nanos")
    val schema = MessageTypeParser.parseMessageType(
      "message ev { required int64 id; required int64 ts (TIMESTAMP(NANOS,false)); }")
    val out = HadoopOutputFile.fromPath(new org.apache.hadoop.fs.Path(s"$dir/ev.parquet"),
      spark.sparkContext.hadoopConfiguration)
    val w = ExampleParquetWriter.builder(out).withType(schema).build()
    val groups = new SimpleGroupFactory(schema)
    try (0L until 5L).foreach(i =>
      w.write(groups.newGroup().append("id", i).append("ts", 1700000000000000000L + i * 1001L)))
    finally w.close()
    dir
  }

  private lazy val tables: Seq[(String, String)] =
    Tables.names.map(fixtureDir -> _) ++ Seq(partFileDir -> "t", nanosDir -> "ev")

  test("footer schema equals spark.read.parquet's inference") {
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    for ((dir, t) <- tables) {
      val path = s"$dir/$t.parquet"
      // a file relation makes its schema nullable, so compare relations
      val footer = ParquetDirSource.footerSchema(spark, path)
      assert(footer.map(spark.read.schema(_).parquet(path).schema)
        .contains(spark.read.parquet(path).schema), path)
      for (src <- Seq(ParquetDirSource(dir), ParquetDirSource(dir, nsTimestampCols = Set("ts")))) {
        val inferred = spark.read.parquet(path)
        val expected = inferred.schema.fields.foldLeft(inferred) { (acc, f) =>
          if (src.nsTimestampCols(f.name) && f.dataType == org.apache.spark.sql.types.LongType)
            acc.withColumn(f.name, timestamp_micros(expr(s"${f.name} div 1000"))
              .cast("timestamp_ntz"))
          else acc
        }.schema
        assert(src.read(spark, t).schema == expected, s"$path $src")
      }
    }
    val ev = ParquetDirSource(nanosDir, Set("ts")).read(spark, "ev")
    assert(ev.schema("ts").dataType.typeName == "timestamp_ntz")
    assert(ev.selectExpr("max(unix_micros(cast(ts as timestamp)))").head.getLong(0) ==
      (1700000000000000000L + 4 * 1001L) / 1000)
    // a missing path falls through to Spark's own inference and error
    assert(ParquetDirSource.footerSchema(spark, s"$fixtureDir/nope.parquet").isEmpty)
    val err = intercept[Exception](ParquetDirSource(fixtureDir).read(spark, "nope"))
    assert(err.getMessage.contains("PATH_NOT_FOUND"), err.getMessage)
  }

  test("reading a table starts no Spark job") {
    for ((dir, t) <- tables; ns <- Seq(Set.empty[String], Set("ts"))) {
      val (df, jobs) = jobsDuring(ParquetDirSource(dir, ns).read(spark, t))
      assert(jobs == 0, s"$dir/$t (nsTimestampCols=$ns) started $jobs jobs")
      assert(df.schema.nonEmpty)
    }
  }
}
