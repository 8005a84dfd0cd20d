package graft

import graft.ops.AsOf
import graft.plans.{AsOfJoinExec, BandJoinRule}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** API-surface coverage that isn't oracle-checkable: the
  * SparkSessionExtensions SQL functions, approximate-distinct bounds,
  * and the CSV/JSON source generality (no fixtures → round-trip). */
class SurfaceSpec extends SparkSpec {

  test("GraftExtensions registers vec_dot and hamming_distance for SQL") {
    val r = spark.sql(
      "SELECT vec_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), " +
        "array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d, " +
        "hamming_distance(255L, 15L) AS h").head()
    assert(r.getDouble(0) == 11.0)
    assert(r.getInt(1) == 4)
  }

  // A fresh newSession() has built no registered query, so these pass
  // only if the extensions were installed when the session was built.

  test("a fresh session resolves the engine's SQL functions") {
    val fresh = spark.newSession()
    val r = fresh.sql(
      "SELECT vec_dot(array(CAST(1.0 AS FLOAT)), array(CAST(2.0 AS FLOAT))) AS d, " +
        "theta_estimate(theta_sketch_agg(id)) AS n FROM range(100)").head()
    assert(r.getDouble(0) == 2.0)
    assert(r.getDouble(1) == 100.0)
  }

  test("a fresh session plans a pure band join through BandJoinRule") {
    def band(s: SparkSession) = {
      val p = s.read.parquet(s"$sfDir/part.parquet")
      val su = s.read.parquet(s"$sfDir/supplier.parquet")
      p.join(su, col("p_retailprice").between(col("s_acctbal") - 500, col("s_acctbal") + 500))
        .select("p_partkey", "s_suppkey")
    }
    val fresh = band(spark.newSession())
    assert(fresh.queryExecution.optimizedPlan.toString.contains("__band_bucket"),
      s"rule not installed:\n${fresh.queryExecution.optimizedPlan}")
    val stockSession = spark.newSession()
    stockSession.conf.set("spark.sql.optimizer.excludedRules", BandJoinRule.ruleName)
    val stock = band(stockSession)
    assert(stock.queryExecution.executedPlan.toString.contains("NestedLoop"))
    def rows(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val expected = rows(stock)
    assert(expected.nonEmpty)
    assert(rows(fresh) == expected)
  }

  test("a fresh session plans AsOf.join, also through a view read from another session") {
    val fresh = spark.newSession()
    import fresh.implicits._
    val l = Seq((1L, 10L), (1L, 30L), (2L, 5L)).toDF("k", "t")
    val r = Seq((1L, 20L, "a"), (2L, 1L, "b")).toDF("rk", "rt", "v")
    def planned(df: DataFrame) =
      df.queryExecution.sparkPlan.exists(_.isInstanceOf[AsOfJoinExec])
    val joined = AsOf.join(l, r, "k", "rk", "t", "rt")
    assert(planned(joined))
    // another fresh session never called AsOf.join: only the strategy
    // installed at build can plan the view's AsOfJoin node
    joined.createOrReplaceGlobalTempView("surface_asof")
    try {
      val viewed = spark.newSession().table("global_temp.surface_asof")
      assert(planned(viewed))
      assert(viewed.select("k", "t", "v").collect()
        .map(x => (x.getLong(0), x.getLong(1), Option(x.getString(2)))).sorted.toSeq ==
        Seq((1L, 10L, None), (1L, 30L, Some("a")), (2L, 5L, Some("b"))))
    } finally spark.catalog.dropGlobalTempView("surface_asof")
  }

  test("approx_count_distinct within 10% (2x default rsd) of exact") {
    val got = SparkEntry.queries("agg_approx_distinct")(spark, sfDir).collect()
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val exact = li.groupBy("l_returnflag")
      .agg(countDistinct(col("l_orderkey")).as("o"), countDistinct(col("l_partkey")).as("p"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    got.foreach { r =>
      val (eo, ep) = exact(r.getString(0))
      assert(math.abs(r.getLong(1) - eo).toDouble / eo < 0.10)
      assert(math.abs(r.getLong(2) - ep).toDouble / ep < 0.10)
    }
  }

  test("Mongo source maps the reference's knobs onto connector options") {
    // the connector itself can't run in this harness (no mongod, no
    // jar); the option mapping is the testable contract (reference
    // main.py:31,301 batch_size + partitioned read)
    val src = graft.sources.MongoSource("mongodb://db:27017", "app", batchSize = 2048)
    val opts = src.readerOptions("users")
    assert(opts("spark.mongodb.read.connection.uri") == "mongodb://db:27017")
    assert(opts("spark.mongodb.read.database") == "app")
    assert(opts("spark.mongodb.read.collection") == "users")
    assert(opts("spark.mongodb.read.batchSize") == "2048")
    assert(opts("spark.mongodb.read.partitioner").endsWith("SamplePartitioner"))
  }

  test("observe() attaches named inline metrics to a query (A15 surface)") {
    val obs = org.apache.spark.sql.Observation("pipeline_stats")
    val df = spark.read.parquet(s"$sfDir/orders.parquet")
      .observe(obs, count(lit(1)).as("rows"), sum(col("o_totalprice")).as("total"))
    df.collect()
    assert(obs.get("rows").asInstanceOf[Long] == 1500L)
    assert(obs.get("total").asInstanceOf[Double] > 0)
  }

  test("ORC source/sink round-trip preserves schema and values") {
    val out = tmpDir("graft-orc")
    val df = spark.read.parquet(s"$sfDir/nation.parquet")
    df.write.mode("overwrite").orc(out)
    val back = spark.read.orc(out)
    assert(back.schema == df.schema)
    assert(back.orderBy("n_nationkey").collect().toSeq ==
      df.orderBy("n_nationkey").collect().toSeq)
  }

  test("binaryFile source reads whole files as (path, length, content) rows") {
    // the multimodal ingestion path: raw image/audio files → binary rows;
    // everything downstream (mm_binary_stats etc.) applies unchanged
    val dir = tmpDir("graft-bin")
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "a.bin"), Array[Byte](1, 2, 3))
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "b.bin"), Array[Byte](9, 8, 7, 6))
    val rows = spark.read.format("binaryFile").load(dir)
      .select("path", "length", "content").orderBy("path").collect()
    assert(rows.length == 2)
    assert(rows(0).getString(0).endsWith("a.bin"))
    assert(rows(0).getLong(1) == 3L)
    assert(rows(0).getAs[Array[Byte]](2).toSeq == Seq[Byte](1, 2, 3))
  }

  test("CSV source round-trip preserves schema and values") {
    val dir = tmpDir("graft-csv")
    val df = spark.read.parquet(s"$sfDir/nation.parquet")
    df.write.mode("overwrite").option("header", "true").csv(dir)
    val back = spark.read.option("header", "true").option("inferSchema", "true").csv(dir)
    assert(back.count() == df.count())
    assert(back.columns.toSeq == df.columns.toSeq)
    val a = df.orderBy("n_nationkey").collect().map(r => (r.getInt(0), r.getString(1)))
    val b = back.orderBy("n_nationkey").collect().map(r => (r.getInt(0), r.getString(1)))
    assert(a.sameElements(b))
  }

  test("JSON source round-trip preserves values") {
    val dir = tmpDir("graft-json")
    val df = spark.read.parquet(s"$sfDir/region.parquet")
    df.write.mode("overwrite").json(dir)
    val back = spark.read.json(dir)
    assert(back.count() == 5)
    assert(back.select("r_name").orderBy("r_name").collect().map(_.getString(0)).toSeq ==
      df.select("r_name").orderBy("r_name").collect().map(_.getString(0)).toSeq)
  }

  test("malformed JSON: PERMISSIVE quarantines rows in _corrupt_record, FAILFAST throws") {
    import org.apache.spark.sql.types._
    val dir = tmpDir("graft-badjson")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "part-0.json"),
      """{"id": 1, "v": "ok"}
        |{"id": 2 "v": "missing-comma"}
        |{"id": 3, "v": "ok2"}
        |""".stripMargin)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType),
      StructField("_corrupt_record", StringType)))
    // PERMISSIVE (the 100 TB default): bad rows land in the quarantine
    // column, good rows parse — one poison record can't kill the job
    val permissive = spark.read.schema(schema)
      .option("mode", "PERMISSIVE").option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(dir)
    // Spark requires materializing the corrupt column via a cache or
    // separate scan; a straight filter on it alone is disallowed
    val rows = permissive.cache().collect()
    assert(rows.length == 3)
    val bad = rows.filter(r => !r.isNullAt(2))
    assert(bad.length == 1 && bad.head.getString(2).contains("missing-comma"))
    assert(rows.filter(_.isNullAt(2)).map(_.getLong(0)).toSet == Set(1L, 3L))
    permissive.unpersist()
    // FAILFAST: schema-on-read violations surface immediately
    val ff = intercept[Exception] {
      spark.read.schema(StructType(schema.dropRight(1)))
        .option("mode", "FAILFAST").json(dir).collect()
    }
    // Spark 4 wraps the malformed-record error in FAILED_READ_FILE;
    // the contract pinned here is that the read THROWS instead of
    // silently dropping or null-filling the bad row
    val chain = Iterator.iterate(ff: Throwable)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")
    assert(chain.contains("FAILED_READ_FILE") || chain.contains("MALFORMED_RECORD") ||
      chain.contains("Malformed"), s"unexpected error: ${chain.take(300)}")
  }

  test("parquet schema evolution: mergeSchema unions columns across file generations") {
    import spark.implicits._
    val dir = tmpDir("graft-evolve")
    Seq((1L, "a")).toDF("id", "v1").write.parquet(s"$dir/gen=1")
    Seq((2L, "b", 9.5)).toDF("id", "v2", "score").write.parquet(s"$dir/gen=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.toSet == Set("id", "v1", "v2", "score", "gen"))
    val r1 = merged.filter(col("id") === 1L).collect().head
    assert(r1.getAs[String]("v1") == "a" && r1.isNullAt(merged.columns.indexOf("v2")),
      "old-generation rows null-fill new columns")
    val r2 = merged.filter(col("id") === 2L).collect().head
    assert(r2.getAs[Double]("score") == 9.5 && r2.isNullAt(merged.columns.indexOf("v1")),
      "new-generation rows null-fill dropped columns")
  }
}
