package graft

import graft.sources.{DocStore, DocStoreScan, DocStoreTableSource}
import org.apache.spark.sql.execution.FilterExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{GreaterThanOrEqual, In, IsNotNull, LessThanOrEqual}

/** The docstore DSv2 connector: the reference's defining behavior is
  * shipping the per-collection date range server-side
  * (main.py:288-299, `$gte`/`$lte`); these specs prove the same
  * predicates and the projected column set cross OUR connector's scan
  * boundary — pushed into the scan, not re-evaluated post-scan — and
  * that what comes back is byte-identical to the native parquet read. */
class DocStoreSpec extends SparkSpec {

  /** Every physical node, traversing through AQE wrappers and query
    * stages (both are leaves to a plain collect). */
  private def allNodes(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] =
    p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        p +: allNodes(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        p +: allNodes(q.plan)
      case other => other +: other.children.flatMap(allNodes)
    }

  private def physical(df: org.apache.spark.sql.DataFrame) =
    allNodes(df.queryExecution.executedPlan)

  /** Bloom filter chunk metadata of column `c` in every row group of `file`. */
  private def bloomChunks(file: String, c: String) = {
    import scala.jdk.CollectionConverters._
    DocStore.footerBlocks(file).map(_.getColumns.asScala
      .find(_.getPath.toDotString == c).get)
  }

  /** Rows a raw parquet read of `file` materializes for `k = probe`
    * with stats, dictionary, column-index and record-level filtering
    * off: only the bloom bitset (when `bloom`) can skip a row group. */
  private def rowsWithBloom(file: String, k: String, probe: Long,
      bloom: Boolean): Long = {
    import org.apache.parquet.filter2.compat.FilterCompat
    import org.apache.parquet.filter2.predicate.FilterApi
    import org.apache.parquet.hadoop.ParquetReader
    import org.apache.parquet.hadoop.example.GroupReadSupport
    val conf = new org.apache.hadoop.conf.Configuration()
    conf.setBoolean("parquet.filter.stats.enabled", false)
    conf.setBoolean("parquet.filter.dictionary.enabled", false)
    conf.setBoolean("parquet.filter.record-level.enabled", false)
    conf.setBoolean("parquet.filter.columnindex.enabled", false)
    conf.setBoolean("parquet.filter.bloom.enabled", bloom)
    val r = ParquetReader.builder(new GroupReadSupport(),
        new org.apache.hadoop.fs.Path(file)).withConf(conf)
      .withFilter(FilterCompat.get(
        FilterApi.eq(FilterApi.longColumn(k), java.lang.Long.valueOf(probe))))
      .build()
    var n = 0L
    while (r.read() != null) n += 1
    r.close(); n
  }

  private def docStoreScanOf(df: org.apache.spark.sql.DataFrame): DocStoreScan =
    physical(df).collectFirst {
      case b: BatchScanExec => b.scan
    }.get.asInstanceOf[DocStoreScan]

  test("connector read equals the native parquet read, column for column") {
    val viaConnector = new DocStoreTableSource(sfDir).read(spark, "orders")
    val native = spark.read.parquet(s"$sfDir/orders.parquet")
    assert(viaConnector.schema == native.schema,
      s"schema drift: ${viaConnector.schema} vs ${native.schema}")
    val a = viaConnector.orderBy("o_orderkey").collect().toSeq
    val b = native.orderBy("o_orderkey").collect().toSeq
    assert(a == b)
  }

  test("date range and projection reach the DSv2 scan; no post-scan Filter") {
    val df = SparkEntry.queries("etl_connector_pushdown")(spark, sfDir)
    df.collect()
    val scan = docStoreScanOf(df)
    // the inclusive bounds (the reference's $gte/$lte wart) are INSIDE
    // the scan...
    assert(scan.pushed.exists {
      case GreaterThanOrEqual("o_orderdate", _) => true; case _ => false
    }, s"no $$gte in ${scan.pushed.mkString(", ")}")
    assert(scan.pushed.exists {
      case LessThanOrEqual("o_orderdate", _) => true; case _ => false
    }, s"no $$lte in ${scan.pushed.mkString(", ")}")
    // ...and the scan RETURNS only the aggregate's columns — with both
    // date bounds fully pushed, o_orderdate is not even in the output
    // projection; the reader materializes it as a filter-only column
    assert(scan.readSchema().fieldNames.toSet ==
      Set("o_orderstatus", "o_totalprice"))
    val rf = scan.createReaderFactory()
      .asInstanceOf[graft.sources.DocStoreReaderFactory]
    assert(rf.projectCols.contains("o_orderdate"),
      "filter-only column missing from the server-side projection")
    // every predicate pushed ⇒ Spark plans NO residual Filter at all
    val filters = physical(df).collect {
      case f: FilterExec => f }.toSeq
    assert(filters.isEmpty,
      s"residual post-scan Filter survived: ${filters.mkString("; ")}")
  }

  test("IN-list predicate pushes as a server-side disjunction") {
    val df = SparkEntry.queries("etl_connector_projection")(spark, sfDir)
    df.collect()
    val scan = docStoreScanOf(df)
    assert(scan.pushed.exists {
      case In("lang", vs) => vs.toSet == Set("en", "de", "fr"); case _ => false
    }, s"no IN in ${scan.pushed.mkString(", ")}")
    assert(scan.readSchema().fieldNames.toSet == Set("lang", "n_chars"))
  }

  test("IN pushes as one parquet In node on every flat type; answers exact") {
    import spark.implicits._
    import org.apache.parquet.filter2.predicate.Operators
    val dir = tmpDir("docstore_in_types")
    (0 until 40).map(i => (i.toLong, i, i * 0.5, i % 2 == 0, s"s$i",
        java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(i.toLong)),
        new java.sql.Timestamp(i * 1000L)))
      .toDF("l", "i", "d", "b", "s", "dt", "ts").coalesce(1)
      .write.format("docstore").option("path", dir).mode("overwrite").save()
    // a MILLIS-unit store: an IN there keeps the op-aware rounding
    val msDir = tmpDir("docstore_in_millis")
    val prev = spark.conf.getOption("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MILLIS")
    try (0L until 4L).map(ms => (ms, new java.sql.Timestamp(ms)))
      .toDF("l", "ts").write.mode("overwrite").parquet(msDir)
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.parquet.outputTimestampType", v)
      case None => spark.conf.unset("spark.sql.parquet.outputTimestampType")
    }
    def check(store: String, c: String, vs: Seq[Any], expect: Set[Long],
        oneNode: Boolean = true): Unit = {
      val df = spark.read.format("docstore").option("path", store).load()
        .filter(col(c).isin(vs: _*)).select("l")
      val in = docStoreScanOf(df).pushed.filter { case In(`c`, _) => true; case _ => false }
      assert(in.length == 1, s"IN on $c not pushed: ${docStoreScanOf(df).pushed.mkString(", ")}")
      val pred = DocStore.toPredicate(in, DocStore.fileSchema(DocStore.listFiles(store).head))
      assert(pred.exists(_.isInstanceOf[Operators.In[_]]) == oneNode, s"IN on $c became $pred")
      assert(physical(df).collect { case f: FilterExec => f }.isEmpty, s"residual filter on $c")
      assert(df.as[Long].collect().toSet == expect, s"IN on $c")
    }
    check(dir, "l", Seq(3L, 7L, 99L), Set(3L, 7L))
    check(dir, "i", Seq(5, 6, -1), Set(5L, 6L))
    check(dir, "d", Seq(1.5, 2.0, 0.25), Set(3L, 4L))
    check(dir, "b", Seq(true, false), (0L until 40L).toSet)
    check(dir, "s", Seq("s1", "s10", "zz"), Set(1L, 10L))
    check(dir, "dt", Seq(java.sql.Date.valueOf("1970-01-03"), java.sql.Date.valueOf("1970-01-05")),
      Set(2L, 4L))
    check(dir, "ts", Seq(new java.sql.Timestamp(3000L), new java.sql.Timestamp(8000L)),
      Set(3L, 8L))
    // wide enough for Spark's InSet: still one pushed IN, one parquet node
    check(dir, "l", (20L until 60L), (20L until 40L).toSet)
    // MILLIS: a sub-millisecond literal matches nothing, an aligned one its row
    def at(nanos: Int) = { val t = new java.sql.Timestamp(0L); t.setNanos(nanos); t }
    check(msDir, "ts", Seq(at(500000), at(2000000)), Set(2L), oneNode = false)
  }

  test("unsupported predicates stay residual — never pushed approximately") {
    val df = new DocStoreTableSource(sfDir).read(spark, "documents")
      .filter(col("text").startsWith("a") && col("doc_id") >= 5)
    val scan = docStoreScanOf(df)
    // doc_id bound pushes; startsWith must NOT appear in the scan
    assert(scan.pushed.exists {
      case GreaterThanOrEqual("doc_id", v) => v == 5L; case _ => false })
    assert(!scan.pushed.exists(_.references.contains("text")) ||
      scan.pushed.forall {
        case IsNotNull("text") => true
        case f => !f.references.contains("text")
      }, s"approximate push of text predicate: ${scan.pushed.mkString(", ")}")
    // and the residual still applies: results match the native read
    val native = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("text").startsWith("a") && col("doc_id") >= 5)
    assert(df.orderBy("doc_id").collect().toSeq ==
      native.orderBy("doc_id").collect().toSeq)
  }

  test("splits: a multi-file store fans out one partition per row group") {
    val dir = tmpDir("docstore_split")
    spark.read.parquet(s"$sfDir/orders.parquet")
      .repartition(3).write.mode("overwrite").parquet(dir)
    val df = spark.read.format("docstore").option("path", dir).load()
    val scan = docStoreScanOf(df.select("o_orderkey"))
    assert(scan.planInputPartitions().length >= 3,
      "3-file store planned fewer than 3 partitions")
    // split reads cover every row exactly once
    assert(df.count() == 1500)
    val viaConnector = df.orderBy("o_orderkey")
      .select("o_orderkey", "o_totalprice").collect().toSeq
    val native = spark.read.parquet(dir).orderBy("o_orderkey")
      .select("o_orderkey", "o_totalprice").collect().toSeq
    assert(viaConnector == native)
  }

  test("empty projection (count(*)) still counts every row") {
    val df = spark.read.format("docstore")
      .option("path", s"$sfDir/orders.parquet").load()
    assert(df.count() ==
      spark.read.parquet(s"$sfDir/orders.parquet").count())
  }

  test("pushed filters drop rows server-side with SQL null semantics") {
    // a fixture with nulls in both the filter and projected columns
    val dir = tmpDir("docstore_nulls")
    import spark.implicits._
    val src = Seq[(java.lang.Long, java.lang.Double, String)](
      (1L, 10.0, "a"), (2L, null, "b"), (3L, 30.0, null),
      (null, 40.0, "d"), (5L, 50.0, "e"))
      .toDF("k", "v", "s")
    src.write.mode("overwrite").parquet(dir)
    val via = spark.read.format("docstore").option("path", dir).load()
    def both(f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) = {
      val a = f(via).orderBy("k").collect().toSeq
      val b = f(spark.read.parquet(dir)).orderBy("k").collect().toSeq
      assert(a == b, s"connector=$a native=$b")
    }
    both(_.filter(col("k") >= 2))            // null k drops
    both(_.filter(col("v") < 45.0))          // null v drops
    both(_.filter(col("s") === "b"))         // null s drops
    both(_.filter(col("s").isNull))
    both(_.filter(col("s").isNotNull))
    both(_.filter(col("k") >= 2 || col("v") < 15.0))
    both(_.filter(!col("s").isNull))
  }

  test("catalog listing through the connector-backed TableSource") {
    val ts = new DocStoreTableSource(sfDir)
    val tables = ts.list(spark)
    assert(tables.contains("orders") && tables.contains("documents"))
  }

  // ---- nested columns (r13) ----

  test("nested array column reads identically to the native parquet read") {
    val via = new DocStoreTableSource(sfDir).read(spark, "embeddings")
    val native = spark.read.parquet(s"$sfDir/embeddings.parquet")
    assert(via.schema == native.schema,
      s"schema drift: ${via.schema} vs ${native.schema}")
    assert(via.orderBy("vec_id").collect().toSeq ==
      native.orderBy("vec_id").collect().toSeq)
  }

  test("nested struct/map columns round-trip and prune to required subfields") {
    val dir = tmpDir("docstore_nested")
    import spark.implicits._
    val src = Seq((1L, 10, "x", 1.5, Seq("a", "b")), (2L, 20, "y", 2.5, Seq("c")))
      .toDF("id", "a", "b", "c", "tags")
      .select(col("id"),
        struct(col("a"), col("b"), struct(col("c")).as("inner")).as("s"),
        col("tags"),
        map(lit("k"), col("a")).as("m"))
    src.write.mode("overwrite").parquet(dir)
    val via = spark.read.format("docstore").option("path", dir).load()
    val native = spark.read.parquet(dir)
    assert(via.schema == native.schema)
    assert(via.orderBy("id").collect().toSeq ==
      native.orderBy("id").collect().toSeq)
    // nested-pruned projection: only s.a crosses the boundary
    val pruned = via.select(col("id"), col("s.a"))
    pruned.collect()
    val scan = docStoreScanOf(pruned)
    val sField = scan.readSchema()("s").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(sField.fieldNames.toSeq == Seq("a"),
      s"struct not pruned: ${scan.readSchema().catalogString}")
    assert(pruned.orderBy("id").collect().toSeq ==
      native.select(col("id"), col("s.a")).orderBy("id").collect().toSeq)
  }

  test("filters on nested paths stay residual and still apply exactly") {
    val via = new DocStoreTableSource(sfDir).read(spark, "embeddings")
      .filter(element_at(col("embedding"), 1) > 0 && col("vec_id") < 100)
    val scan = docStoreScanOf(via)
    assert(!scan.pushed.exists(_.references.exists(_.contains("embedding"))),
      s"nested predicate pushed approximately: ${scan.pushed.mkString(", ")}")
    val native = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .filter(element_at(col("embedding"), 1) > 0 && col("vec_id") < 100)
    assert(via.orderBy("vec_id").collect().toSeq ==
      native.orderBy("vec_id").collect().toSeq)
  }

  // ---- MILLIS-unit pushdown exactness (r13, ADVICE fix) ----

  test("sub-millisecond literals against a MILLIS store push exactly per-op") {
    val dir = tmpDir("docstore_millis")
    import spark.implicits._
    val prev = spark.conf.getOption("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MILLIS")
    try Seq(0L, 1L, 2L, 3L).map(ms => (ms, new java.sql.Timestamp(ms)))
      .toDF("id", "ts").write.mode("overwrite").parquet(dir)
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.parquet.outputTimestampType", v)
      case None => spark.conf.unset("spark.sql.parquet.outputTimestampType")
    }
    val via = spark.read.format("docstore").option("path", dir).load()
    // the semantic truth comes from the native read with parquet
    // record-level pushdown DISABLED: this Spark version's own parquet
    // filter floor-rounds a sub-ms literal to millis for every op, so
    // its pushed lt(1ms) drops the ts=1ms row that `ts < 1.5ms` keeps —
    // exactly the silent-wrong-answer the connector's op-aware ceiling/
    // floor rounding avoids; with pushdown on, native Spark returns the
    // WRONG set here and is no oracle
    val native = spark.read.parquet(dir)
    def both(c: org.apache.spark.sql.Column, expectIds: Set[Long]): Unit = {
      val v = via.filter(c).select("id").as[Long].collect().toSet
      val prev2 = spark.conf.get("spark.sql.parquet.filterPushdown")
      spark.conf.set("spark.sql.parquet.filterPushdown", "false")
      val n = try native.filter(c).select("id").as[Long].collect().toSet
        finally spark.conf.set("spark.sql.parquet.filterPushdown", prev2)
      assert(v == n, s"connector=$v native(no-pushdown)=$n for $c")
      assert(v == expectIds, s"got $v expected $expectIds for $c")
      // the predicate really is pushed (no residual Filter) — exactness
      // comes from op-aware ms rounding, not a Spark-side re-check
      assert(physical(via.filter(c)).collect { case f: FilterExec => f }.isEmpty,
        s"residual filter for $c")
    }
    def ts(s: String) = to_timestamp(lit(s))
    both(col("ts") >= ts("1970-01-01 00:00:00.0005"), Set(1L, 2L, 3L))
    both(col("ts") > ts("1970-01-01 00:00:00.0005"), Set(1L, 2L, 3L))
    both(col("ts") < ts("1970-01-01 00:00:00.0015"), Set(0L, 1L))
    both(col("ts") <= ts("1970-01-01 00:00:00.0005"), Set(0L))
    both(col("ts") === ts("1970-01-01 00:00:00.0005"), Set.empty)
    both(col("ts") === ts("1970-01-01 00:00:00.001"), Set(1L))
    both(col("ts") >= ts("1970-01-01 00:00:00.001"), Set(1L, 2L, 3L))
  }

  test("boolean ordered comparisons stay residual (FilterApi has no bool gt)") {
    val dir = tmpDir("docstore_bool")
    import spark.implicits._
    Seq((1L, true), (2L, false), (3L, true)).toDF("id", "flag")
      .write.mode("overwrite").parquet(dir)
    val via = spark.read.format("docstore").option("path", dir).load()
      .filter(col("flag") > false)
    val scan = docStoreScanOf(via)
    assert(!scan.pushed.exists {
      case GreaterThanOrEqual("flag", _) => true
      case org.apache.spark.sql.sources.GreaterThan("flag", _) => true
      case _ => false
    }, s"bool ordered cmp pushed: ${scan.pushed.mkString(", ")}")
    assert(via.select("id").as[Long].collect().toSet == Set(1L, 3L))
    // equality on booleans still pushes
    val eq = spark.read.format("docstore").option("path", dir).load()
      .filter(col("flag") === true)
    assert(docStoreScanOf(eq).pushed.exists {
      case org.apache.spark.sql.sources.EqualTo("flag", true) => true
      case _ => false
    })
    assert(eq.select("id").as[Long].collect().toSet == Set(1L, 3L))
  }

  test("schema drift across a multi-file store is rejected at inference") {
    val dir = tmpDir("docstore_drift")
    import spark.implicits._
    Seq((1L, "a")).toDF("k", "s").write.mode("overwrite").parquet(s"$dir/f1")
    Seq((1L, 2.0)).toDF("k", "d").write.mode("overwrite").parquet(s"$dir/f2")
    val conf = new org.apache.hadoop.conf.Configuration()
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    // flatten the two files into one store dir
    Seq("f1", "f2").foreach { sub =>
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/$sub"))
        .filter(st => st.getPath.getName.endsWith(".parquet"))
        .foreach { st =>
          fs.rename(st.getPath,
            new org.apache.hadoop.fs.Path(s"$dir/${sub}_${st.getPath.getName}"))
        }
    }
    val e = intercept[IllegalArgumentException] {
      spark.read.format("docstore").option("path", dir).load()
    }
    assert(e.getMessage.contains("schema drift"), e.getMessage)
  }

  test("mixed partition layouts across a store are rejected at listing") {
    // partitionBy is a per-write sink option, so one unpartitioned
    // append into a Hive-partitioned store is physically possible —
    // and would silently drop the partition column from the inferred
    // schema (or from pruning) for ALL files depending on which entry
    // sorts first. The listing choke point must fail loudly instead.
    val dir = tmpDir("docstore_mixed_layout")
    import spark.implicits._
    Seq((1L, "x", 2020)).toDF("k", "s", "yr")
      .write.format("docstore").option("path", dir)
      .option("partitionBy", "yr").mode("overwrite").save()
    Seq((2L, "y", 2021)).toDF("k", "s", "yr")
      .write.format("docstore").option("path", dir).mode("append").save()
    val e = intercept[IllegalArgumentException] {
      spark.read.format("docstore").option("path", dir).load().count()
    }
    assert(e.getMessage.contains("mixed partition layouts"), e.getMessage)
  }

  // ---- write path (r13) ----

  test("clustered sink: one file per partition per commit; sortBy gives disjoint row-group stats") {
    val dir = tmpDir("docstore_sink_clustered")
    val src = spark.read.parquet(s"$sfDir/orders.parquet")
      .withColumn("o_year", year(col("o_orderdate")).cast("int"))
      .select("o_orderkey", "o_orderdate", "o_totalprice", "o_year")
      .repartition(8) // without the required distribution this layout would write 8 files per partition
    src.write.format("docstore").option("path", dir)
      .option("partitionBy", "o_year").option("sortBy", "o_orderdate")
      .option("rowGroupBytes", "4096")
      .mode("overwrite").save()
    val listing = graft.sources.DocStore.listFilesWithPartitions(dir)
    // RequiresDistributionAndOrdering: clustering by the partition
    // column routes every row of a partition value to ONE task — one
    // data file per partition per commit, not files-per-task
    val perPart = listing.groupBy(_._2).view.mapValues(_.size)
    assert(perPart.nonEmpty && perPart.values.forall(_ == 1),
      s"files per partition: ${perPart.toMap}")
    // the within-task sort by o_orderdate + bounded rowGroupBytes:
    // row groups inside each file carry DISJOINT ascending date
    // ranges, so a read-back range predicate prunes at row-group
    // granularity through the same FilterApi statistics path
    var multiGroupFiles = 0
    listing.foreach { case (f, _) =>
      val blocks = graft.sources.DocStore.footerBlocks(f)
      if (blocks.size > 1) multiGroupFiles += 1
      import scala.jdk.CollectionConverters._
      val ranges: Seq[(Long, Long)] = blocks.map { b =>
        val s = b.getColumns.asScala
          .find(_.getPath.toDotString == "o_orderdate").get.getStatistics
        (s.genericGetMin.asInstanceOf[Number].longValue,
          s.genericGetMax.asInstanceOf[Number].longValue)
      }
      ranges.sliding(2).foreach {
        case Seq((_, aMax), (bMin, _)) =>
          assert(aMax <= bMin, s"overlapping row-group ranges in $f: $ranges")
        case _ =>
      }
    }
    assert(multiGroupFiles > 0,
      "rowGroupBytes produced no multi-row-group file — the disjointness assertion is vacuous")
    // layout is pure layout: read-back equals the source rows exactly
    val back = spark.read.format("docstore").option("path", dir).load()
      .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"),
        col("o_year").cast("int").as("o_year"))
      .orderBy("o_orderkey").collect().toSeq
    val want = src.orderBy("o_orderkey").collect().toSeq
    assert(back == want)
  }

  test("limit pushdown plans only the row groups that can contribute; filters refuse it") {
    val dir = tmpDir("docstore_limit")
    spark.read.parquet(s"$sfDir/orders.parquet")
      .select("o_orderkey", "o_totalprice")
      .write.format("docstore").option("path", dir)
      .option("rowGroupBytes", "4096").mode("overwrite").save()
    val total = graft.sources.DocStore
      .listFiles(dir).map(f => graft.sources.DocStore.footerBlocks(f).size).sum
    assert(total > 3, s"fixture produced only $total row groups — vacuous")
    // bare LIMIT: covered row count bounds the planned partitions
    val limited = spark.read.format("docstore").option("path", dir).load().limit(7)
    val scan = docStoreScanOf(limited)
    assert(scan.limitHint.contains(7), "limit not pushed")
    val planned = scan.planInputPartitions().length
    assert(planned < total && planned >= 1, s"$planned of $total planned")
    assert(limited.count() == 7, "partial limit changed the result")
    // a pushed DATA filter invalidates footer counts: limit refused,
    // every surviving row group planned, result exact
    val filtered = spark.read.format("docstore").option("path", dir).load()
      .filter(col("o_orderkey") > 100L).limit(7)
    assert(filtered.count() == 7)
    val fscan = docStoreScanOf(filtered)
    assert(fscan.limitHint.isEmpty || fscan.planInputPartitions().length == total,
      "limit truncated a data-filtered scan — rows could go missing")
  }

  test("top-N pushdown prunes row groups on a sort-clustered store; filters and float keys refuse") {
    val dir = tmpDir("docstore_topn")
    spark.read.parquet(s"$sfDir/orders.parquet")
      .select("o_orderkey", "o_totalprice")
      .write.format("docstore").option("path", dir)
      .option("sortBy", "o_orderkey")
      .option("rowGroupBytes", "4096").mode("overwrite").save()
    val total = graft.sources.DocStore
      .listFiles(dir).map(f => graft.sources.DocStore.footerBlocks(f).size).sum
    assert(total > 3, s"fixture produced only $total row groups — vacuous")
    def load() = spark.read.format("docstore").option("path", dir).load()
    val want = spark.read.parquet(s"$sfDir/orders.parquet")
      .select("o_orderkey").orderBy(col("o_orderkey").desc).limit(5)
      .collect().map(_.getLong(0)).toSeq
    // DESC NULLS LAST (Spark default): footer extrema bound the top-k
    val q = load().orderBy(col("o_orderkey").desc).limit(5)
    val scan = docStoreScanOf(q)
    assert(scan.topNHint.contains((Seq("o_orderkey"), true, 5)), "top-N not pushed")
    val planned = scan.planInputPartitions().length
    assert(planned < total && planned >= 1, s"$planned of $total planned")
    assert(q.collect().map(_.getLong(0)).toSeq == want,
      "top-N pruning changed the result")
    // ASC NULLS FIRST prunes from the other end
    val asc = load().orderBy(col("o_orderkey")).limit(5)
    val ascScan = docStoreScanOf(asc)
    assert(ascScan.topNHint.contains((Seq("o_orderkey"), false, 5)))
    assert(ascScan.planInputPartitions().length < total)
    val wantAsc = spark.read.parquet(s"$sfDir/orders.parquet")
      .select("o_orderkey").orderBy("o_orderkey").limit(5)
      .collect().map(_.getLong(0)).toSeq
    assert(asc.collect().map(_.getLong(0)).toSeq == wantAsc,
      "ASC top-N pruning changed the result")
    // a float/double sort key refuses (NaN makes writer stats unreliable)
    val dbl = load().orderBy(col("o_totalprice").desc).limit(5)
    assert(docStoreScanOf(dbl).topNHint.isEmpty, "double key must refuse")
    assert(dbl.collect().length == 5)
    // a pushed DATA filter re-ranks survivors: top-N refused, result exact
    val filt = load().filter(col("o_totalprice") > 1000.0)
      .orderBy(col("o_orderkey").desc).limit(5)
    assert(docStoreScanOf(filt).topNHint.isEmpty, "data filter must refuse")
    val wantFilt = spark.read.parquet(s"$sfDir/orders.parquet")
      .filter(col("o_totalprice") > 1000.0)
      .orderBy(col("o_orderkey").desc).limit(5)
      .collect().map(_.getLong(0)).toSeq
    assert(filt.collect().map(_.getLong(0)).toSeq == wantFilt)
  }

  test("multi-column top-N pushes lexicographic bounds; mixed directions and nullable keys refuse") {
    import spark.implicits._
    val dir = tmpDir("docstore_topn_multi")
    spark.read.parquet(s"$sfDir/orders.parquet")
      .select("o_custkey", "o_orderkey", "o_totalprice")
      .write.format("docstore").option("path", dir)
      .option("sortBy", "o_custkey,o_orderkey")
      .option("rowGroupBytes", "4096").mode("overwrite").save()
    val total = graft.sources.DocStore
      .listFiles(dir).map(f => graft.sources.DocStore.footerBlocks(f).size).sum
    assert(total > 3, s"fixture produced only $total row groups — vacuous")
    def load() = spark.read.format("docstore").option("path", dir).load()
    def want(q: org.apache.spark.sql.DataFrame) =
      q.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val ref = spark.read.parquet(s"$sfDir/orders.parquet")
      .select("o_custkey", "o_orderkey")
    // DESC on the sink's sortBy prefix: per-column extrema bound every
    // row's tuple lexicographically
    val q = load().orderBy(col("o_custkey").desc, col("o_orderkey").desc)
      .limit(5).select("o_custkey", "o_orderkey")
    val scan = docStoreScanOf(q)
    assert(scan.topNHint.contains((Seq("o_custkey", "o_orderkey"), true, 5)),
      "multi-column top-N not pushed")
    val planned = scan.planInputPartitions().length
    assert(planned < total && planned >= 1, s"$planned of $total planned")
    assert(want(q) == want(
      ref.orderBy(col("o_custkey").desc, col("o_orderkey").desc).limit(5)),
      "multi-column top-N pruning changed the result")
    // ASC prunes from the other end
    val asc = load().orderBy(col("o_custkey"), col("o_orderkey"))
      .limit(5).select("o_custkey", "o_orderkey")
    assert(docStoreScanOf(asc).topNHint
      .contains((Seq("o_custkey", "o_orderkey"), false, 5)))
    assert(docStoreScanOf(asc).planInputPartitions().length < total)
    assert(want(asc) == want(
      ref.orderBy(col("o_custkey"), col("o_orderkey")).limit(5)))
    // MIXED directions break the tuple bound: refused, result exact
    val mixed = load().orderBy(col("o_custkey").desc, col("o_orderkey").asc)
      .limit(5).select("o_custkey", "o_orderkey")
    assert(docStoreScanOf(mixed).topNHint.isEmpty, "mixed directions must refuse")
    assert(want(mixed) == want(
      ref.orderBy(col("o_custkey").desc, col("o_orderkey").asc).limit(5)))
    // a NULLABLE key refuses the multi-key bound (footers can't order
    // null tuples) but the same column alone still pushes
    val nd = tmpDir("docstore_topn_nulls")
    Seq((Some(5L), 1L), (None, 2L), (Some(3L), 3L), (Some(7L), 4L))
      .toDF("a", "b").coalesce(1)
      .write.format("docstore").option("path", nd).mode("overwrite").save()
    def loadNd() = spark.read.format("docstore").option("path", nd).load()
    val multiNull = loadNd().orderBy(col("a").desc, col("b").desc).limit(2)
    assert(docStoreScanOf(multiNull).topNHint.isEmpty, "nullable multi-key must refuse")
    assert(multiNull.select("b").as[Long].collect().toSeq == Seq(4L, 1L))
    val singleNull = loadNd().orderBy(col("a").desc).limit(2)
    assert(docStoreScanOf(singleNull).topNHint.contains((Seq("a"), true, 2)))
  }

  test("metadata columns _file/_pos: exact lineage, no cost unselected, filter-safe positions") {
    val dir = tmpDir("docstore_meta")
    spark.read.parquet(s"$sfDir/orders.parquet")
      .withColumn("o_year", year(col("o_orderdate")).cast("int"))
      .select("o_orderkey", "o_totalprice", "o_year")
      .write.format("docstore").option("path", dir)
      .option("partitionBy", "o_year")
      .option("rowGroupBytes", "8192").mode("overwrite").save()
    def load() = spark.read.format("docstore").option("path", dir).load()
    // unselected → the scan never reads or emits them (no-cost pin)
    assert(!docStoreScanOf(load().select("o_orderkey"))
      .readSchema().fieldNames.exists(Set("_file", "_pos")),
      "metadata columns leaked into an unadorned projection")
    // _file names real store files; _pos is a dense 0-based per-file index
    val lineage = load().select(col("_file"), col("_pos"), col("o_orderkey"))
    val perFile = lineage.groupBy("_file")
      .agg(count(lit(1)).as("n"), min("_pos").as("lo"), max("_pos").as("hi"),
        countDistinct("_pos").as("d"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(perFile.nonEmpty)
    val storeFiles = graft.sources.DocStore.listFiles(dir).toSet
    perFile.foreach { case (f, n, lo, hi, d) =>
      assert(storeFiles.contains(f), s"_file '$f' is not a store file")
      assert(lo == 0L && hi == n - 1 && d == n,
        s"_pos not a dense 0-based index in $f: n=$n lo=$lo hi=$hi distinct=$d")
    }
    // positions survive a pushed data filter: the reader counts every
    // row it materializes even when the predicate drops it
    val key = load().select(max("o_orderkey")).head.getLong(0) / 2
    val withFilter = load().filter(col("o_orderkey") > key)
      .select(col("o_orderkey"), col("_pos"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val noFilter = load().select(col("o_orderkey"), col("_pos"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(withFilter.nonEmpty && withFilter.size < noFilter.size)
    withFilter.foreach { case (k, p) =>
      assert(noFilter(k) == p,
        s"_pos drifted under a pushed filter for key $k: $p vs ${noFilter(k)}")
    }
    // the filter itself stayed exact through the self-filtering path
    assert(withFilter.keySet == noFilter.keySet.filter(_ > key))
  }

  test("grouped aggregate pushdown: GROUP BY partition column answers from footers") {
    val dir = tmpDir("docstore_group_pushdown")
    val src = spark.read.parquet(s"$sfDir/orders.parquet")
      .withColumn("o_year", year(col("o_orderdate")).cast("int"))
      .select("o_orderkey", "o_custkey", "o_year")
    src.write.format("docstore").option("path", dir)
      .option("partitionBy", "o_year").mode("overwrite").save()
    val grouped = spark.read.format("docstore").option("path", dir).load()
      .groupBy("o_year")
      .agg(count(lit(1)).as("n"), min("o_orderkey").as("lo"),
        max("o_orderkey").as("hi"))
    val scan = physical(grouped).collectFirst { case b: BatchScanExec => b.scan }.get
    assert(scan.isInstanceOf[graft.sources.DocStoreAggScan],
      s"grouped aggregate did not push: ${scan.getClass}")
    assert(scan.description().contains("PushedGroupBy: [o_year]"),
      scan.description())
    // metadata-only: the scan's schema is group key + footer aggregates
    assert(scan.readSchema().fieldNames.toSeq ==
      Seq("o_year", "count(*)", "min(o_orderkey)", "max(o_orderkey)"),
      scan.readSchema().fieldNames.toSeq.toString)
    // values match the data-page recomputation exactly
    val got = grouped.select(col("o_year").cast("int").as("y"),
        col("n"), col("lo"), col("hi"))
      .orderBy("y").collect().toSeq
    val want = src.groupBy(col("o_year").as("y"))
      .agg(count(lit(1)).as("n"), min("o_orderkey").as("lo"),
        max("o_orderkey").as("hi"))
      .orderBy("y").collect().toSeq
    assert(got == want)
    // a grouped aggregate over an EMPTY store yields no rows (the
    // ungrouped count-over-empty synthetic-partition path must not
    // leak); the schema comes from the caller — an empty schemaless
    // store has none to infer
    val empty = tmpDir("docstore_group_empty")
    src.limit(0).write.format("docstore").option("path", empty)
      .option("partitionBy", "o_year").mode("overwrite").save()
    assert(spark.read.format("docstore")
      .schema("o_orderkey BIGINT, o_custkey BIGINT, o_year STRING")
      .option("path", empty).load()
      .groupBy("o_year").agg(count(lit(1)).as("n")).count() == 0)
  }

  test("staged-commit sink: partitioned zstd write, list, read back") {
    val dir = tmpDir("docstore_sink")
    val src = spark.read.parquet(s"$sfDir/orders.parquet")
      .withColumn("o_year", year(col("o_orderdate")).cast("int"))
      .select("o_orderkey", "o_totalprice", "o_year")
    src.write.format("docstore").option("path", dir)
      .option("partitionBy", "o_year").mode("overwrite").save()
    // Hive layout on disk, no staging residue
    val children = new java.io.File(dir).listFiles().map(_.getName).toSeq
    assert(children.exists(_.startsWith("o_year=")), s"no partition dirs: $children")
    assert(!children.exists(_.startsWith("_staging")), s"staging residue: $children")
    // read back through the connector: partition column recovered
    val back = spark.read.format("docstore").option("path", dir).load()
    assert(back.schema.fieldNames.contains("o_year"))
    assert(back.count() == src.count())
    val a = back.select(col("o_orderkey"), col("o_totalprice"),
        col("o_year").cast("int").as("o_year"))
      .orderBy("o_orderkey").collect().toSeq
    val b = src.orderBy("o_orderkey").collect().toSeq
    assert(a == b)
    // partition-column equality prunes splits at PLANNING time
    val oneYear = back.filter(col("o_year") === "1996")
    val scan = docStoreScanOf(oneYear.select("o_orderkey", "o_year"))
    val planned = scan.planInputPartitions().length
    val all = docStoreScanOf(back.select("o_orderkey", "o_year"))
      .planInputPartitions().length
    assert(planned < all, s"partition pruning planned $planned of $all splits")
    assert(oneYear.count() ==
      src.filter(col("o_year") === 1996).count())
    // overwrite truncates at COMMIT: same store, half the rows
    src.filter(col("o_orderkey") % 2 === 0)
      .write.format("docstore").option("path", dir)
      .option("partitionBy", "o_year").mode("overwrite").save()
    assert(spark.read.format("docstore").option("path", dir).load().count() ==
      src.filter(col("o_orderkey") % 2 === 0).count())
  }

  test("append mode adds documents without touching existing ones") {
    val dir = tmpDir("docstore_append")
    import spark.implicits._
    Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      .write.format("docstore").option("path", dir).mode("overwrite").save()
    Seq((3L, "c")).toDF("k", "v")
      .write.format("docstore").option("path", dir).mode("append").save()
    val back = spark.read.format("docstore").option("path", dir).load()
    assert(back.orderBy("k").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("concurrent writers stage independently and both commit") {
    val dir = tmpDir("docstore_concurrent")
    import spark.implicits._
    // seed the store so both concurrent writes are appends
    Seq((0L, "seed")).toDF("k", "v")
      .write.format("docstore").option("path", dir).mode("overwrite").save()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val futures = Seq(1L, 2L).map { base =>
      pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit =
          (1 to 50).map(i => (base * 1000 + i, s"w$base"))
            .toDF("k", "v")
            .write.format("docstore").option("path", dir).mode("append").save()
      })
    }
    futures.foreach(_.get())
    pool.shutdown()
    val back = spark.read.format("docstore").option("path", dir).load()
    assert(back.count() == 101)
    assert(back.groupBy("v").count().orderBy("v")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("seed", 1L), ("w1", 50L), ("w2", 50L)))
    // no staging residue after both commits
    val children = new java.io.File(dir).listFiles().map(_.getName).toSeq
    assert(!children.exists(_.startsWith("_staging")), s"residue: $children")
  }

  test("footer statistics drive broadcast decisions through the connector") {
    // exact post-pruning row counts
    val cust = spark.read.format("docstore")
      .option("path", s"$sfDir/customer.parquet").load()
    val pruned = cust.select("c_custkey", "c_mktsegment")
    pruned.collect()
    val scan = docStoreScanOf(pruned)
    val stats = scan.estimateStatistics()
    assert(stats.numRows().getAsLong ==
      spark.read.parquet(s"$sfDir/customer.parquet").count())
    assert(stats.sizeInBytes().getAsLong > 0)
    // narrower projections report proportionally fewer bytes
    val one = cust.select("c_custkey")
    one.collect()
    assert(docStoreScanOf(one).estimateStatistics().sizeInBytes().getAsLong <
      stats.sizeInBytes().getAsLong)
    // the declared join picks BroadcastHashJoin with NO hint — purely
    // from the connector-reported statistics
    val df = SparkEntry.queries("etl_connector_join")(spark, sfDir)
    df.collect()
    val bhj = physical(df).collect {
      case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
    }
    assert(bhj.nonEmpty, "connector stats did not drive a broadcast join:\n" +
      df.queryExecution.executedPlan)
  }

  test("runtime filters prune partitions and rows at execution time") {
    val dir = tmpDir("docstore_runtime")
    spark.read.parquet(s"$sfDir/orders.parquet")
      .withColumn("o_year", year(col("o_orderdate")).cast("int"))
      .select("o_orderkey", "o_custkey", "o_year")
      .write.format("docstore").option("path", dir)
      .option("partitionBy", "o_year").mode("overwrite").save()
    val fact = spark.read.format("docstore").option("path", dir).load()
    val q = fact.select("o_orderkey", "o_year")
    q.collect()
    val scan = docStoreScanOf(q)
    // the contract Spark's DPP drives: filterAttributes advertises the
    // partition column; filter() with a join-key set re-plans splits
    assert(scan.filterAttributes().map(_.describe()).contains("o_year"))
    val all = scan.planInputPartitions().length
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.EqualTo("o_year", "1996")))
    val prunedN = scan.planInputPartitions().length
    assert(prunedN < all, s"runtime filter kept $prunedN of $all splits")
    // data-column runtime IN-sets apply exactly; oversized ones are
    // refused (they would inflate every row-group read)
    val dataScan = docStoreScanOf(fact.select("o_orderkey", "o_year"))
    dataScan.filter(Array[org.apache.spark.sql.sources.Filter](
      In("o_orderkey", Array(1L, 2L, 3L))))
    assert(dataScan.planInputPartitions().nonEmpty)
    val big = (1L to 5000L).map(_.asInstanceOf[Any]).toArray
    val wide = docStoreScanOf(fact.select("o_orderkey", "o_year"))
    wide.filter(Array[org.apache.spark.sql.sources.Filter](In("o_orderkey", big)))
    assert(wide.planInputPartitions().length ==
      docStoreScanOf(fact.select("o_orderkey", "o_year")).planInputPartitions().length)
    // end-to-end: a join over the partition column stays correct under
    // AQE whether or not the optimizer chooses to inject DPP here
    import spark.implicits._
    val dim = Seq(("1996", "pick")).toDF("o_year", "tag")
    val joined = fact.join(dim, Seq("o_year")).agg(count(lit(1)).as("n"))
    assert(joined.collect().head.getLong(0) ==
      spark.read.parquet(s"$sfDir/orders.parquet")
        .filter(year(col("o_orderdate")) === 1996).count())
  }

  test("micro-batch stream: append after a drained run replays ONLY the new files") {
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val store = tmpDir("docstore_stream")
    val base = tmpDir("docstore_stream_sink")
    val (out, cp) = (s"$base/out", s"$base/cp")
    def drain(): Unit =
      spark.readStream.format("docstore").option("path", store).load()
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      .write.format("docstore").option("path", store).mode("append").save()
    drain()
    assert(spark.read.parquet(out).count() == 2)
    // second generation lands; restart from the checkpoint picks it up
    // WITHOUT reprocessing generation one (offsets are file sets)
    Seq((3L, "c")).toDF("k", "v")
      .write.format("docstore").option("path", store).mode("append").save()
    drain()
    val rows = spark.read.parquet(out).orderBy("k")
      .as[(Long, String)].collect().toSeq
    assert(rows == Seq((1L, "a"), (2L, "b"), (3L, "c")),
      s"stream replayed or dropped rows: $rows")
    // a third drain with nothing new writes nothing
    drain()
    assert(spark.read.parquet(out).count() == 3)
    // offsets round-trip through their JSON form
    val off = graft.sources.DocStoreOffset(Seq("/x/part-1.parquet", "/y/k=1/p.parquet"))
    assert(graft.sources.DocStore.parseOffsetJson(off.json()) ==
      off.files.sorted)
  }

  test("admission control: maxFilesPerTrigger bounds each micro-batch; kill-and-restart keeps the frontier") {
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val store = tmpDir("docstore_admission")
    val base = tmpDir("docstore_admission_sink")
    val (out, cp) = (s"$base/out", s"$base/cp")
    // three files (single-task commits) of 2, 2 and 3 rows — a 7-row backlog
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1)
      .write.format("docstore").option("path", store).mode("append").save()
    Seq((3L, "c"), (4L, "d")).toDF("k", "v").coalesce(1)
      .write.format("docstore").option("path", store).mode("append").save()
    Seq((5L, "e"), (6L, "f"), (7L, "g")).toDF("k", "v").coalesce(1)
      .write.format("docstore").option("path", store).mode("append").save()
    assert(graft.sources.DocStore.listFiles(store).size == 3)
    def reader = spark.readStream.format("docstore").option("path", store)
      .option("maxFilesPerTrigger", "1").load()
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", cp)
    // kill mid-backlog: admit one file per batch on a clock trigger,
    // stop as soon as the first batch commits
    // a 10 s interval: batch 1 fires immediately, batch 2 waits for the
    // next boundary — the stop() below lands between them
    val q = reader.trigger(Trigger.ProcessingTime(10000)).start()
    val deadline = System.currentTimeMillis + 120000
    while (!q.recentProgress.exists(_.numInputRows > 0) &&
      System.currentTimeMillis < deadline) Thread.sleep(50)
    q.stop(); q.awaitTermination()
    assert(q.recentProgress.exists(_.numInputRows > 0), "no batch committed before the kill")
    // file sizes {2,2,3} make every partial row count identify its
    // file count uniquely: 2→1, 4→2, 5→2, 7→3
    val rowsAfterKill = spark.read.parquet(out).count()
    val filesDone = Map(2L -> 1, 3L -> 1, 4L -> 2, 5L -> 2, 7L -> 3)(rowsAfterKill)
    // restart from the checkpoint: the file-set offset resumes after
    // exactly the committed files — AvailableNow drains the REMAINDER
    // in one-file batches, never one giant catch-up batch
    val q2 = reader.trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    val batches2 = q2.recentProgress.filter(_.numInputRows > 0)
    assert(batches2.forall(_.numInputRows <= 3),
      s"a catch-up batch exceeded one file: ${batches2.map(_.numInputRows).toSeq}")
    assert(batches2.length == 3 - filesDone,
      s"remainder of ${3 - filesDone} file(s) drained in ${batches2.length} " +
        s"batch(es) — admission control not honored across the restart")
    // exactly-once across the kill: all 7 rows, no duplicates
    val rows = spark.read.parquet(out).as[(Long, String)].collect().toSeq
    assert(rows.length == 7 && rows.map(_._1).distinct.length == 7,
      s"rows after restart: ${rows.sorted}")
  }

  test("snapshot stream across a mid-stream compaction: rewrite commits skipped, zero duplicates") {
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val store = tmpDir("docstore_snapstream")
    val base = tmpDir("docstore_snapstream_sink")
    val (out, cp) = (s"$base/out", s"$base/cp")
    def drain(): Unit =
      spark.readStream.format("docstore").option("path", store).load()
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    // two appended generations on a snapshot store
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1)
      .write.format("docstore").option("path", store)
      .option("snapshots", "true").mode("append").save() // v1
    Seq((3L, "c")).toDF("k", "v").coalesce(1)
      .write.format("docstore").option("path", store).mode("append").save() // v2
    drain()
    assert(spark.read.parquet(out).count() == 3)
    // a compaction rewrites every emitted row under NEW file names —
    // the exact commit that used to re-ingest everything
    val st = graft.sources.DocStoreMaintenance.compact(
      spark, store, smallerThan = Long.MaxValue) // v3 (rewrite)
    assert(st.filesIn == 2 && st.filesOut >= 1)
    // …then a genuine append lands (v4)
    Seq((4L, "d")).toDF("k", "v").coalesce(1)
      .write.format("docstore").option("path", store).mode("append").save()
    drain()
    // total emitted rows == appended rows, exactly: the rewrite commit
    // contributed NOTHING, the append streamed
    val rows = spark.read.parquet(out).as[(Long, String)].collect().toSeq.sorted
    assert(rows == Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")),
      s"stream duplicated or lost rows across the compaction: $rows")
    // nothing-new drain stays empty
    drain()
    assert(spark.read.parquet(out).count() == 4)
  }

  test("snapshot stream kill-and-recover across a compaction: recovery reads the pinned snapshot") {
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val store = tmpDir("docstore_snaprecover")
    val base = tmpDir("docstore_snaprecover_sink")
    val (out, cp) = (s"$base/out", s"$base/cp")
    // a 3-file backlog on a snapshot store: 2+2+3 rows (v1..v3)
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1)
      .write.format("docstore").option("path", store)
      .option("snapshots", "true").mode("append").save()
    Seq((3L, "c"), (4L, "d")).toDF("k", "v").coalesce(1)
      .write.format("docstore").option("path", store).mode("append").save()
    Seq((5L, "e"), (6L, "f"), (7L, "g")).toDF("k", "v").coalesce(1)
      .write.format("docstore").option("path", store).mode("append").save()
    def reader = spark.readStream.format("docstore").option("path", store)
      .option("maxFilesPerTrigger", "1").load()
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", cp)
    // kill mid-backlog after the first one-file batch commits
    val q = reader.trigger(Trigger.ProcessingTime(10000)).start()
    val deadline = System.currentTimeMillis + 120000
    while (!q.recentProgress.exists(_.numInputRows > 0) &&
      System.currentTimeMillis < deadline) Thread.sleep(50)
    q.stop(); q.awaitTermination()
    val rowsAfterKill = spark.read.parquet(out).count()
    assert(rowsAfterKill < 7, "the kill landed after the whole backlog drained")
    // between crash and restart, a compaction retires every input file
    // (the recovery-loss scenario: the files the offset names are no
    // longer in the live listing — but the pinned manifests still
    // reference them and they are still on disk)
    graft.sources.DocStoreMaintenance.compact(
      spark, store, smallerThan = Long.MaxValue)
    // restart: the replanned + remaining batches read from the
    // offset's snapshot — all 7 rows exactly once
    val q2 = reader.trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    val rows = spark.read.parquet(out).as[(Long, String)].collect().toSeq
    assert(rows.length == 7 && rows.map(_._1).distinct.length == 7,
      s"recovery across the compaction lost or duplicated rows: ${rows.sorted}")
    // retention that expires a snapshot the checkpoint still needs is a
    // CLEAR error on the next restart, not silent row loss
    graft.sources.DocStoreMaintenance.vacuum(store, keepVersions = 1, graceMs = 0L): Unit
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q3 = reader.trigger(Trigger.AvailableNow()).start()
      q3.awaitTermination()
    }
    assert(e.getMessage.contains("retention") || Option(e.getCause).exists(
      c => String.valueOf(c.getMessage).contains("retention")),
      s"expected a retention-lag error, got: ${e.getMessage}")
  }

  test("startingVersion tails append deltas from a historical snapshot; byte-cap admission bounds batches") {
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val store = tmpDir("docstore_startver")
    val base = tmpDir("docstore_startver_sink")
    Seq((1L, "a")).toDF("k", "v").coalesce(1)
      .write.format("docstore").option("path", store)
      .option("snapshots", "true").mode("append").save() // v1
    Seq((2L, "b")).toDF("k", "v").coalesce(1)
      .write.format("docstore").option("path", store).mode("append").save() // v2
    Seq((3L, "c")).toDF("k", "v").coalesce(1)
      .write.format("docstore").option("path", store).mode("append").save() // v3
    // startingVersion=2: v1's content is NOT replayed — only the
    // deltas of v2 and v3 stream (Delta's startingVersion semantics)
    val q = spark.readStream.format("docstore").option("path", store)
      .option("startingVersion", "2").load()
      .writeStream.format("parquet")
      .option("path", s"$base/out").option("checkpointLocation", s"$base/cp")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.read.parquet(s"$base/out").select("k")
      .as[Long].collect().toSeq.sorted == Seq(2L, 3L))
    // a plain store refuses startingVersion with a clear error
    val plain = tmpDir("docstore_startver_plain")
    Seq((1L, "a")).toDF("k", "v")
      .write.format("docstore").option("path", plain).mode("append").save()
    val e = intercept[Exception] {
      spark.readStream.format("docstore").option("path", plain)
        .option("startingVersion", "1").load()
        .writeStream.format("noop").start().awaitTermination()
    }
    assert((e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse(""))
      .contains("snapshot store"))
    // maxBytesPerTrigger: a tiny byte cap admits one whole file per
    // batch across the same 3-commit backlog (files are ~KB each)
    val base2 = tmpDir("docstore_bytecap_sink")
    val q2 = spark.readStream.format("docstore").option("path", store)
      .option("maxBytesPerTrigger", "1").load()
      .writeStream.format("parquet")
      .option("path", s"$base2/out").option("checkpointLocation", s"$base2/cp")
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    val batches = q2.recentProgress.filter(_.numInputRows > 0)
    assert(batches.length == 3 && batches.forall(_.numInputRows == 1),
      s"byte cap should admit one file per batch, got " +
        batches.map(_.numInputRows).toSeq)
    assert(spark.read.parquet(s"$base2/out").count() == 3)
  }

  test("streaming change feed: inserts+deletes with metadata lineage; compaction invisible; plain refuses") {
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val store = tmpDir("docstore_cdfstream")
    val base = tmpDir("docstore_cdfstream_sink")
    def drain(): Unit =
      spark.readStream.format("docstore").option("path", store)
        .option("changeFeed", "true").load()
        .select(col("k"), col("v"), col("p"),
          col("_change_type"), col("_commit_version"))
        .writeStream.format("parquet")
        .option("path", s"$base/out").option("checkpointLocation", s"$base/cp")
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    // v1+v2: two appends into partitions p0/p1
    Seq((1L, "a", "p0"), (2L, "b", "p1")).toDF("k", "v", "p")
      .write.format("docstore").option("path", store)
      .option("partitionBy", "p").option("snapshots", "true")
      .mode("append").save()
    Seq((3L, "c", "p0"), (4L, "d", "p1")).toDF("k", "v", "p")
      .write.format("docstore").option("path", store)
      .option("partitionBy", "p").mode("append").save()
    drain()
    val afterAppends = spark.read.parquet(s"$base/out")
    assert(afterAppends.count() == 4 &&
      afterAppends.filter(col("_change_type") =!= "insert").count() == 0)
    // v3: metadata-only partition DELETE of p0 — the stream emits the
    // retired rows as deletes; v4: compaction — emits NOTHING
    val table = graft.sources.DocStoreTable(store,
      spark.read.format("docstore").option("path", store).load().schema, Seq("p"))
    val del: Array[org.apache.spark.sql.sources.Filter] =
      Array(org.apache.spark.sql.sources.EqualTo("p", "p0"))
    table.deleteWhere(del)
    val cst = graft.sources.DocStoreMaintenance.compact(
      spark, store, smallerThan = Long.MaxValue)
    assert(cst.version.contains(4L) && cst.filesIn == 2,
      s"compaction must really commit v4 over p1's two files: $cst")
    drain()
    val all = spark.read.parquet(s"$base/out")
    val deletes = all.filter(col("_change_type") === "delete")
    assert(all.count() == 6, s"expected 4 inserts + 2 deletes, got ${all.count()}")
    assert(deletes.select("k").as[Long].collect().toSeq.sorted == Seq(1L, 3L))
    assert(deletes.select("p").distinct().as[String].collect().toSeq == Seq("p0"))
    assert(deletes.select("_commit_version").distinct().as[Long]
      .collect().toSeq == Seq(3L))
    // nothing-new drain stays empty (the compaction never surfaces)
    drain()
    assert(spark.read.parquet(s"$base/out").count() == 6)
    // BATCH reads expose the same lineage via metadata columns: every
    // surviving row's file was committed by the v4 compaction, and a
    // batch row is by definition an insert
    val batch = spark.read.format("docstore").option("path", store).load()
      .select(col("k"), col("_change_type"), col("_commit_version"))
    assert(batch.select("_change_type").distinct()
      .as[String].collect().toSeq == Seq("insert"))
    assert(batch.select("_commit_version").distinct()
      .as[Long].collect().toSeq == Seq(4L))
    // plain stores refuse changeFeed with a clear error
    val plain = tmpDir("docstore_cdfstream_plain")
    Seq((1L, "a")).toDF("k", "v")
      .write.format("docstore").option("path", plain).mode("append").save()
    val e = intercept[Exception] {
      spark.readStream.format("docstore").option("path", plain)
        .option("changeFeed", "true").load()
        .writeStream.format("noop")
        .option("checkpointLocation", tmpDir("cdfplain_cp"))
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    }
    assert((e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse(""))
      .contains("snapshot store"))
  }

  test("changeFeed composes with startingVersion: changes-since-N streaming") {
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val store = tmpDir("docstore_cdf_since")
    val base = tmpDir("docstore_cdf_since_sink")
    Seq((1L, "a", "p0")).toDF("k", "v", "p")
      .write.format("docstore").option("path", store)
      .option("partitionBy", "p").option("snapshots", "true")
      .mode("append").save() // v1
    Seq((2L, "b", "p1")).toDF("k", "v", "p")
      .write.format("docstore").option("path", store)
      .option("partitionBy", "p").mode("append").save() // v2
    val table = graft.sources.DocStoreTable(store,
      spark.read.format("docstore").option("path", store).load().schema, Seq("p"))
    val del: Array[org.apache.spark.sql.sources.Filter] =
      Array(org.apache.spark.sql.sources.EqualTo("p", "p0"))
    table.deleteWhere(del) // v3: deletes k=1
    // changes SINCE v2: v1's insert is history, v2's insert and v3's
    // delete stream — the incremental consumer that already processed
    // through v1 and resumes without replaying it
    spark.readStream.format("docstore").option("path", store)
      .option("changeFeed", "true").option("startingVersion", "2").load()
      .select(col("k"), col("_change_type"), col("_commit_version"))
      .writeStream.format("parquet")
      .option("path", s"$base/out").option("checkpointLocation", s"$base/cp")
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    val rows = spark.read.parquet(s"$base/out")
      .as[(Long, String, Long)].collect().toSeq.sorted
    assert(rows == Seq((1L, "delete", 3L), (2L, "insert", 2L)),
      s"changes-since-v2 mismatch: $rows")
  }

  test("schema evolution across stream restarts: the restart adopts the evolved schema, no rows lost") {
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val store = tmpDir("docstore_evolve_stream")
    val base = tmpDir("docstore_evolve_stream_sink")
    def drain(): Unit =
      spark.readStream.format("docstore").option("path", store).load()
        .writeStream.format("parquet")
        .option("path", s"$base/out").option("checkpointLocation", s"$base/cp")
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    Seq((1L, "a")).toDF("k", "v")
      .write.format("docstore").option("path", store)
      .option("snapshots", "true").mode("append").save() // v1: (k, v)
    drain()
    // the store evolves: a column is added by a mergeSchema append.
    // The restarted stream (new query run, same checkpoint) re-infers
    // the reconciled schema and resumes from the offset — only the NEW
    // file replays, carrying the evolved shape; the sink dir then
    // holds both generations' shapes (mergeSchema unions them)
    Seq((2L, "b", 1.5)).toDF("k", "v", "score")
      .write.format("docstore").option("path", store)
      .option("mergeSchema", "true").mode("append").save() // v2: (k, v, score)
    drain()
    val rows = spark.read.option("mergeSchema", "true").parquet(s"$base/out")
      .select("k", "v").as[(Long, String)].collect().toSeq.sorted
    assert(rows == Seq((1L, "a"), (2L, "b")),
      s"restart across the evolution lost or duplicated rows: $rows")
    // a FRESH stream replays everything under the evolved schema, the
    // pre-evolution file null-filled by the connector
    val base2 = tmpDir("docstore_evolve_stream_sink2")
    spark.readStream.format("docstore").option("path", store).load()
      .writeStream.format("parquet")
      .option("path", s"$base2/out").option("checkpointLocation", s"$base2/cp")
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    val fresh = spark.read.parquet(s"$base2/out")
      .select("k", "v", "score").orderBy("k").collect()
    assert(fresh.length == 2 && fresh(0).isNullAt(2) && fresh(1).getDouble(2) == 1.5)
  }

  test("snapshot stream onRewrite=fail stops at a rewrite commit with a clear error") {
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val store = tmpDir("docstore_snapfail")
    val base = tmpDir("docstore_snapfail_sink")
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1)
      .write.format("docstore").option("path", store)
      .option("snapshots", "true").mode("append").save()
    def drain(cpSuffix: String): Unit =
      spark.readStream.format("docstore").option("path", store)
        .option("onRewrite", "fail").load()
        .writeStream.format("parquet")
        .option("path", s"$base/out").option("checkpointLocation", s"$base/$cpSuffix")
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    drain("cp")
    Seq((3L, "c")).toDF("k", "v").coalesce(1)
      .write.format("docstore").option("path", store).mode("append").save()
    graft.sources.DocStoreMaintenance.compact(
      spark, store, smallerThan = Long.MaxValue)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](drain("cp"))
    val msg = e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("REWRITE"), s"expected a rewrite-commit error, got: $msg")
  }

  test("plain-store stream fails loudly when committed files vanish (append-only contract)") {
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val store = tmpDir("docstore_plainvanish")
    val base = tmpDir("docstore_plainvanish_sink")
    def drain(): Unit =
      spark.readStream.format("docstore").option("path", store).load()
        .writeStream.format("parquet")
        .option("path", s"$base/out").option("checkpointLocation", s"$base/cp")
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1)
      .write.format("docstore").option("path", store).mode("append").save()
    Seq((3L, "c")).toDF("k", "v").coalesce(1)
      .write.format("docstore").option("path", store).mode("append").save()
    drain()
    assert(spark.read.parquet(s"$base/out").count() == 3)
    // a plain-store compaction DELETES the inputs and republishes their
    // rows under new names — silent re-ingestion before; loud now
    graft.sources.DocStoreMaintenance.compact(
      spark, store, smallerThan = Long.MaxValue)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](drain())
    val msg = e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("append-only"), s"expected the append-only error, got: $msg")
  }

  test("streaming sink: docstore-to-docstore pipeline with epoch-idempotent commits") {
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val a = tmpDir("docstore_pipe_src")
    val b = tmpDir("docstore_pipe_dst")
    val cp = tmpDir("docstore_pipe_cp")
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1)
      .write.format("docstore").option("path", a).mode("append").save()
    Seq((3L, "c"), (4L, "d"), (5L, "e")).toDF("k", "v").coalesce(1)
      .write.format("docstore").option("path", a).mode("append").save()
    def drain(bloomFor: String = "K", to: String = b, ckpt: String = cp): Unit =
      spark.readStream.format("docstore").option("path", a)
        .option("maxFilesPerTrigger", "1").load()
        .writeStream.format("docstore").option("path", to)
        .option("checkpointLocation", ckpt).option("bloomFor", bloomFor)
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    drain()
    val rows = spark.read.format("docstore").option("path", b).load()
      .as[(Long, String)].collect().toSeq.sorted
    assert(rows == Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"), (5L, "e")),
      s"pipeline drifted: $rows")
    // the sink honours bloomFor (resolved case-insensitively, like the
    // batch sink): every epoch file carries a filter for k
    val epochFiles = DocStore.listFiles(b)
    assert(epochFiles.nonEmpty && epochFiles.forall(f =>
      bloomChunks(f, "k").forall(_.getBloomFilterOffset >= 0)),
      s"streaming epoch files without a bloom filter for k: $epochFiles")
    // …and a misspelled column fails the query instead of silently
    // writing no filter
    val typo = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      drain(bloomFor = "kk", to = tmpDir("docstore_pipe_typo"),
        ckpt = tmpDir("docstore_pipe_typo_cp")))
    assert(Iterator.iterate[Throwable](typo)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("bloomFor column 'kk'")),
      s"expected the unknown-bloomFor error, got: $typo")
    // one commit marker per epoch, invisible to listings
    val markers = new java.io.File(b).listFiles()
      .map(_.getName).filter(_.startsWith("_committed-"))
    assert(markers.length >= 2, s"epoch markers missing: ${markers.toSeq}")
    // incremental: a new source file flows through without replay
    Seq((6L, "f")).toDF("k", "v").coalesce(1)
      .write.format("docstore").option("path", a).mode("append").save()
    drain()
    assert(spark.read.format("docstore").option("path", b).load().count() == 6)
    // epoch RE-commit is a no-op once the marker exists: a retried
    // micro-batch (driver crash between publish and checkpoint) must
    // not double-publish its files
    val w = graft.sources.DocStoreStreamingWrite(b,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.LongType))), Nil, "retryq")
    val staging = new java.io.File(s"$b/_staging-retryq-epoch-99")
    def stageOne(): Unit = {
      staging.mkdirs()
      // same (k, v) structure as the pipeline's files — a committed
      // retry file must not trip the store's schema-drift check
      Seq((99L, "r")).toDF("k", "v").coalesce(1)
        .write.mode("overwrite").parquet(s"$staging/tmp")
      val f = new java.io.File(s"$staging/tmp").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(f.toPath,
        new java.io.File(staging, "retry.parquet").toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    stageOne()
    val msg = Array[org.apache.spark.sql.connector.write.WriterCommitMessage](
      graft.sources.DocStoreCommitMessage(Seq("retry.parquet")))
    w.commit(99L, msg)
    val after1 = spark.read.format("docstore").option("path", b).load().count()
    stageOne() // the retry stages again…
    w.commit(99L, msg) // …but the marker blocks a second publish
    assert(!new java.io.File(s"$b/_staging-retryq-epoch-99").exists(),
      "retried epoch staging not reclaimed")
    assert(spark.read.format("docstore").option("path", b).load().count() == after1,
      "epoch re-commit double-published")
    // the REAL writers stage deterministic epoch-stamped names (no
    // UUID drift): a retried epoch can only rename onto itself
    val published = new java.io.File(b).listFiles().map(_.getName)
      .filter(n => n.endsWith(".parquet") && !n.startsWith("_"))
    assert(published.exists(_.matches("part-\\d{5}-e\\d+\\.parquet")),
      s"streaming sink files not deterministically named: ${published.toSeq}")
    // crash AFTER a partial publish but BEFORE the marker: the files
    // are already in the store, no marker, and the retried epoch
    // re-stages the SAME deterministic name — commit must rename ONTO
    // the partially-published twin, not add a duplicate beside it
    val staging100 = new java.io.File(s"$b/_staging-retryq-epoch-100")
    def stage100(): Unit = {
      staging100.mkdirs()
      Seq((100L, "s")).toDF("k", "v").coalesce(1)
        .write.mode("overwrite").parquet(s"$staging100/tmp")
      val f = new java.io.File(s"$staging100/tmp").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      // epoch-stamped deterministic name, like the real writers
      java.nio.file.Files.move(f.toPath,
        new java.io.File(staging100, "part-00000-e100.parquet").toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    val msg100 = Array[org.apache.spark.sql.connector.write.WriterCommitMessage](
      graft.sources.DocStoreCommitMessage(Seq("part-00000-e100.parquet")))
    val before = spark.read.format("docstore").option("path", b).load().count()
    stage100()
    w.commit(100L, msg100) // publish epoch 100 fully (1 extra row)
    val afterFull = spark.read.format("docstore").option("path", b).load().count()
    assert(afterFull == before + 1)
    // simulate the crash: marker gone, file still published
    assert(new java.io.File(b, "_committed-retryq-100").delete())
    stage100() // the re-executed epoch stages the same name again…
    w.commit(100L, msg100) // …and republishing replaces, never duplicates
    assert(spark.read.format("docstore").option("path", b).load().count() == afterFull,
      "partial-publish retry duplicated rows")
    assert(new java.io.File(b, "_committed-retryq-100").exists())
  }

  test("stateful streaming: watermarked windowed agg recovers state across a mid-backlog kill, exactly once") {
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val src = tmpDir("docstore_state_src")
    val dst = tmpDir("docstore_state_dst")
    val cp = tmpDir("docstore_state_cp")
    def ts(d: Int, h: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-0$d $h%02d:00:00")
    def writeRows(rows: Seq[(java.sql.Timestamp, String)]): Unit =
      rows.toDF("ts", "k").coalesce(1)
        .write.format("docstore").option("path", src).mode("append").save()
    // a 3-file backlog spanning three event days
    writeRows(Seq((ts(1, 1), "a"), (ts(1, 2), "a"), (ts(1, 3), "b")))
    writeRows(Seq((ts(2, 1), "a"), (ts(2, 2), "b")))
    writeRows(Seq((ts(3, 1), "b")))
    // the watermark exceeds the corpus span, so NO file admission
    // order can late-drop a row; windows finalize only via the
    // sentinel below — emission is all-at-once, exactly once
    def reader = spark.readStream.format("docstore").option("path", src)
      .option("maxFilesPerTrigger", "1").load()
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "10 days")
      .groupBy(window(col("ts"), "1 day").as("w"), col("k"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").cast("timestamp").as("day"), col("k"), col("n"))
      .writeStream.format("docstore").option("path", dst)
      .option("checkpointLocation", cp)
    // kill after the FIRST micro-batch commits: state is built and
    // checkpointed, nothing has been emitted yet
    val q = reader.trigger(Trigger.ProcessingTime(10000)).start()
    val deadline = System.currentTimeMillis + 120000
    while (!q.recentProgress.exists(_.numInputRows > 0) &&
      System.currentTimeMillis < deadline) Thread.sleep(50)
    q.stop(); q.awaitTermination()
    assert(q.recentProgress.exists(_.numInputRows > 0), "no batch before the kill")
    // restart from the checkpoint: remaining backlog folds into the
    // RECOVERED state (a lost store would undercount; a replayed
    // batch would overcount)
    val q2 = reader.trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    // sentinel advances the watermark past every real window
    writeRows(Seq((java.sql.Timestamp.valueOf("2024-06-01 00:00:00"), "zz")))
    val q3 = reader.trigger(Trigger.AvailableNow()).start()
    q3.awaitTermination()
    val out = spark.read.format("docstore").option("path", dst).load()
      .select(date_format(col("day"), "yyyy-MM-dd").as("d"), col("k"), col("n"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(out.length == out.distinct.length, s"duplicate emissions: ${out.toSeq.sorted}")
    assert(out.toSet == Set(
      ("2024-01-01", "a", 2L), ("2024-01-01", "b", 1L),
      ("2024-01-02", "a", 1L), ("2024-01-02", "b", 1L),
      ("2024-01-03", "b", 1L)),
      s"state drifted across the kill: ${out.toSeq.sorted}")
  }

  test("storage-partitioned join: co-partitioned stores join with zero shuffles") {
    val a = tmpDir("docstore_spj_a")
    val b = tmpDir("docstore_spj_b")
    val o = spark.read.parquet(s"$sfDir/orders.parquet")
      .withColumn("o_year", year(col("o_orderdate")).cast("int"))
    o.select("o_orderkey", "o_totalprice", "o_year")
      .write.format("docstore").option("path", a)
      .option("partitionBy", "o_year").mode("overwrite").save()
    o.select("o_orderkey", "o_custkey", "o_year")
      .write.format("docstore").option("path", b)
      .option("partitionBy", "o_year").mode("overwrite").save()
    // sum() is not footer-answerable, so this aggregation stays a
    // real scan and keeps its KeyGroupedPartitioning — a count-only
    // aggregate would instead take the (better at scale) grouped
    // footer pushdown, whose pre-aggregated output schema no longer
    // carries the base relation's attributes and therefore sheds the
    // key-grouped property (Spark resolves a scan's reported
    // partitioning against the ORIGINAL relation output)
    val fa = spark.read.format("docstore").option("path", a).load()
      .groupBy("o_year")
      .agg(count(lit(1)).as("n_a"),
        sum("o_totalprice").as("rev"))
    val fb = spark.read.format("docstore").option("path", b).load()
      .groupBy("o_year")
      .agg(countDistinct("o_custkey").as("n_custs"))
    val joined = fa.join(fb.hint("merge"), Seq("o_year"))
    val rows = joined.select("o_year", "n_a", "n_custs").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    // the whole plan — two scans, two aggregations, one join — runs
    // on the directory partitioning: ZERO exchanges anywhere
    val shuffles = physical(joined).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shuffles.isEmpty,
      s"co-partitioned join still shuffled:\n${joined.queryExecution.executedPlan}")
    val expected = spark.read.parquet(s"$sfDir/orders.parquet")
      .withColumn("o_year", year(col("o_orderdate")).cast("int"))
      .groupBy("o_year")
      .agg(count(lit(1)).as("n_a"), countDistinct("o_custkey").as("n_custs"))
      .collect().map(r => (r.getInt(0).toString, r.getLong(1), r.getLong(2))).toSet
    assert(rows == expected, s"SPJ result drifted: $rows vs $expected")
  }

  test("mixed-writer stores, path-char partition values, and map writes round-trip") {
    import spark.implicits._
    // root-message-name differences across writers are NOT schema
    // drift: Spark's sink names the root 'spark_schema', ours
    // 'docstore_schema' — drift is structural
    val dir = tmpDir("docstore_mixed")
    Seq((1L, "a")).toDF("k", "v").write.mode("overwrite").parquet(dir)
    Seq((2L, "b")).toDF("k", "v")
      .write.format("docstore").option("path", dir).mode("append").save()
    val back = spark.read.format("docstore").option("path", dir).load()
    assert(back.orderBy("k").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b")))
    // a partition value containing '/' and '=' survives the directory
    // round trip (escaped on write, unescaped at listing) instead of
    // silently splitting into nested directories
    val pdir = tmpDir("docstore_escape")
    Seq(("a/b=c", 1L), ("plain", 2L)).toDF("k", "n")
      .write.format("docstore").option("path", pdir)
      .option("partitionBy", "k").mode("overwrite").save()
    val pback = spark.read.format("docstore").option("path", pdir).load()
    assert(pback.select("k", "n").as[(String, Long)].collect().toSet ==
      Set(("a/b=c", 1L), ("plain", 2L)))
    assert(pback.filter(col("k") === "a/b=c").count() == 1)
    // a map column writes through the sink and reads back equal
    val mdir = tmpDir("docstore_map")
    val src = Seq((1L, Map("x" -> 1, "y" -> 2)), (2L, Map("z" -> 3))).toDF("k", "m")
    src.write.format("docstore").option("path", mdir).mode("overwrite").save()
    assert(spark.read.format("docstore").option("path", mdir).load()
      .orderBy("k").collect().toSeq == src.orderBy("k").collect().toSeq)
  }

  test("bloomFor writes per-row-group bloom filters; point lookups skip groups zone maps can't") {
    import spark.implicits._
    // UNSORTED high-cardinality key with tight row groups: every
    // group's min/max straddles any probe, so zone maps prune nothing
    // — the exact case bloom filters exist for
    val store = tmpDir("docstore_bloom")
    val keys = (0L until 4000L).map(k => (k * 2654435761L) % 100000L)
    keys.map(k => (k, s"v$k")).toDF("k", "v")
      .coalesce(1)
      .write.format("docstore").option("path", store)
      .option("rowGroupBytes", "4096").option("bloomFor", "k")
      .mode("overwrite").save()
    val f = DocStore.listFiles(store).head
    val blooms = bloomChunks(f, "k")
    assert(blooms.size > 1, "tight rowGroupBytes must yield several groups")
    assert(blooms.forall(_.getBloomFilterOffset >= 0),
      "every row group carries a bloom filter for k")
    // sized to the few hundred keys each group holds, not the 1 MiB cap
    assert(blooms.forall(c => c.getBloomFilterLength > 0 &&
      c.getBloomFilterLength <= 4096),
      s"bloom filters not sized to their row groups: " +
        blooms.map(_.getBloomFilterLength).distinct.sorted)
    // control store without the option: no bloom
    val plain = tmpDir("docstore_nobloom")
    keys.map(k => (k, s"v$k")).toDF("k", "v").coalesce(1)
      .write.format("docstore").option("path", plain)
      .option("rowGroupBytes", "4096").mode("overwrite").save()
    assert(bloomChunks(DocStore.listFiles(plain).head, "k")
      .forall(_.getBloomFilterOffset < 0))
    // A/B proof the READ path's row-group skip comes from the bloom
    // bitset alone: stats/dictionary/record-level filtering all off,
    // probe a value inside every group's min/max but absent from the
    // data — bloom on: zero rows materialize; bloom off: every row does
    val absent = 1L // odd, never hits (k*2654435761 % 100000 is even)
    assert(keys.forall(_ != absent))
    assert(rowsWithBloom(f, "k", absent, bloom = true) == 0L, "bloom skips every group")
    assert(rowsWithBloom(f, "k", absent, bloom = false) == 4000L,
      "without bloom nothing prunes")
    // and the connector read stays exact either way
    val hit = keys.head
    assert(spark.read.format("docstore").option("path", store).load()
      .filter(col("k") === hit).count() == keys.count(_ == hit))
  }

  test("bloomFor sizing holds the fpp on a large row group: 200k keys, <= 2% false positives") {
    import spark.implicits._
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    // one row group of 200k distinct EVEN keys: an adaptive filter that
    // sized itself too small would show a false-positive rate far
    // above the 1 % target on odd (absent) probes
    val store = tmpDir("docstore_bloom_large")
    val n = 200000L
    spark.range(n).select((col("id") * 2).as("k")).coalesce(1)
      .write.format("docstore").option("path", store)
      .option("bloomFor", "k").mode("overwrite").save()
    val f = DocStore.listFiles(store).head
    val chunks = bloomChunks(f, "k")
    assert(chunks.size == 1, s"expected one row group, got ${chunks.size}")
    val chunk = chunks.head
    assert(chunk.getBloomFilterLength > 0 &&
      chunk.getBloomFilterLength <= (1 << 20) + 64,
      s"bloom length ${chunk.getBloomFilterLength} above the 1 MiB cap")
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(f), DocStore.hadoopConf))
    val bloom = try r.readBloomFilter(chunk) finally r.close()
    assert(bloom.getBitsetSize <= (1 << 20))
    // every present key hits (no false negatives)…
    assert((0L until n by 997L).forall(i =>
      bloom.findHash(bloom.hash(java.lang.Long.valueOf(i * 2)))))
    // …and 100k absent odd keys are rejected at the target rate
    val probes = 100000
    val fp = (0 until probes).count(i =>
      bloom.findHash(bloom.hash(java.lang.Long.valueOf(2L * i + 1))))
    assert(fp.toDouble / probes <= 0.02,
      s"false-positive rate ${fp.toDouble / probes} with a " +
        s"${bloom.getBitsetSize} B bitset for $n keys")
    assert(spark.read.format("docstore").option("path", store).load()
      .filter(col("k") === 2 * 4321L).count() == 1L)
  }

  test("compaction keeps the bloom index of its inputs; answers unchanged") {
    import spark.implicits._
    val store = tmpDir("docstore_bloom_compact")
    // 3 small appends x 2 partitions = 3 files per partition, all with
    // a bloom filter on k (unsorted, so zone maps cannot prune)
    (0 until 3).foreach { b =>
      (0L until 600L).map(i => ((i * 2654435761L + b) % 100000L) * 2)
        .map(k => (k, s"v$k", s"p${k / 2 % 2}")).toDF("k", "v", "p")
        .coalesce(1)
        .write.format("docstore").option("path", store)
        .option("partitionBy", "p").option("bloomFor", "k")
        .mode("append").save()
    }
    def answer() = spark.read.format("docstore").option("path", store).load()
      .as[(Long, String, String)].collect().toSeq.sorted
    val before = answer()
    val filesBefore = DocStore.listFiles(store).toSet
    assert(filesBefore.size == 6)
    val st = graft.sources.DocStoreMaintenance.compact(spark, store,
      rowGroupBytes = Some(4096L))
    assert(st.filesIn == 6 && st.filesOut == 2, s"compaction: $st")
    assert(answer() == before, "compaction changed the answer")
    val files = DocStore.listFiles(store)
    assert(files.size == 2 && files.forall(f => !filesBefore(f)))
    val absent = 1L // odd: every key is even
    files.foreach { f =>
      val blooms = bloomChunks(f, "k")
      assert(blooms.size > 1, "tight rowGroupBytes must yield several groups")
      assert(blooms.forall(_.getBloomFilterOffset >= 0),
        s"compacted row group without a bloom filter for k in $f")
      assert(rowsWithBloom(f, "k", absent, bloom = true) == 0L,
        "bloom skips every compacted group")
      assert(rowsWithBloom(f, "k", absent, bloom = false) > 0L)
    }
    val hit = before.head._1
    assert(spark.read.format("docstore").option("path", store).load()
      .filter(col("k") === hit).count() == before.count(_._1 == hit))
  }

  // ---- the store's bloom record: every writer honours it ----

  private def ensureCat(name: String, root: String): Unit =
    if (spark.conf.getOption(s"spark.sql.catalog.$name").isEmpty) {
      spark.conf.set(s"spark.sql.catalog.$name", "graft.sources.DocStoreCatalog")
      spark.conf.set(s"spark.sql.catalog.$name.root", root)
    }

  /** The store's recorded bloom columns (its `_bloom` root file). */
  private def bloomRecord(store: String): Seq[String] = {
    val f = new java.io.File(store, "_bloom")
    if (!f.exists) Nil
    else {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().map(_.trim).filter(_.nonEmpty).toList finally src.close()
    }
  }

  /** Every file of `files` carries a filter on `c` in every row group,
    * and an absent-key probe materializes no row of it. */
  private def assertFiltered(files: Seq[String], c: String): Unit = {
    assert(files.nonEmpty, "no new files to check")
    files.foreach { f =>
      assert(bloomChunks(f, c).forall(_.getBloomFilterOffset >= 0),
        s"$f has no bloom filter on $c")
      assert(rowsWithBloom(f, c, 1L, bloom = true) == 0L, s"absent key read from $f")
    }
  }

  /** Even keys (so the odd probe 1 is absent) in `n` unsorted rows. */
  private def evenKeys(n: Int, salt: Long = 0L): Seq[Long] =
    (0L until n.toLong).map(i => ((i * 2654435761L + salt) % 100000L) * 2)

  private def mergeKeepsFilters(mode: String): Unit = {
    import spark.implicits._
    val cat = s"bl_$mode"
    val root = tmpDir(s"docstore_bloom_merge_$mode")
    ensureCat(cat, root)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    spark.sql(s"""CREATE TABLE $cat.db.t (k BIGINT, v STRING, p STRING)
      USING docstore PARTITIONED BY (p) TBLPROPERTIES ('rowlevel'='$mode')""")
    val keys = evenKeys(400)
    keys.map(k => (k, s"v$k", s"p${k % 3}")).toDF("k", "v", "p").coalesce(1)
      .writeTo(s"$cat.db.t").option("bloomFor", "K").append()
    val path = s"$root/db/t"
    val before = DocStore.listFiles(path).toSet
    assertFiltered(before.toSeq, "k")
    // updates half the keys and inserts new ones; no bloomFor option
    (keys.take(200).map(k => (k, "upd")) ++ evenKeys(50, 7L).map(k => (k + 200000L, "new")))
      .toDF("k", "v").createOrReplaceTempView(s"bloom_merge_src_$mode")
    spark.sql(s"""MERGE INTO $cat.db.t t USING bloom_merge_src_$mode s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED THEN INSERT (k, v, p) VALUES (s.k, s.v, 'pn')""")
    val rows = spark.table(s"$cat.db.t")
    assert(rows.count() == keys.distinct.size + 50)
    assert(rows.filter(col("v") === "upd").count() == keys.take(200).distinct.size)
    assertFiltered(DocStore.listFiles(path).filterNot(before), "k")
  }

  test("MERGE INTO under 'mor' writes bloom filters on a store whose appends named bloomFor") {
    mergeKeepsFilters("mor")
  }

  test("MERGE INTO under 'cow' writes bloom filters on a store whose appends named bloomFor") {
    mergeKeepsFilters("cow")
  }

  test("streaming upsert into a bloomFor store leaves a filter on every published file") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    val target = tmpDir("docstore_bloom_upsert")
    evenKeys(300).map(k => (k, "a")).toDF("k", "v").coalesce(1)
      .write.format("docstore").option("path", target)
      .option("bloomFor", "k").mode("append").save()
    val before = DocStore.listFiles(target).toSet
    val in = MemoryStream[(Long, String)](spark)
    in.addData(evenKeys(100).map(k => (k, "b")) ++ Seq((400002L, "c")): _*)
    in.toDF().toDF("k", "v")
      .writeStream.format("docstore").option("path", target)
      .option("mode", "upsert").option("keys", "k")
      .option("checkpointLocation", tmpDir("docstore_bloom_upsert_cp"))
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    val got = spark.read.format("docstore").option("path", target).load()
    assert(got.count() == evenKeys(300).distinct.size + 1)
    assert(got.filter(col("v") === "b").count() == evenKeys(100).distinct.size)
    assertFiltered(DocStore.listFiles(target).filterNot(before), "k")
  }

  test("bloomFor is recorded once: other columns fail naming the record, recorded names in any case are no-ops") {
    import spark.implicits._
    val store = tmpDir("docstore_bloom_record")
    def append(bloomFor: Option[String], salt: Long): Unit = {
      val w = evenKeys(200, salt).map(k => (k, s"v$k")).toDF("k", "v").coalesce(1)
        .write.format("docstore").option("path", store)
      bloomFor.fold(w)(b => w.option("bloomFor", b)).mode("append").save()
    }
    append(Some("k"), 0L)
    assert(bloomRecord(store) == Seq("k"))
    val e = intercept[Exception](append(Some("v"), 1L))
    val msg = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(x => String.valueOf(x.getMessage)).mkString(" | ")
    assert(msg.contains("'v'") && msg.contains("[k]"), msg)
    assert(DocStore.listFiles(store).size == 1, "the refused write published files")
    append(Some("K"), 2L)
    append(None, 3L)
    assert(bloomRecord(store) == Seq("k"))
    assertFiltered(DocStore.listFiles(store), "k")
  }

  test("ALTER TABLE RENAME/DROP COLUMN carry the bloom record; the next append filters the new name") {
    import spark.implicits._
    val root = tmpDir("docstore_bloom_alter")
    ensureCat("bl_alter", root)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS bl_alter.db")
    spark.sql("""CREATE TABLE bl_alter.db.t (k BIGINT, v STRING, w BIGINT)
      USING docstore TBLPROPERTIES ('rowlevel'='mor')""")
    evenKeys(200).map(k => (k, s"v$k", k)).toDF("k", "v", "w").coalesce(1)
      .writeTo("bl_alter.db.t").option("bloomFor", "k,w").append()
    val path = s"$root/db/t"
    assert(bloomRecord(path) == Seq("k", "w"))
    spark.sql("ALTER TABLE bl_alter.db.t RENAME COLUMN k TO key")
    spark.sql("ALTER TABLE bl_alter.db.t DROP COLUMN w")
    assert(bloomRecord(path) == Seq("key"))
    val before = DocStore.listFiles(path).toSet
    evenKeys(200, 5L).map(k => (k, s"v$k")).toDF("key", "v").coalesce(1)
      .writeTo("bl_alter.db.t").append()
    assertFiltered(DocStore.listFiles(path).filterNot(before), "key")
  }

  test("orphanSweep and vacuum leave the bloom record in place") {
    import spark.implicits._
    val store = tmpDir("docstore_bloom_vacuum")
    (0 until 2).foreach { b =>
      evenKeys(100, b.toLong).map(k => (k, "x")).toDF("k", "v").coalesce(1)
        .write.format("docstore").option("path", store).option("snapshots", "true")
        .option("bloomFor", "k").mode("overwrite").save()
    }
    graft.sources.DocStoreMaintenance.orphanSweep(store, graceMs = 0L)
    graft.sources.DocStoreMaintenance.vacuum(store, keepVersions = 1, graceMs = 0L)
    assert(bloomRecord(store) == Seq("k"))
    evenKeys(100, 9L).map(k => (k, "y")).toDF("k", "v").coalesce(1)
      .write.format("docstore").option("path", store).mode("append").save()
    assertFiltered(DocStore.listFiles(store), "k")
  }

  // ---- aggregate pushdown (r13) ----

  test("ungrouped count/min/max answer from footer statistics only") {
    val via = spark.read.format("docstore")
      .option("path", s"$sfDir/orders.parquet").load()
    val agg = via.agg(count(lit(1)).as("n"),
      min("o_orderkey").as("mn"), max("o_orderkey").as("mx"))
    val scan = physical(agg).collectFirst {
      case b: BatchScanExec => b.scan
    }.get
    assert(scan.isInstanceOf[graft.sources.DocStoreAggScan],
      s"aggregate not pushed: ${scan.description()}")
    // the scan's output IS the aggregate — zero data columns cross
    assert(scan.readSchema().fieldNames.toSet ==
      Set("count(*)", "min(o_orderkey)", "max(o_orderkey)"))
    val native = spark.read.parquet(s"$sfDir/orders.parquet")
      .agg(count(lit(1)), min("o_orderkey"), max("o_orderkey"))
      .collect().head
    assert(agg.collect().head == native)
  }

  test("min/max on timestamps normalize units; floats/strings refuse pushdown") {
    val via = spark.read.format("docstore")
      .option("path", s"$sfDir/orders.parquet").load()
    val tsAgg = via.agg(min("o_orderdate").as("mn"), max("o_orderdate").as("mx"))
    assert(physical(tsAgg).collectFirst { case b: BatchScanExec => b.scan }
      .get.isInstanceOf[graft.sources.DocStoreAggScan])
    val native = spark.read.parquet(s"$sfDir/orders.parquet")
      .agg(min("o_orderdate"), max("o_orderdate")).collect().head
    assert(tsAgg.collect().head == native)
    // double min/max: NaN makes writer stats unreliable — stays in Spark
    val dblAgg = via.agg(min("o_totalprice"))
    assert(!physical(dblAgg).collectFirst { case b: BatchScanExec => b.scan }
      .get.isInstanceOf[graft.sources.DocStoreAggScan])
    assert(dblAgg.collect().head ==
      spark.read.parquet(s"$sfDir/orders.parquet").agg(min("o_totalprice")).collect().head)
  }

  test("data filters refuse aggregate pushdown; partition filters compose") {
    val via = spark.read.format("docstore")
      .option("path", s"$sfDir/orders.parquet").load()
    // a pushed DATA filter invalidates row-group counts → no agg push
    val filtered = via.filter(col("o_orderkey") > 100).agg(count(lit(1)).as("n"))
    assert(!physical(filtered).collectFirst { case b: BatchScanExec => b.scan }
      .get.isInstanceOf[graft.sources.DocStoreAggScan])
    assert(filtered.collect().head.getLong(0) ==
      spark.read.parquet(s"$sfDir/orders.parquet")
        .filter(col("o_orderkey") > 100).count())
    // partition filters prune whole FILES before footers are read, so
    // count(*) composes with them exactly
    val dir = tmpDir("docstore_agg_part")
    spark.read.parquet(s"$sfDir/orders.parquet")
      .withColumn("o_year", year(col("o_orderdate")).cast("int"))
      .select("o_orderkey", "o_year")
      .write.format("docstore").option("path", dir)
      .option("partitionBy", "o_year").mode("overwrite").save()
    val perPart = spark.read.format("docstore").option("path", dir).load()
      .filter(col("o_year") === "1996").agg(count(lit(1)).as("n"))
    val scan = physical(perPart).collectFirst { case b: BatchScanExec => b.scan }.get
    assert(scan.isInstanceOf[graft.sources.DocStoreAggScan],
      s"partition filter blocked agg pushdown: ${scan.description()}")
    assert(perPart.collect().head.getLong(0) ==
      spark.read.parquet(s"$sfDir/orders.parquet")
        .filter(year(col("o_orderdate")) === 1996).count())
  }

  // ---- compaction reads through the connector's own scan ----

  test("compaction keeps a renamed column: values survive, the file is physically the new name, with its filter") {
    import spark.implicits._
    val root = tmpDir("docstore_compact_rename")
    ensureCat("cp_rename", root)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cp_rename.db")
    spark.sql("""CREATE TABLE cp_rename.db.t (k BIGINT, price DOUBLE)
      USING docstore TBLPROPERTIES ('rowlevel'='mor')""")
    Seq((1L, 10.0), (2L, 20.0)).toDF("k", "price").coalesce(1)
      .writeTo("cp_rename.db.t").option("bloomFor", "price").append()
    spark.sql("ALTER TABLE cp_rename.db.t RENAME COLUMN price TO amount")
    spark.sql("INSERT INTO cp_rename.db.t VALUES (3L, 30.0)")
    val path = s"$root/db/t"
    val filesBefore = DocStore.listFiles(path).toSet
    val st = graft.sources.DocStoreMaintenance.compact(spark, path)
    assert(st.filesIn == 2 && st.filesOut == 1, s"compaction: $st")
    assert(spark.table("cp_rename.db.t").as[(Long, Double)].collect().toSeq.sorted ==
      Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)))
    val files = DocStore.listFiles(path)
    assert(files.size == 1 && !filesBefore(files.head), s"live files: $files")
    val physical = DocStore.fileSchema(files.head)
    assert(physical.containsField("amount") && !physical.containsField("price"),
      s"compacted file schema: $physical")
    assert(bloomChunks(files.head, "amount").forall(_.getBloomFilterOffset >= 0),
      "the compacted file has no bloom filter on the renamed column")
  }

  test("compaction keeps an added column: new values survive, older rows read NULL") {
    import spark.implicits._
    val store = tmpDir("docstore_compact_added")
    def append(df: org.apache.spark.sql.DataFrame, merge: Boolean): Unit =
      df.coalesce(1).write.format("docstore").option("path", store)
        .option("snapshots", "true").option("mergeSchema", merge.toString)
        .mode("append").save()
    append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), merge = false)
    append(Seq((3L, "c")).toDF("k", "v"), merge = false)
    append(Seq((4L, "d", 40L), (5L, "e", 50L)).toDF("k", "v", "w"), merge = true)
    def answer() = spark.read.format("docstore").option("path", store).load()
      .select("k", "v", "w").as[(Long, String, Option[Long])].collect().toSeq.sorted
    val expected = Seq((1L, "a", None), (2L, "b", None), (3L, "c", None),
      (4L, "d", Some(40L)), (5L, "e", Some(50L)))
    assert(answer() == expected)
    val st = graft.sources.DocStoreMaintenance.compact(spark, store)
    assert(st.filesIn == 3 && st.filesOut == 1, s"compaction: $st")
    assert(answer() == expected, "compaction lost the added column's values")
  }

  test("compaction keeps partition directory text exactly: 00123 and the Hive default partition") {
    import spark.implicits._
    val store = tmpDir("docstore_compact_parttext")
    (0 until 2).foreach { b =>
      Seq((b * 10L + 1, "00123"), (b * 10L + 2, null), (b * 10L + 3, "7"))
        .toDF("k", "p").coalesce(1)
        .write.format("docstore").option("path", store)
        .option("partitionBy", "p").mode("append").save()
    }
    def dirs() = DocStore.listFilesWithPartitions(store).map(_._2).distinct.sortBy(_.toString)
    def answer() = spark.read.format("docstore").option("path", store).load()
      .select("k", "p").as[(Long, Option[String])].collect().toSeq.sorted
    val (dirsBefore, before) = (dirs(), answer())
    assert(dirsBefore.map(_.head._2).toSet ==
      Set("00123", DocStore.HiveDefaultPartition, "7"))
    val filesBefore = DocStore.listFiles(store).toSet
    val st = graft.sources.DocStoreMaintenance.compact(spark, store)
    assert(st.filesIn == 6 && st.filesOut == 3, s"compaction: $st")
    assert(DocStore.listFiles(store).forall(f => !filesBefore(f)))
    assert(dirs() == dirsBefore, s"directory text moved: $dirsBefore -> ${dirs()}")
    assert(answer() == before)
  }

  test("compaction's restricted overwrite replaces only its bins: other files keep path and length") {
    import spark.implicits._
    Seq(false, true).foreach { snapshots =>
      val store = tmpDir(s"docstore_compact_bins_$snapshots")
      def append(rows: Seq[(Long, String)], p: String): Unit =
        rows.map { case (k, v) => (k, v, p) }.toDF("k", "v", "p").coalesce(1)
          .write.format("docstore").option("path", store)
          .option("snapshots", snapshots.toString)
          .option("partitionBy", "p").mode("append").save()
      // p=a: two small files (the one bin) beside one large file; p=b:
      // a single small file, which no bin takes
      append(Seq((1L, "a1")), "a")
      append(Seq((2L, "a2")), "a")
      append((100L until 20100L).map(k => (k, s"big$k")), "a")
      append(Seq((3L, "b1")), "b")
      def answer() = spark.read.format("docstore").option("path", store).load()
        .select("k", "v", "p").as[(Long, String, String)].collect().toSeq.sorted
      def lengths() = DocStore.listFiles(store).map(f => f -> DocStore.fileLen(f)).toMap
      val (before, lensBefore) = (answer(), lengths())
      val smallerThan = 16L << 10
      val (small, outside) = lensBefore.partition { case (f, n) =>
        f.contains("p=a") && n < smallerThan }
      assert(small.size == 2 && outside.size == 2, s"fixture: $lensBefore")
      val vBefore = DocStore.currentSnapshot(store).map(_._1)
      val st = graft.sources.DocStoreMaintenance.compact(spark, store, smallerThan)
      assert(st == graft.sources.DocStoreMaintenance.CompactStats(1, 2, 1,
        vBefore.map(_ + 1)), s"snapshots=$snapshots: $st")
      assert(answer() == before, s"snapshots=$snapshots: answers moved")
      val lensAfter = lengths()
      outside.foreach { case (f, n) =>
        assert(lensAfter.get(f).contains(n), s"snapshots=$snapshots: $f moved or changed")
      }
      val added = lensAfter.keySet -- lensBefore.keySet
      assert(added.size == 1 && added.head.contains("p=a") &&
        small.keys.forall(f => !lensAfter.contains(f)),
        s"snapshots=$snapshots: ${lensBefore.keys} -> ${lensAfter.keys}")
    }
  }

  /** A 4-partition merge-on-read catalog table with deletion vectors
    * in every partition: (path, the rows it holds). */
  private def morStoreWithDvs(cat: String): (String, Seq[(Long, String, Int)]) = {
    import spark.implicits._
    val root = tmpDir(s"docstore_$cat")
    ensureCat(cat, root)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    spark.sql(s"""CREATE TABLE $cat.db.t (k BIGINT, v STRING, p INT)
      USING docstore PARTITIONED BY (p) TBLPROPERTIES ('rowlevel'='mor')""")
    (0 until 2).foreach { b =>
      (0L until 40L).map(i => (b * 100L + i, s"v$i", (i % 4).toInt))
        .toDF("k", "v", "p").writeTo(s"$cat.db.t").append()
    }
    spark.sql(s"DELETE FROM $cat.db.t WHERE k % 5 = 0")
    val path = s"$root/db/t"
    assert(DocStore.dvMap(path, None).size == 8, "every file should carry a deletion vector")
    val rows = for (b <- 0 until 2; i <- 0L until 40L if (b * 100L + i) % 5 != 0)
      yield (b * 100L + i, s"v$i", (i % 4).toInt)
    (path, rows.sorted)
  }

  test("compaction drops the deleted rows of deletion-vector files and leaves no vector live") {
    import spark.implicits._
    val (path, expected) = morStoreWithDvs("cp_dv")
    def answer() = spark.table("cp_dv.db.t").as[(Long, String, Int)].collect().toSeq.sorted
    assert(answer() == expected)
    val st = graft.sources.DocStoreMaintenance.compact(spark, path)
    assert(st.partitionsCompacted == 4 && st.filesIn == 8 && st.filesOut == 4, s"compaction: $st")
    assert(DocStore.dvMap(path, None).isEmpty, "deletion vectors still live after compaction")
    assert(answer() == expected)
    assert(spark.read.format("docstore").option("path", path).load().count() == expected.size)
  }

  test("compaction of a 4-partition store with deletion vectors starts at most 2 jobs, none a parquet schema read") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.graftshim.CatalystBridge
    val (path, expected) = morStoreWithDvs("cp_jobs")
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerJobStart]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(e): Unit
    }
    val st = withConf("spark.sql.adaptive.enabled", "true") {
      CatalystBridge.waitForListeners(spark)
      spark.sparkContext.addSparkListener(listener)
      try graft.sources.DocStoreMaintenance.compact(spark, path)
      finally {
        CatalystBridge.waitForListeners(spark)
        spark.sparkContext.removeSparkListener(listener)
      }
    }
    assert(st.filesIn == 8 && st.filesOut == 4, s"compaction: $st")
    import scala.jdk.CollectionConverters._
    val sites = jobs.asScala.toSeq.map(_.stageInfos.map(_.details).mkString("\n"))
    assert(jobs.size <= 2, s"compaction started ${jobs.size} jobs:\n${sites.mkString("\n---\n")}")
    assert(!sites.exists(_.contains("DataFrameReader.parquet")),
      s"a compaction job came from a parquet read:\n${sites.mkString("\n---\n")}")
    assert(spark.table("cp_jobs.db.t").count() == expected.size)
  }

  // ---- row positions under parquet's page skipping ----

  /** A merge-on-read table holding keys 0 until 60,000 in order in one
    * file, so every row's file position equals its key. Parquet cuts a
    * page at 20,000 rows, so a row group of all 60,000 keys spans 3
    * pages, and its column index lets a point filter skip 2 of them.
    * Deletes key 45,000 and checks that exactly that row goes, and
    * that `_pos` and the deletion vector agree with the key under
    * pushed filters. */
  private def checkPositionsUnderPageSkips(cat: String,
      rowGroupBytes: Option[String]): Seq[Int] = {
    import spark.implicits._
    val root = tmpDir(s"docstore_$cat")
    ensureCat(cat, root)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    spark.sql(s"""CREATE TABLE $cat.db.t (k BIGINT, v STRING)
      USING docstore TBLPROPERTIES ('rowlevel'='mor')""")
    val w = (0L until 60000L).map(k => (k, s"v$k")).toDF("k", "v").coalesce(1)
      .writeTo(s"$cat.db.t")
    rowGroupBytes.fold(w)(b => w.option("rowGroupBytes", b)).append()
    val path = s"$root/db/t"
    val files = DocStore.listFiles(path)
    assert(files.size == 1, s"expected one file: $files")
    val pagesPerGroup = {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(files.head), DocStore.hadoopConf))
      try DocStore.footerBlocks(files.head).map(b =>
        r.readOffsetIndex(b.getColumns.get(0)).getPageCount)
      finally r.close()
    }
    def load() = spark.read.format("docstore").option("path", path).load()
    assert(load().filter(col("_pos") =!= col("k")).count() == 0L)
    assert(load().filter(col("k") === 50000L).select("_pos").as[Long].collect().toSeq ==
      Seq(50000L), "_pos of a row read under a pushed point filter")
    spark.sql(s"DELETE FROM $cat.db.t WHERE k = 45000")
    assert(DocStore.dvMap(path, None).size == 1, "the delete should write a deletion vector")
    val left = spark.table(s"$cat.db.t").select("k").as[Long].collect().toSet
    assert(!left(45000L), "the deleted key still reads")
    assert(left == (0L until 60000L).toSet - 45000L,
      s"the delete removed other keys: ${((0L until 60000L).toSet -- left).toSeq.sorted.take(5)}")
    assert(load().filter(col("k") >= 40000L).select("k").as[Long].collect().toSet ==
      (40000L until 60000L).toSet - 45000L, "the deletion vector under a pushed range filter")
    pagesPerGroup
  }

  test("MoR DELETE marks the row it matched when parquet skips pages of one row group") {
    val pages = checkPositionsUnderPageSkips("pos_pages", None)
    assert(pages == Seq(3), s"expected one 3-page row group, got pages per group $pages")
  }

  test("MoR DELETE marks the row it matched across many small row groups") {
    val pages = checkPositionsUnderPageSkips("pos_groups", Some("65536"))
    assert(pages.length >= 10, s"expected many row groups, got pages per group $pages")
  }
}
