package graft

import graft.sources.DocStore
import org.apache.spark.sql.functions._

/** Writer-measured NDV + per-column bytes in `#stat` lines, surfaced
  * through `SupportsReportStatistics`: planning-grade statistics with
  * ZERO footer reads on stat-backed stores, per-column distinct/null
  * counts for Spark's cost rules, and the broadcast decision a
  * dimension table needs made from DATA, not conf defaults. */
class NdvStatsSpec extends SparkSpec {
  import spark.implicits._

  private def loggedFooters[A](body: => A): (A, Seq[String]) = {
    DocStore.footerConsultLog.clear()
    DocStore.footerLogEnabled = true
    try {
      val r = body
      (r, scala.jdk.CollectionConverters.IteratorHasAsScala(
        DocStore.footerConsultLog.iterator()).asScala.toSeq)
    } finally {
      DocStore.footerLogEnabled = false
      DocStore.footerConsultLog.clear()
    }
  }

  test("sink writes per-column NDV and bytes into #stat; estimates within HLL tolerance") {
    // 10k rows: k unique (10000 distinct), grp (7), v strings (1000);
    // p has one value, so a write clustered by it makes one file
    val rows = (0L until 10000L).map(i => (i, i % 7, s"s${i % 1000}", "x"))
    def data = rows.toDF("k", "grp", "v", "p")
    /** The `#stat` of the one file the current snapshot holds beyond `before`. */
    def newFileStat(store: String, before: Set[String]): DocStore.FileStat = {
      val (v, rels) = DocStore.currentSnapshot(store).get
      val added = rels.filterNot(before)
      assert(added.size == 1, s"expected one new file in $store: $added")
      DocStore.readManifestStats(store, v)(added.head)
    }
    def liveRels(store: String) = DocStore.currentSnapshot(store).get._2.toSet
    def assertNdv(what: String, st: DocStore.FileStat): Unit = {
      def ndv(c: String): Long =
        st.cols(c).ndv.getOrElse(fail(s"$what: no ndv for $c in $st"))
      assert(math.abs(ndv("k") - 10000L) <= 500L, s"$what k ${ndv("k")}")   // ~2.3% err
      assert(ndv("grp") == 7L, s"$what grp ${ndv("grp")}")                  // small-range exact
      assert(math.abs(ndv("v") - 1000L) <= 60L, s"$what v ${ndv("v")}")
      // v2 stat lines carry per-column bytes
      assert(st.cols.values.forall(_.bytes.exists(_ > 0L)), s"$what bytes: $st")
    }

    // a plain batch append
    val store = tmpDir("ndv_store")
    data.drop("p").coalesce(1)
      .write.format("docstore").option("path", store)
      .option("snapshots", "true").mode("append").save()
    assertNdv("append", newFileStat(store, Set.empty))

    // the file a merge-on-read MERGE inserts
    if (spark.conf.getOption("spark.sql.catalog.ndvcat").isEmpty) {
      spark.conf.set("spark.sql.catalog.ndvcat", "graft.sources.DocStoreCatalog")
      spark.conf.set("spark.sql.catalog.ndvcat.root", tmpDir("ndv_cat"))
    }
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ndvcat.db")
    spark.sql("""CREATE TABLE ndvcat.db.m (k BIGINT, grp BIGINT, v STRING, p STRING)
      USING docstore PARTITIONED BY (p) TBLPROPERTIES ('rowlevel'='mor')""")
    spark.sql("INSERT INTO ndvcat.db.m VALUES (-1, 0, 'seed', 'x')")
    val morPath = s"${spark.conf.get("spark.sql.catalog.ndvcat.root")}/db/m"
    val beforeMerge = liveRels(morPath)
    data.createOrReplaceTempView("ndv_src")
    spark.sql("""MERGE INTO ndvcat.db.m t USING ndv_src s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET v = s.v WHEN NOT MATCHED THEN INSERT *""")
    assertNdv("merge-on-read insert", newFileStat(morPath, beforeMerge))

    // a compaction's output
    val compacted = tmpDir("ndv_compact")
    rows.grouped(2500).foreach(part =>
      part.toDF("k", "grp", "v", "p").coalesce(1)
        .write.format("docstore").option("path", compacted)
        .option("snapshots", "true").mode("append").save())
    val beforeCompact = liveRels(compacted)
    val cs = graft.sources.DocStoreMaintenance.compact(spark, compacted)
    assert(cs.filesIn == 4 && cs.filesOut == 1, s"compaction: $cs")
    assertNdv("compaction", newFileStat(compacted, beforeCompact))

    // a file the streaming upsert sink publishes
    val upserted = tmpDir("ndv_upsert")
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, String, String)](spark)
    in.addData(rows: _*)
    in.toDF().toDF("k", "grp", "v", "p")
      .writeStream.format("docstore").option("path", upserted)
      .option("mode", "upsert").option("keys", "k").option("partitionBy", "p")
      .option("checkpointLocation", tmpDir("ndv_upsert_cp"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    assertNdv("upsert sink", newFileStat(upserted, Set.empty))
  }

  test("estimateStatistics answers from the manifest: zero footers, column stats surfaced") {
    val store = tmpDir("ndv_est")
    (0L until 5000L).map(i => (i, s"n${i % 50}", if (i % 10 == 0) None else Some(i.toDouble)))
      .toDF("k", "name", "score").coalesce(2)
      .write.format("docstore").option("path", store)
      .option("snapshots", "true").mode("append").save()
    import org.apache.spark.sql.connector.read.SupportsReportStatistics
    val df = spark.read.format("docstore").option("path", store).load()
    val (stats, consulted) = loggedFooters {
      val scan = df.queryExecution.optimizedPlan.collectFirst {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.scan.asInstanceOf[SupportsReportStatistics].estimateStatistics()
      }.get
      scan
    }
    assert(consulted.isEmpty, s"stat-backed estimate consulted footers: $consulted")
    assert(stats.numRows().getAsLong == 5000L)
    assert(stats.sizeInBytes().getAsLong > 0L)
    val byName = scala.jdk.CollectionConverters.MapHasAsScala(stats.columnStats())
      .asScala.map { case (k, v) => k.describe() -> v }
    assert(byName("score").nullCount().getAsLong == 500L)
    // per-file NDVs SUM across files (capped at live rows): an upper
    // bound that double-counts values shared by files — here 2 files
    // × 50 shared names — which is the safe direction for planning
    // (overestimating distincts never picks a wrongly-small plan)
    val nameNdv = byName("name").distinctCount().getAsLong
    assert(nameNdv >= 47L && nameNdv <= 106L, nameNdv.toString)
    // disjoint key ranges across the 2 files: the sum is the truth
    assert(math.abs(byName("k").distinctCount().getAsLong - 5000L) <= 250L)
  }

  test("a dimension-sized docstore table auto-broadcasts in a join without a hint") {
    val dim = tmpDir("ndv_dim")
    val fact = tmpDir("ndv_fact")
    (0L until 100L).map(i => (i, s"region$i")).toDF("r_id", "r_name").coalesce(1)
      .write.format("docstore").option("path", dim)
      .option("snapshots", "true").mode("append").save()
    (0L until 200000L).map(i => (i, i % 100L)).toDF("o_id", "o_rid")
      .write.format("docstore").option("path", fact)
      .option("snapshots", "true").mode("append").save()
    val joined = spark.read.format("docstore").option("path", fact).load()
      .join(spark.read.format("docstore").option("path", dim).load(),
        col("o_rid") === col("r_id"))
      .groupBy("r_name").agg(count(lit(1)).as("n"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"dimension join did not broadcast:\n${plan.take(1500)}")
    assert(joined.agg(sum("n")).head.getLong(0) == 200000L)
  }
}
