package graft

import graft.sources.DocStore
import org.apache.spark.sql.functions._

/** Manifest-embedded file statistics: each snapshot commit writes
  * `#schema` (the reconciled data schema), and per file `#stat`
  * (exact row count, bytes, per-column min/max/null-counts, units
  * normalized at commit) — the Iceberg manifest-stats design. Planning
  * then answers from ONE manifest read instead of O(files) footer
  * round-trips: on a cold driver over a 100 TB store that is the
  * difference between metadata-only planning and a million GETs.
  * These specs PROVE the zero-footer property by logging every footer
  * consultation (cache hits included) and asserting the skipped
  * files' paths never appear. */
class ManifestStatsSpec extends SparkSpec {

  /** Run `body` with footer-consult logging on; returns consulted paths. */
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

  /** Three-commit snapshot store with one file per commit and DISJOINT
    * k ranges — the stat-skipping fixture. */
  private def mkStore(prefix: String): String = {
    import spark.implicits._
    val store = tmpDir(prefix)
    Seq(0, 100, 200).foreach { base =>
      (base until base + 100).map(i => (i.toLong, s"v$i")).toDF("k", "v")
        .coalesce(1)
        .write.format("docstore").option("path", store)
        .option("snapshots", "true").mode("append").save()
    }
    store
  }

  test("commit writes #schema and #stat lines; stats carry across commits without recomputation") {
    val store = mkStore("mstats")
    val v = DocStore.currentSnapshot(store).get._1
    assert(v == 3L)
    val stats = DocStore.readManifestStats(store, v)
    assert(stats.size == 3, stats.keys.toString)
    // exact rows, normalized long min/max, exact null counts
    val total = stats.values.map(_.rows).sum
    assert(total == 300L)
    val ks = stats.values.flatMap(_.cols.get("k")).toSeq
    assert(ks.size == 3 && ks.forall(_.nulls == 0L))
    assert(ks.flatMap(_.min).min == 0L && ks.flatMap(_.max).max == 299L)
    // string column: null-count-only entry (no order stats)
    assert(stats.values.forall(_.cols.get("v").exists(c =>
      c.min.isEmpty && c.max.isEmpty && c.nulls == 0L)))
    // the reconciled schema rides the manifest
    val ms = DocStore.readManifestSchema(store, v)
    assert(ms.exists(_.fieldNames.toSeq == Seq("k", "v")), ms.toString)
  }

  test("data-filter file skipping: a stat-pruned file's footer is NEVER opened") {
    val store = mkStore("mskip")
    val rels = DocStore.currentSnapshot(store).get._2
    val stats = DocStore.readManifestStats(store, DocStore.currentSnapshot(store).get._1)
    val prunedRels = rels.filter(r => stats(r).cols("k").max.exists(_ < 250L))
    assert(prunedRels.size == 2)
    val (rows, consulted) = loggedFooters {
      spark.read.format("docstore").option("path", store).load()
        .filter(col("k") >= 250).select("k").collect().map(_.getLong(0)).sorted.toSeq
    }
    assert(rows == (250L until 300L).toSeq)
    val consultedRels = consulted
      .flatMap(c => rels.find(r => c.endsWith(r))).toSet
    assert(prunedRels.forall(r => !consultedRels.contains(r)),
      s"stat-pruned files were consulted: ${consultedRels.intersect(prunedRels.toSet)}")
  }

  test("count/min/max aggregate answers with ZERO footer consultations") {
    val store = mkStore("magg")
    val ((n, lo, hi), consulted) = loggedFooters {
      val df = spark.read.format("docstore").option("path", store).load()
        .agg(count(lit(1)).as("n"), min("k").as("lo"), max("k").as("hi"))
      assert(df.queryExecution.executedPlan.toString.contains("PushedAggregation"),
        df.queryExecution.executedPlan.toString.take(1200))
      val r = df.head
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    assert((n, lo, hi) == ((300L, 0L, 299L)))
    assert(consulted.isEmpty,
      s"metadata-only aggregate consulted footers: $consulted")
  }

  test("a manifest-answered aggregate plans one task; footer-read files keep one each") {
    import spark.implicits._
    def partitions(store: String): (Int, Long) = {
      val df = spark.read.format("docstore").option("path", store).load().agg(count(lit(1)))
      val scan = df.queryExecution.sparkPlan.collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
      }.get
      assert(scan.isInstanceOf[graft.sources.DocStoreAggScan], scan.description())
      (scan.toBatch.planInputPartitions().length, df.head.getLong(0))
    }
    assert(partitions(mkStore("mone")) == ((1, 300L)))
    // a plain store carries no manifest stats: each footer is read by its own task
    val plain = tmpDir("mplain")
    Seq(0, 100, 200).foreach { base =>
      (base until base + 100).map(_.toLong).toDF("k").coalesce(1)
        .write.format("docstore").option("path", plain).mode("append").save()
    }
    assert(partitions(plain) == ((3, 300L)))
  }

  test("count(col) answers null counts from the manifest; all-null and evolved columns stay exact") {
    import spark.implicits._
    val store = tmpDir("mnulls")
    Seq((1L, Some("a")), (2L, None), (3L, Some("c")))
      .toDF("k", "v").coalesce(1)
      .write.format("docstore").option("path", store)
      .option("snapshots", "true").mode("append").save()
    val (got, consulted) = loggedFooters {
      val r = spark.read.format("docstore").option("path", store).load()
        .agg(count(lit(1)), count(col("v"))).head
      (r.getLong(0), r.getLong(1))
    }
    assert(got == ((3L, 2L)))
    assert(consulted.isEmpty, consulted.toString)
    // IS NULL / IS NOT NULL file skipping from null counts: a second
    // commit with v entirely null is skipped by `v IS NOT NULL`
    Seq((10L, Option.empty[String]), (11L, Option.empty[String]))
      .toDF("k", "v").coalesce(1)
      .write.format("docstore").option("path", store).mode("append").save()
    val rels = DocStore.currentSnapshot(store).get._2
    val nullRel = rels.find(r =>
      DocStore.readManifestStats(store, DocStore.currentSnapshot(store).get._1)
        .apply(r).cols("v").nulls == 2L).get
    val (ks, consulted2) = loggedFooters {
      spark.read.format("docstore").option("path", store).load()
        .filter(col("v").isNotNull).select("k")
        .collect().map(_.getLong(0)).sorted.toSeq
    }
    assert(ks == Seq(1L, 3L))
    assert(!consulted2.exists(_.endsWith(nullRel)),
      s"all-null file's footer was consulted: $consulted2")
  }

  test("streaming `filters` option: stat-pruned files never enter a batch (footer-log proof)") {
    import org.apache.spark.sql.streaming.Trigger
    val store = mkStore("mstream")
    val rels = DocStore.currentSnapshot(store).get._2
    val stats = DocStore.readManifestStats(store, DocStore.currentSnapshot(store).get._1)
    val prunedRels = rels.filter(r => stats(r).cols("k").max.exists(_ < 250L))
    assert(prunedRels.size == 2)
    val out = tmpDir("mstream_out")
    val (_, consulted) = loggedFooters {
      spark.readStream.format("docstore").option("path", store)
        .option("filters", "k >= 250").load()
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", tmpDir("mstream_cp"))
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    }
    // exact row semantics: only matching rows emitted…
    assert(spark.read.parquet(out).select("k")
      .collect().map(_.getLong(0)).sorted.toSeq == (250L until 300L).toSeq)
    // …and the pruned files' footers were never opened: they entered
    // no offset and no batch planned them
    val consultedRels = consulted.flatMap(c => rels.find(r => c.endsWith(r))).toSet
    assert(prunedRels.forall(r => !consultedRels.contains(r)),
      s"stat-pruned files entered the stream: ${consultedRels.intersect(prunedRels.toSet)}")
    // malformed / unknown-column filters refuse loudly
    val e = intercept[Exception] {
      spark.readStream.format("docstore").option("path", store)
        .option("filters", "nope >= 250").load()
        .writeStream.format("noop")
        .option("checkpointLocation", tmpDir("mstream_cp2"))
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    }
    val msg = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(String.valueOf(_: Any)).mkString(" | ")
    assert(msg.contains("unknown column"), msg)
  }

  test("stat skipping composes with time travel and stays sound under deletion vectors") {
    import spark.implicits._
    val store = mkStore("mtt")
    val v3 = DocStore.currentSnapshot(store).get._1
    // time travel to v1 sees only the first file's stats
    val oneFile = spark.read.format("docstore").option("path", store)
      .option("versionAsOf", "1").load()
    assert(oneFile.filter(col("k") >= 250).count() == 0L)
    assert(oneFile.count() == 100L)
    // rows deleted by a DV only SHRINK matches — skipping stays sound,
    // and the filtered read subtracts the vector exactly
    val rel = DocStore.currentSnapshot(store).get._2.sorted.last
    val dvRel = DocStore.writeDv(store, Array(0L, 1L)) // first two rows of [200..299]
    DocStore.commitSnapshotWithDvs(store, op = "rowdelta") { (base, dvs) =>
      (base, dvs + (rel -> dvRel))
    }
    val after = spark.read.format("docstore").option("path", store).load()
      .filter(col("k") >= 200).select("k")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(after == (202L until 300L).toSeq, after.take(5).toString)
    assert(DocStore.currentSnapshot(store).get._1 == v3 + 1)
  }
}
