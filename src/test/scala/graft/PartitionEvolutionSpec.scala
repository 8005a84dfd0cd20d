package graft

import graft.sources.{DocStore, DocStoreMaintenance}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.EqualTo

/** Partition evolution: the `#partspec` manifest line re-points WRITE
  * routing (year → year,month) while every existing file keeps the
  * layout its own path encodes — no rewrite, mixed layouts in one
  * store, reads union the specs (a file whose layout lacks a partition
  * column reads it as null) and PRUNING stays exact for both layouts
  * (a missing directory key means the file's rows hold only null for
  * that column — a value filter on it drops the whole file). */
class PartitionEvolutionSpec extends SparkSpec {

  test("path store: spec evolves year -> year,month; old files keep their layout, reads union, pruning exact per layout") {
    import spark.implicits._
    val store = tmpDir("partevo")
    // generation 1: routed by y only
    Seq((1L, "a", "2020"), (2L, "b", "2020"), (3L, "c", "2021"))
      .toDF("k", "v", "y").coalesce(1)
      .write.format("docstore").option("path", store)
      .option("partitionBy", "y").option("snapshots", "true")
      .mode("append").save()
    val relsGen1 = DocStore.currentSnapshot(store).get._2
    // evolve: new writes route by (y, m)
    DocStoreMaintenance.setPartitionSpec(store, Seq("y", "m")): Unit
    // generation 2 routes by the CURRENT spec with NO explicit option
    Seq((4L, "d", "2021", "01"), (5L, "e", "2021", "02"))
      .toDF("k", "v", "y", "m").coalesce(1)
      .write.format("docstore").option("path", store)
      .mode("append").save()
    // gen-1 files were not touched
    assert(relsGen1.toSet.subsetOf(DocStore.currentSnapshot(store).get._2.toSet))
    // new files landed under y=…/m=… directories
    val gen2 = DocStore.currentSnapshot(store).get._2.filterNot(relsGen1.toSet)
    assert(gen2.nonEmpty && gen2.forall(r => r.contains("y=") && r.contains("m=")),
      gen2.toString)
    // the union read: m is null for gen-1 rows, populated for gen-2
    val df = spark.read.format("docstore").option("path", store).load()
    assert(df.schema.fieldNames.toSeq == Seq("k", "v", "y", "m"))
    val rows = df.orderBy("k").select("k", "y", "m").collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.getString(2)))).toSeq
    assert(rows == Seq((1L, "2020", None), (2L, "2020", None),
      (3L, "2021", None), (4L, "2021", Some("01")), (5L, "2021", Some("02"))))
    // pruning, old layout: y=2020 keeps exactly gen-1's 2020 file
    val listing = DocStore.listFilesWithPartitions(store)
    val pruneY = DocStore.pruneListing(listing, Array(EqualTo("y", "2020")))
    assert(pruneY.size == 1 && pruneY.forall(_._1.contains("y=2020")))
    // pruning, NEW layout: m=02 drops every gen-1 file (their m is all
    // null) and keeps exactly the m=02 file
    val pruneM = DocStore.pruneListing(listing, Array(EqualTo("m", "02")))
    assert(pruneM.size == 1 && pruneM.head._1.contains("m=02"), pruneM.toString)
    assert(df.filter(col("m") === "02").select("k").as[Long].collect().toSeq ==
      Seq(5L))
    assert(df.filter(col("m").isNull).count() == 3)
    // a spec column that exists as a DATA column refuses with both roles named
    val e = intercept[Exception](
      DocStoreMaintenance.setPartitionSpec(store, Seq("y", "v")))
    assert(e.getMessage.contains("v") && e.getMessage.contains("DATA"),
      e.getMessage)
  }

  test("compaction of unpartitioned files after a spec y is set keeps them unpartitioned") {
    import spark.implicits._
    val store = tmpDir("partevo_compact_flat")
    def append(df: org.apache.spark.sql.DataFrame): Unit =
      df.coalesce(1).write.format("docstore").option("path", store)
        .option("snapshots", "true").mode("append").save()
    // two small unpartitioned files: the one bin
    append(Seq((1L, "a")).toDF("k", "v"))
    append(Seq((2L, "b")).toDF("k", "v"))
    DocStoreMaintenance.setPartitionSpec(store, Seq("y")): Unit
    append(Seq((3L, "c", "2021")).toDF("k", "v", "y"))
    def answer() = spark.read.format("docstore").option("path", store).load()
      .select("k", "v", "y").as[(Long, String, Option[String])].collect().toSeq.sorted
    val before = answer()
    val filesBefore = DocStore.listFiles(store).toSet
    val st = DocStoreMaintenance.compact(spark, store)
    assert(st.filesIn == 2 && st.filesOut == 1, s"compaction: $st")
    val compacted = DocStore.listFiles(store).filterNot(filesBefore)
    assert(compacted.size == 1 && !compacted.head.contains("y="),
      s"compacted files: $compacted")
    assert(answer() == before)
  }

  test("compaction of an old-layout bin after y -> y,m writes no physical m and keeps the schema (k,v,y,m)") {
    import spark.implicits._
    val store = tmpDir("partevo_compact")
    def append(df: org.apache.spark.sql.DataFrame, partitionBy: Option[String]): Unit = {
      val w = df.coalesce(1).write.format("docstore").option("path", store)
        .option("snapshots", "true")
      partitionBy.fold(w)(p => w.option("partitionBy", p)).mode("append").save()
    }
    // two small gen-1 files in y=2020: the one compaction bin
    append(Seq((1L, "a", "2020")).toDF("k", "v", "y"), Some("y"))
    append(Seq((2L, "b", "2020")).toDF("k", "v", "y"), Some("y"))
    DocStoreMaintenance.setPartitionSpec(store, Seq("y", "m")): Unit
    // one gen-2 file per (y, m) partition: no bin of their own
    append(Seq((3L, "c", "2021", "01")).toDF("k", "v", "y", "m"), None)
    def read() = spark.read.format("docstore").option("path", store).load()
    def answer() = read().select("k", "v", "y", "m")
      .as[(Long, String, String, Option[String])].collect().toSeq.sorted
    val expected = Seq((1L, "a", "2020", None), (2L, "b", "2020", None),
      (3L, "c", "2021", Some("01")))
    assert(answer() == expected)
    val filesBefore = DocStore.listFiles(store).toSet
    val st = DocStoreMaintenance.compact(spark, store)
    assert(st.filesIn == 2 && st.filesOut == 1, s"compaction: $st")
    val compacted = DocStore.listFiles(store).filterNot(filesBefore)
    assert(compacted.size == 1 && compacted.head.contains("y=2020") &&
      !compacted.head.contains("m="), s"compacted files: $compacted")
    val physical = DocStore.toStructType(DocStore.fileSchema(compacted.head)).fieldNames.toSeq
    assert(physical == Seq("k", "v"), s"compacted file columns: $physical")
    assert(read().schema.fieldNames.toSeq == Seq("k", "v", "y", "m"))
    assert(answer() == expected)
    // the next commit reconciles its schema over the compacted file too
    append(Seq((4L, "d", "2021", "02")).toDF("k", "v", "y", "m"), None)
    assert(read().schema.fieldNames.toSeq == Seq("k", "v", "y", "m"))
    assert(answer() == expected :+ ((4L, "d", "2021", Some("02"))))
  }

  test("catalog table: CALL set_partition_spec re-routes inserts and extends the declared schema") {
    if (spark.conf.getOption("spark.sql.catalog.pevo").isEmpty) {
      spark.conf.set("spark.sql.catalog.pevo", "graft.sources.DocStoreCatalog")
      spark.conf.set("spark.sql.catalog.pevo.root", tmpDir("pevo_root"))
    }
    spark.sql("CREATE NAMESPACE IF NOT EXISTS pevo.db")
    spark.sql("""CREATE TABLE pevo.db.t (k BIGINT, v STRING, y STRING)
      USING docstore PARTITIONED BY (y) TBLPROPERTIES ('rowlevel'='mor')""")
    spark.sql("INSERT INTO pevo.db.t VALUES (1,'a','2020'),(2,'b','2021')")
    val ver = spark.sql(
      "CALL pevo.system.set_partition_spec(table => 'db.t', spec => 'y,m')")
      .head.getLong(0)
    assert(ver >= 1L)
    // the declared schema gained the new partition column (string — the
    // directory type); inserts now provide and route by it
    assert(spark.table("pevo.db.t").schema.fieldNames.toSeq ==
      Seq("k", "v", "y", "m"))
    spark.sql("INSERT INTO pevo.db.t VALUES (3,'c','2021','07')")
    import spark.implicits._
    val got = spark.table("pevo.db.t").orderBy("k")
      .select("k", "y", "m").collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.getString(2)))).toSeq
    assert(got == Seq((1L, "2020", None), (2L, "2021", None),
      (3L, "2021", Some("07"))))
    assert(spark.table("pevo.db.t").filter(col("m") === "07")
      .select("k").as[Long].collect().toSeq == Seq(3L))
  }
}
