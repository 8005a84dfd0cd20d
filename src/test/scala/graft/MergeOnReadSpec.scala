package graft

import graft.sources.{DocStore, DocStoreChanges, DocStoreMaintenance}
import org.apache.spark.sql.functions._

/** Merge-on-read row-level operations: deletion vectors committed as
  * `#dv` manifest bindings instead of copy-on-write file rewrites —
  * the write-optimized strategy (Delta deletion vectors / Iceberg v2
  * position deletes) a 100 TB store needs when a MERGE's matches
  * scatter across partitions. These pin the core contract:
  *
  *  - a MoR DELETE/UPDATE/MERGE rewrites ZERO data files (asserted on
  *    the manifest diff, not just the answer);
  *  - readers — batch, time travel, aggregates, change feed,
  *    streaming — subtract the vectors exactly;
  *  - compaction MATERIALIZES vectors away; vacuum reaps expired
  *    sidecars and never live ones. */
class MergeOnReadSpec extends SparkSpec {

  private def ensureCat(name: String, root: String): Unit = {
    if (spark.conf.getOption(s"spark.sql.catalog.$name").isEmpty) {
      spark.conf.set(s"spark.sql.catalog.$name", "graft.sources.DocStoreCatalog")
      spark.conf.set(s"spark.sql.catalog.$name.root", root)
    }
  }

  private def dataRels(path: String): Set[String] =
    DocStore.currentSnapshot(path).map(_._2.toSet).getOrElse(Set.empty)

  private def isPushed(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("PushedAggregation")

  /** `count(*)` of `df`, asserting the scan answered it from metadata. */
  private def pushedCount(df: org.apache.spark.sql.DataFrame): Long = {
    val q = df.agg(count(lit(1)))
    assert(isPushed(q), q.queryExecution.executedPlan.toString)
    q.head.getLong(0)
  }

  /** The row count of `df` from a scan of every live row. */
  private def scannedCount(df: org.apache.spark.sql.DataFrame): Long =
    df.collect().length.toLong

  test("MoR DELETE with a data predicate: answer exact, zero files rewritten, DV bound in the manifest") {
    val root = tmpDir("mor_root")
    ensureCat("mor", root)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS mor.db")
    spark.sql("""CREATE TABLE mor.db.t (k BIGINT, v STRING, p STRING)
      USING docstore PARTITIONED BY (p) TBLPROPERTIES ('rowlevel'='mor')""")
    spark.sql("""INSERT INTO mor.db.t SELECT /*+ COALESCE(1) */ * FROM VALUES
      (1L,'a','x'),(2L,'b','x'),(3L,'c','y'),(4L,'d','y'),(5L,'e','y')
      AS v(k, v, p)""")
    val path = s"$root/db/t"
    val before = dataRels(path)
    val vBefore = DocStore.currentSnapshot(path).get._1
    spark.sql("DELETE FROM mor.db.t WHERE k % 2 = 0") // k=2, k=4 — both partitions
    // answer
    assert(spark.table("mor.db.t").select("k").as[Long](spark.implicits.newLongEncoder)
      .collect().sorted.toSeq == Seq(1L, 3L, 5L))
    // ZERO data files rewritten: the file set is IDENTICAL
    val after = dataRels(path)
    assert(after == before, s"MoR delete must not touch data files:\n$before\nvs\n$after")
    // the commit is a rowdelta with DV bindings on the touched files
    val vAfter = DocStore.currentSnapshot(path).get._1
    assert(vAfter == vBefore + 1)
    assert(DocStore.commitOp(path, vAfter) == "rowdelta")
    val dvs = DocStore.readManifestDvs(path, vAfter)
    assert(dvs.nonEmpty && dvs.keySet.subsetOf(after), dvs.toString)
    // aggregates stay exact: count(*) is answered from metadata (file
    // rows minus vector cardinality); min/max stay in Spark, since a
    // deleted row may hold the extreme
    val agg = spark.table("mor.db.t").agg(count(lit(1)), min("k"), max("k")).head
    assert((agg.getLong(0), agg.getLong(1), agg.getLong(2)) == ((3L, 1L, 5L)))
    assert(pushedCount(spark.table("mor.db.t")) == scannedCount(spark.table("mor.db.t")))
    assert(!isPushed(spark.table("mor.db.t").agg(min("k"), max("k"))))
    // time travel: the pre-delete version still carries all five rows
    assert(spark.read.format("docstore").option("path", path)
      .option("versionAsOf", vBefore.toString).load().count() == 5)
    // a second delete MERGES vectors (union, not replace)
    spark.sql("DELETE FROM mor.db.t WHERE k = 5")
    assert(spark.table("mor.db.t").select("k").as[Long](spark.implicits.newLongEncoder)
      .collect().sorted.toSeq == Seq(1L, 3L))
    assert(dataRels(path) == before)
  }

  test("MoR COUNT(*) is answered from metadata through deletion vectors") {
    val root = tmpDir("morcnt_root")
    ensureCat("morcnt", root)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS morcnt.db")
    spark.sql("""CREATE TABLE morcnt.db.t (k BIGINT, v STRING, p STRING)
      USING docstore PARTITIONED BY (p) TBLPROPERTIES ('rowlevel'='mor')""")
    spark.sql("""INSERT INTO morcnt.db.t SELECT /*+ COALESCE(1) */ * FROM VALUES
      (1L,'a','x'),(2L,'b','x'),(3L,'c','y'),(4L,'d','y'),(5L,'e','y')
      AS v(k, v, p)""")
    val path = s"$root/db/t"
    def t = spark.table("morcnt.db.t")
    def byP(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val vBefore = DocStore.currentSnapshot(path).get._1
    spark.sql("DELETE FROM morcnt.db.t WHERE k % 2 = 0")
    assert(pushedCount(t) == 3L)
    // a second delete merges into the y file's vector: cardinality 2
    spark.sql("DELETE FROM morcnt.db.t WHERE k = 5")
    assert(DocStore.dvMap(path, None).values.map(dv =>
      DocStore.dvCardinality(s"$path/$dv")).toSeq.sorted == Seq(1L, 2L))
    assert(pushedCount(t) == 2L && scannedCount(t) == 2L)
    // GROUP BY the partition column: pushed, equal to the row scan
    val grouped = t.groupBy("p").agg(count(lit(1)))
    assert(isPushed(grouped), grouped.queryExecution.executedPlan.toString)
    assert(byP(grouped) == Map("x" -> 1L, "y" -> 1L))
    assert(byP(grouped) == byP(t.groupBy("p").agg(count("v"))))
    // a merge-on-read MERGE update: delete plus insert
    spark.sql("""MERGE INTO morcnt.db.t s USING (SELECT 3L AS k, 'C' AS v, 'y' AS p
        UNION ALL SELECT 6L, 'f', 'x') c ON s.k = c.k
      WHEN MATCHED THEN UPDATE SET v = c.v
      WHEN NOT MATCHED THEN INSERT *""")
    assert(DocStore.dvMap(path, None).nonEmpty)
    assert(pushedCount(t) == 3L && scannedCount(t) == 3L)
    // the pre-delete version has no vectors and all five rows
    val old = spark.read.format("docstore").option("path", path)
      .option("versionAsOf", vBefore.toString).load()
    assert(pushedCount(old) == 5L)
    // count(col) and min/max stay in Spark while vectors are live
    assert(!isPushed(t.agg(count("k"))) && !isPushed(t.agg(min("k"))) &&
      !isPushed(t.agg(max("k"))))
    // compaction materializes the vectors away; the count stays pushed
    DocStoreMaintenance.compact(spark, path): Unit
    assert(DocStore.dvMap(path, None).isEmpty)
    assert(pushedCount(t) == 3L && scannedCount(t) == 3L)
  }

  test("MoR UPDATE and MERGE: delete+insert deltas, matched rows move without rewriting their files") {
    val root = tmpDir("morup_root")
    ensureCat("morup", root)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS morup.db")
    spark.sql("""CREATE TABLE morup.db.scd (c_custkey BIGINT, segment STRING,
      is_current BOOLEAN) USING docstore TBLPROPERTIES ('rowlevel'='mor')""")
    spark.sql("""INSERT INTO morup.db.scd SELECT /*+ COALESCE(1) */ * FROM VALUES
      (1L,'BUILDING',true),(2L,'AUTOMOBILE',true),(3L,'MACHINERY',true)
      AS v(c_custkey, segment, is_current)""")
    val path = s"$root/db/scd"
    val before = dataRels(path)
    // UPDATE = delete+insert via representUpdateAsDeleteAndInsert
    spark.sql("UPDATE morup.db.scd SET segment = 'MOVED' WHERE c_custkey = 2")
    val rows = spark.table("morup.db.scd").orderBy("c_custkey")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows == Seq((1L, "BUILDING"), (2L, "MOVED"), (3L, "MACHINERY")))
    // original files intact; the update's insert half added ONE file
    val afterUpdate = dataRels(path)
    assert(before.subsetOf(afterUpdate), s"$before not within $afterUpdate")
    assert((afterUpdate -- before).nonEmpty)
    // MERGE: close a row and add a new one in one statement
    spark.sql("""CREATE TABLE morup.db.changes (c_custkey BIGINT, seg STRING)
      USING docstore""")
    spark.sql("INSERT INTO morup.db.changes VALUES (3,'MIGRATED'),(9,'FRESH')")
    spark.sql("""MERGE INTO morup.db.scd t USING morup.db.changes s
      ON t.c_custkey = s.c_custkey
      WHEN MATCHED THEN UPDATE SET segment = s.seg
      WHEN NOT MATCHED THEN INSERT (c_custkey, segment, is_current)
        VALUES (s.c_custkey, s.seg, true)""")
    val merged = spark.table("morup.db.scd").orderBy("c_custkey")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(merged == Seq((1L, "BUILDING"), (2L, "MOVED"),
      (3L, "MIGRATED"), (9L, "FRESH")))
    assert(afterUpdate.subsetOf(dataRels(path)),
      "MERGE must not rewrite pre-existing data files")
  }

  test("MoR change feed: rowdelta emits exactly the delta rows as deletes; full-file delete retires the file") {
    val root = tmpDir("morcdf_root")
    ensureCat("morcdf", root)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS morcdf.db")
    spark.sql("""CREATE TABLE morcdf.db.t (k BIGINT, v STRING)
      USING docstore TBLPROPERTIES ('rowlevel'='mor')""")
    spark.sql("""INSERT INTO morcdf.db.t SELECT /*+ COALESCE(1) */ * FROM VALUES
      (1L,'a'),(2L,'b'),(3L,'c') AS v(k, v)""") // v2
    spark.sql("""INSERT INTO morcdf.db.t SELECT /*+ COALESCE(1) */ * FROM VALUES
      (4L,'d'),(5L,'e') AS v(k, v)""") // v3
    val path = s"$root/db/t"
    spark.sql("DELETE FROM morcdf.db.t WHERE k IN (2, 3)") // v4: DV on file 1
    val v4 = DocStore.currentSnapshot(path).get._1
    import spark.implicits._
    val cdf4 = DocStoreChanges.changes(spark, path, v4 - 1, v4)
    assert(cdf4.select("_change_type", "k").as[(String, Long)].collect().sorted.toSeq ==
      Seq(("delete", 2L), ("delete", 3L)))
    // second delete on the SAME file: only the NEW position emits
    spark.sql("DELETE FROM morcdf.db.t WHERE k = 1") // v5: file 1 fully dead
    val v5 = DocStore.currentSnapshot(path).get._1
    val cdf5 = DocStoreChanges.changes(spark, path, v5 - 1, v5)
    assert(cdf5.select("_change_type", "k").as[(String, Long)].collect().toSeq ==
      Seq(("delete", 1L)))
    // the fully-deleted file was RETIRED, not left as a 100%-dead DV
    assert(!DocStore.readManifestDvs(path, v5).keySet
      .exists(r => !dataRels(path).contains(r)))
    assert(dataRels(path).size == 1, dataRels(path).toString)
    assert(spark.table("morcdf.db.t").select("k").as[Long].collect().sorted.toSeq ==
      Seq(4L, 5L))
    // ranges chain across the rowdeltas
    val all = DocStoreChanges.changes(spark, path, 0, v5)
    val byType = all.groupBy("_change_type").count().as[(String, Long)].collect().toMap
    assert(byType == Map("insert" -> 5L, "delete" -> 3L), byType.toString)
  }

  test("MoR maintenance: compaction materializes vectors away; vacuum reaps expired sidecars, keeps live ones") {
    val root = tmpDir("mormaint_root")
    ensureCat("mormaint", root)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS mormaint.db")
    spark.sql("""CREATE TABLE mormaint.db.t (k BIGINT, v STRING)
      USING docstore TBLPROPERTIES ('rowlevel'='mor')""")
    spark.sql("""INSERT INTO mormaint.db.t SELECT /*+ COALESCE(1) */ * FROM VALUES
      (1L,'a'),(2L,'b'),(3L,'c'),(4L,'d') AS v(k, v)""")
    val path = s"$root/db/t"
    spark.sql("DELETE FROM mormaint.db.t WHERE k >= 3")
    val vDel = DocStore.currentSnapshot(path).get._1
    assert(DocStore.readManifestDvs(path, vDel).nonEmpty)
    // compact: the DV'd file qualifies regardless of size; the rewrite
    // drops the deleted rows and the binding dies with the retired file
    val stats = DocStoreMaintenance.compact(spark, path)
    assert(stats.partitionsCompacted >= 1)
    val vCompact = DocStore.currentSnapshot(path).get._1
    assert(DocStore.readManifestDvs(path, vCompact).isEmpty,
      "compaction must materialize deletion vectors away")
    import spark.implicits._
    assert(spark.table("mormaint.db.t").select("k").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L))
    // change feed: the compact emits NOTHING (no data changed)
    assert(DocStoreChanges.changes(spark, path, vCompact - 1, vCompact).count() == 0)
    // vacuum to the current version: the expired DV sidecar is reaped…
    val dvDir = new java.io.File(path, DocStore.DeletesDir)
    assert(dvDir.listFiles().nonEmpty)
    DocStoreMaintenance.vacuum(path, keepVersions = 1, graceMs = 0L): Unit
    assert(dvDir.listFiles() == null || dvDir.listFiles().isEmpty,
      "expired deletion vectors must be reaped")
    assert(spark.table("mormaint.db.t").select("k").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L))
    // …while a LIVE vector survives its vacuum
    spark.sql("DELETE FROM mormaint.db.t WHERE k = 1")
    DocStoreMaintenance.vacuum(path, keepVersions = 1, graceMs = 0L): Unit
    assert(dvDir.listFiles().nonEmpty,
      "a vector bound by the current version must survive vacuum")
    assert(spark.table("mormaint.db.t").select("k").as[Long].collect().toSeq ==
      Seq(2L))
  }

  test("SQL maintenance procedures: CALL compact/vacuum/orphan_sweep/history/enable_snapshots") {
    val root = tmpDir("proc_root")
    ensureCat("proc", root)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS proc.db")
    spark.sql("CREATE TABLE proc.db.t (k BIGINT, v STRING) USING docstore")
    spark.sql("INSERT INTO proc.db.t VALUES (1,'a'),(2,'b')")
    val path = s"$root/db/t"
    // bootstrap snapshots from SQL
    val v1 = spark.sql("CALL proc.system.enable_snapshots(table => 'db.t')").head.getLong(0)
    assert(v1 == 1L && DocStore.snapshotEnabled(path))
    spark.sql("INSERT INTO proc.db.t VALUES (3,'c')")
    // history reflects the lineage with ops
    val hist = spark.sql("CALL proc.system.history(table => 'db.t')")
      .select("version", "op").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(hist.map(_._1) == Seq(1L, 2L), hist.toString)
    assert(hist.last._2 == "append")
    // compact bin-packs the small files in one commit
    val c = spark.sql("CALL proc.system.compact(table => 'db.t')").head
    assert(c.getInt(1) > c.getInt(2) && c.getInt(2) > 0, c.toString)
    import spark.implicits._
    assert(spark.table("proc.db.t").select("k").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L))
    // vacuum reports reclaimed files; the table still reads whole
    val reclaimed = spark.sql(
      "CALL proc.system.vacuum(table => 'db.t', keep_versions => 1, grace_ms => 0)")
      .head.getInt(0)
    assert(reclaimed > 0, "compaction inputs should be reclaimable")
    assert(spark.table("proc.db.t").count() == 3)
    // orphan_sweep on a clean store removes nothing
    assert(spark.sql("CALL proc.system.orphan_sweep(table => 'db.t', grace_ms => 0)")
      .head.getInt(0) == 0)
    // unknown procedure and bad table error clearly
    val e1 = intercept[Exception](spark.sql("CALL proc.system.nope(table => 'db.t')"))
    assert(e1.getMessage.contains("nope") || e1.getMessage.contains("no procedure"),
      e1.getMessage)
    val e2 = intercept[Exception](
      spark.sql("CALL proc.system.history(table => 'db.missing')").collect())
    assert(e2.getMessage.contains("no table"), e2.getMessage)
  }

  test("MoR debt policy: compact(dv_fraction) rewrites only files past the deleted-fraction threshold; history reports the debt") {
    val root = tmpDir("mordebt_root")
    ensureCat("mordebt", root)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS mordebt.db")
    spark.sql("""CREATE TABLE mordebt.db.t (k BIGINT, grp BIGINT)
      USING docstore TBLPROPERTIES ('rowlevel'='mor')""")
    // two files: grp 0 (k 0..9) and grp 1 (k 100..109), one file each
    spark.sql("""INSERT INTO mordebt.db.t
      SELECT /*+ REPARTITION(1) */ id, 0L FROM range(0, 10)""")
    spark.sql("""INSERT INTO mordebt.db.t
      SELECT /*+ REPARTITION(1) */ id + 100, 1L FROM range(0, 10)""")
    val path = s"$root/db/t"
    // 50% deleted in grp 0's file, 10% in grp 1's
    spark.sql("DELETE FROM mordebt.db.t WHERE grp = 0 AND k < 5")
    spark.sql("DELETE FROM mordebt.db.t WHERE k = 100")
    val vDel = DocStore.currentSnapshot(path).get._1
    val dvsBefore = DocStore.readManifestDvs(path, vDel)
    assert(dvsBefore.size == 2)
    // history surfaces the debt: 2 DV'd files hiding 6 rows
    val debt = DocStoreMaintenance.history(spark, path)
      .orderBy(col("version").desc).select("n_dvs", "dv_rows").head
    assert((debt.getLong(0), debt.getLong(1)) == ((2L, 6L)))
    // threshold compact via SQL: only the 50%-deleted file rewrites —
    // the 10%-deleted one is the POLICY's to leave alone even though
    // it is small
    val st = spark.sql("""CALL mordebt.system.compact(table => 'db.t',
      dv_fraction => 0.3)""").head
    assert(st.getInt(1) == 1 && st.getInt(2) == 1, st.toString)
    val vCompact = DocStore.currentSnapshot(path).get._1
    assert(vCompact == vDel + 1, "one atomic commit")
    val dvsAfter = DocStore.readManifestDvs(path, vCompact)
    // below-threshold file keeps its vector, above-threshold binding died
    assert(dvsAfter.keySet == dvsBefore.keySet.filter(r =>
      DocStore.dvCardinality(
        new org.apache.hadoop.fs.Path(path, dvsBefore(r)).toString) == 1L))
    import spark.implicits._
    assert(spark.table("mordebt.db.t").select("k").as[Long].collect().sorted.toSeq ==
      ((5L until 10L) ++ (101L until 110L)))
    // the policy rewrite changes no data: CDF emits nothing for it
    assert(DocStoreChanges.changes(spark, path, vCompact - 1, vCompact).count() == 0)
    // a second threshold pass is a no-op: the remaining DV'd file is
    // below threshold, and the rewritten file alone can't bin-pack
    val st2 = spark.sql("""CALL mordebt.system.compact(table => 'db.t',
      dv_fraction => 0.3)""").head
    assert(st2.getInt(1) == 0, st2.toString)
  }

  test("MoR commit messages carry DV fragment bindings, never raw positions") {
    // task-side contract, exercised on a writer directly: deletes are
    // staged as DV-encoded fragment FILES and the WriterCommitMessage
    // transports only (dataRel, fragRel, count) — at 100 TB a
    // predicate delete matches billions of rows and raw positions on
    // the RPC path are a driver OOM, so this pins the message shape
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.unsafe.types.UTF8String
    val store = tmpDir("morfrag_store")
    val staging = s"$store/_staging-fragtest"
    val w = new graft.sources.DocStoreDeltaWriter(store, staging,
      new org.apache.spark.sql.types.StructType(), Nil, 0, 7L)
    val file = s"$store/part-0.parquet"
    (0L until 5000L).filter(_ % 3 == 0).foreach { p =>
      w.delete(null, InternalRow(UTF8String.fromString(file), p))
    }
    val msg = w.commit().asInstanceOf[graft.sources.DocStoreDeltaCommitMessage]
    // no Array[Long] (or any array) anywhere in the message tree
    def flatten(x: Any): Iterator[Any] = x match {
      case p: Product => Iterator(p) ++ p.productIterator.flatMap(flatten)
      case s: Iterable[_] => s.iterator.flatMap(flatten)
      case other => Iterator(other)
    }
    assert(flatten(msg).forall(!_.isInstanceOf[Array[_]]),
      "commit message must not carry position arrays")
    // the binding points at a real staged fragment holding EXACTLY the
    // deleted positions in DV encoding
    assert(msg.stagedRels.isEmpty)
    val frag = msg.dvFragments match {
      case Seq(f) => f
      case other => fail(s"expected one fragment, got $other")
    }
    assert(frag.dataRel == "part-0.parquet")
    assert(frag.count == (0L until 5000L).count(_ % 3 == 0).toLong)
    val decoded = DocStore.readDv(s"$staging/${frag.fragRel}")
    assert(decoded.toSeq == (0L until 5000L).filter(_ % 3 == 0))
    // and the message class itself declares no array-typed field
    assert(classOf[graft.sources.DocStoreDeltaCommitMessage].getDeclaredFields
      .forall(f => !f.getType.isArray))
  }

  test("MoR large delete: a million-position predicate delete commits as bindings, zero files rewritten") {
    val root = tmpDir("morbig_root")
    ensureCat("morbig", root)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS morbig.db")
    spark.sql("""CREATE TABLE morbig.db.t (id BIGINT, grp BIGINT)
      USING docstore TBLPROPERTIES ('rowlevel'='mor')""")
    spark.sql("INSERT INTO morbig.db.t SELECT id, id % 7 FROM range(2000000)")
    val path = s"$root/db/t"
    val before = dataRels(path)
    spark.sql("DELETE FROM morbig.db.t WHERE id % 2 = 0") // 10⁶ positions
    assert(spark.table("morbig.db.t").count() == 1000000L)
    assert(spark.table("morbig.db.t").agg(min("id"), max("id")).head match {
      case r => (r.getLong(0), r.getLong(1)) == ((1L, 1999999L))
    })
    // every data file intact — the delete is manifest bindings + sidecars
    assert(dataRels(path) == before,
      "a large MoR delete must not rewrite any data file")
    val v = DocStore.currentSnapshot(path).get._1
    assert(DocStore.commitOp(path, v) == "rowdelta")
    val dvs = DocStore.readManifestDvs(path, v)
    assert(dvs.keySet == before, "every file holds deleted rows here")
    // sidecar cardinalities sum to exactly the deleted count
    val total = dvs.values.map(r =>
      DocStore.dvCardinality(new org.apache.hadoop.fs.Path(path, r).toString)).sum
    assert(total == 1000000L, total.toString)
  }

  test("MoR streaming: data streams skip or fail on rowdelta commits; changeFeed streams the deltas") {
    import org.apache.spark.sql.streaming.Trigger
    val root = tmpDir("morstream_root")
    ensureCat("morstream", root)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS morstream.db")
    spark.sql("""CREATE TABLE morstream.db.t (k BIGINT, v STRING)
      USING docstore TBLPROPERTIES ('rowlevel'='mor')""")
    spark.sql("INSERT INTO morstream.db.t VALUES (1,'a'),(2,'b'),(3,'c')")
    val path = s"$root/db/t"
    spark.sql("DELETE FROM morstream.db.t WHERE k = 2")
    val vNow = DocStore.currentSnapshot(path).get._1
    // data stream from v1 under onRewrite=skip: appends only — the
    // rowdelta contributes nothing; deleted rows already emitted stay
    val out1 = tmpDir("morstream_out1")
    spark.readStream.format("docstore").option("path", path)
      .option("startingVersion", "1").load()
      .writeStream.format("parquet").option("path", out1)
      .option("checkpointLocation", tmpDir("morstream_cp1"))
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    import spark.implicits._
    assert(spark.read.parquet(out1).select("k").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L))
    // under onRewrite=fail the same tail REFUSES the rowdelta commit
    val failed = intercept[Exception] {
      spark.readStream.format("docstore").option("path", path)
        .option("startingVersion", "1").option("onRewrite", "fail").load()
        .writeStream.format("noop")
        .option("checkpointLocation", tmpDir("morstream_cp2"))
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    }
    val failMsg = Iterator.iterate(failed: Throwable)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    assert(failMsg.contains("ROWDELTA"), failMsg)
    // changeFeed stream consumes the delete as a change row
    val out3 = tmpDir("morstream_out3")
    spark.readStream.format("docstore").option("path", path)
      .option("startingVersion", (vNow).toString).option("changeFeed", "true").load()
      .select("k", "_change_type", "_commit_version")
      .writeStream.format("parquet").option("path", out3)
      .option("checkpointLocation", tmpDir("morstream_cp3"))
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    val changes = spark.read.parquet(out3)
      .select("k", "_change_type").as[(Long, String)].collect().toSeq
    assert(changes == Seq((2L, "delete")), changes.toString)
  }
}
