package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.plans.logical.{CommandResult, OverwriteByExpression}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.graftshim.CatalystBridge
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Store maintenance: the jobs a 100 TB docstore deployment schedules
  * around its ingest — small-file COMPACTION (the streaming sink and
  * drip appends write one file per partition per commit; a day of
  * micro-batches leaves thousands of row-group-sized files whose
  * per-file open/footer cost dominates scans) and VACUUM (snapshot
  * stores retire files logically — manifest swaps — so disk reclaim is
  * a separate, explicitly-retention-scoped pass, exactly the
  * Iceberg/Delta split of `expire_snapshots` from `DELETE`).
  *
  * Reference anchor: the reference rotates output files by size at
  * write time (main.py:225-228) but has no post-hoc maintenance story;
  * at streaming-ingest rates write-time rotation alone still
  * accumulates small files, which is why every production table format
  * grew a compactor. */
object DocStoreMaintenance {

  final case class CompactStats(
      partitionsCompacted: Int,
      filesIn: Int,
      filesOut: Int,
      version: Option[Long])

  /** Bootstrap snapshot mode on a store: commits v1 whose content is
    * the store's current directory listing, so existing data becomes
    * the first version. Idempotent-ish: on an already-snapshot store
    * it just commits a no-change version. */
  def enableSnapshots(path: String): Long =
    DocStore.commitSnapshot(path)(identity)

  /** The store's commit HISTORY as a DataFrame — the `DESCRIBE
    * HISTORY` every table format ships, derived from what the
    * manifests already record: version, commit wall-clock (`#ts`),
    * operation (`#op`), and the manifest-diff file counts. The audit
    * answer to "what changed, when, by what kind of operation" without
    * reading a data byte; expired versions simply don't appear. */
  def history(spark: SparkSession, path: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    historyRows(path).map { case (v, ts, op, a, r, n, nd, dr) =>
      (v, ts.map(new java.sql.Timestamp(_)).orNull, op, a, r, n, nd, dr)
    }.toDF("version", "commit_ts", "op", "n_added", "n_retired", "n_files",
      "n_dvs", "dv_rows")
  }

  /** The history rows without a SparkSession — shared by the DataFrame
    * API above and `CALL docstore.system.history(…)`. The last two
    * fields surface MERGE-ON-READ DEBT per version — how many files
    * carry deletion vectors and how many rows those vectors hide — so
    * an operator can see when `compact(dv_fraction => …)` is due
    * without decoding a sidecar (cardinalities read from the 12-byte
    * DV headers). */
  def historyRows(path: String)
      : Seq[(Long, Option[Long], String, Long, Long, Long, Long, Long)] = {
    require(DocStore.snapshotEnabled(path),
      s"docstore: history needs a snapshot store ($path has no ${DocStore.SnapshotDir}/)")
    val committed = DocStore.snapshotVersions(path)
      .flatMap(v => DocStore.readManifest(path, v).map(v -> _))
    committed.map { case (v, cur) =>
      // diff against the commit's RECORDED parent (v-1 on linear
      // stores; the branch base once lineages fork)
      val parentV = DocStore.commitParent(path, v).getOrElse(v - 1)
      val prev = committed.collectFirst { case (pv, pc) if pv == parentV => pc }
        .getOrElse(Nil).toSet
      val dvs = DocStore.readManifestDvs(path, v)
      val dvRows = dvs.values.map { r =>
        try DocStore.dvCardinality(new Path(path, r).toString)
        catch { case scala.util.control.NonFatal(_) => 0L } // vacuumed under us
      }.sum
      (v,
        DocStore.commitTimeMs(path, v),
        DocStore.commitOp(path, v),
        cur.count(!prev.contains(_)).toLong,
        prev.count(!cur.toSet.contains(_)).toLong,
        cur.length.toLong,
        dvs.size.toLong,
        dvRows)
    }
  }

  /** PARTITION EVOLUTION — re-point the store's write routing (year →
    * year,month as data grows) WITHOUT rewriting a byte: the new spec
    * lands as a `#partspec` manifest line, files already written keep
    * their own (coarser) directory layout, new writes route by the new
    * spec, and reads union the layouts — a file whose layout lacks a
    * partition column reads it as null and prunes exactly (its rows
    * hold no other value). Spec columns must be DIRECTORY-ONLY: a name
    * that exists as a data column in the store is refused (its values
    * would be ambiguous between pages and paths). Returns the
    * committed version. */
  def setPartitionSpec(path: String, cols: Seq[String]): Long = {
    require(cols.nonEmpty, "docstore: empty partition spec — pass the full new spec")
    require(cols.distinct == cols, s"docstore: duplicate spec column in $cols")
    val dataCols = DocStore.currentSnapshot(path).map(_._1)
      .flatMap(v => DocStore.readManifestSchema(path, v))
      .map(_.fieldNames.toSet)
      .getOrElse(DocStore.listFilesWithPartitions(path).headOption
        .map(f => DocStore.toStructType(DocStore.fileSchema(f._1)).fieldNames.toSet)
        .getOrElse(Set.empty))
    val clash = cols.filter(dataCols)
    require(clash.isEmpty,
      s"docstore: partition spec column(s) ${clash.mkString(", ")} exist as " +
        "DATA columns in the store — directory-encoded and page-encoded " +
        "values would be ambiguous; partition columns must be new " +
        "(stripped into the path by the sink)")
    DocStore.commitSnapshot(path, op = "partspec", partSpec = Some(cols))(identity)
  }

  /** Create branch `name` pointing at `fromVersion` (default: the
    * current published head) — the WRITE half of write-audit-publish:
    * a pipeline writes to the branch (`option("branch", name)`),
    * audits it (`readStream`/read with the same option), and only a
    * [[fastForward]] makes the work visible to default readers.
    * Bootstraps `main` at the current head first, so the default view
    * is pinned the moment branching starts. */
  def createBranch(path: String, name: String,
      fromVersion: Option[Long] = None): Long = {
    require(DocStore.snapshotEnabled(path),
      s"docstore: branches need a snapshot store ($path has no ${DocStore.SnapshotDir}/)")
    require(DocStore.validRefName(name),
      s"docstore: invalid branch name '$name' ([A-Za-z0-9_-]+ only)")
    if (DocStore.refHead(path, DocStore.MainRef).isEmpty) {
      val head = DocStore.snapshotVersions(path)
        .filter(v => DocStore.readManifest(path, v).isDefined).lastOption
        .getOrElse(throw new IllegalStateException(
          s"docstore: cannot branch $path before its first commit"))
      DocStore.casRef(path, DocStore.MainRef, None, head): Unit // loser = concurrent bootstrap, same head
    }
    if (name == DocStore.MainRef)
      return DocStore.refVersion(path, DocStore.MainRef)
    val v = fromVersion.getOrElse(DocStore.refVersion(path, DocStore.MainRef))
    require(DocStore.readManifest(path, v).isDefined,
      s"docstore: cannot branch at v$v of $path — not committed/retained")
    require(DocStore.refHead(path, name).isEmpty,
      s"docstore: branch '$name' already exists at $path")
    require(DocStore.casRef(path, name, None, v),
      s"docstore: branch '$name' was created concurrently at $path")
    v
  }

  /** Fast-forward `toRef` (default `main` — the PUBLISH half of
    * write-audit-publish) to `branch`'s head. Refuses unless the
    * target is a descendant of the current position (`#parent`
    * lineage walk): moving across a divergence would silently drop
    * the commits only the old position reached. */
  def fastForward(path: String, branch: String,
      toRef: String = DocStore.MainRef): Long = {
    val target = DocStore.refVersion(path, branch)
    var tries = 0
    while (tries < 5) {
      val cur = DocStore.refHead(path, toRef).getOrElse(
        throw new IllegalArgumentException(
          s"docstore: no ref '$toRef' at $path to fast-forward"))
      if (cur._2 == target) return target
      require(DocStore.isAncestor(path, cur._2, target),
        s"docstore: cannot fast-forward '$toRef' (v${cur._2}) to " +
          s"'$branch' (v$target) — v${cur._2} is not an ancestor of " +
          s"v$target; the lineages diverged (merge by re-applying the " +
          "branch's changes on the current head)")
      if (DocStore.casRef(path, toRef, Some(cur._1), target)) return target
      tries += 1
    }
    throw new IllegalStateException(
      s"docstore: fast-forward of '$toRef' at $path lost 5 CAS races — retry")
  }

  /** Bin-pack the small files of every partition into one clustered
    * file per partition, through the store's own read and write. The
    * candidate files form a table restricted to them (`onlyFiles`) and
    * pinned to the snapshot version whose listing and deletion vectors
    * chose them. Its scan reads them: the store supplies the schema,
    * renamed and dropped columns resolve through the table's column
    * IDs as a catalog read does, and the reader skips each file's
    * deletion-vector positions. The rewrite goes back to that same
    * table as an overwrite (`OverwriteByExpression` with `true`), which
    * the store's batch write commits as "replace exactly these files":
    * a shuffle plus the write, two jobs at most. On a snapshot store
    * that is one atomic manifest swap, op `compact` (the
    * pre-compaction version stays time-travelable until vacuum); on a
    * plain store it publishes before it retires. The commit's rule for
    * every file a write retires applies: each input must still be live
    * and bound to the deletion vector it was read through, else the
    * swap aborts and the published rewrite is swept. The stats come
    * from the write's commit (its driver metrics), not a re-listing.
    *
    * Only partitions holding ≥2 files under `smallerThan` bytes (or a
    * qualifying deletion vector) are touched; everything else keeps
    * its files byte-identical. Partition columns read as their
    * directory text (strings, not the table's declared types), so
    * values like "00123" and the Hive default partition round-trip
    * exactly; a partition column of another layout (an evolved spec)
    * is left out of the table, so the rewrite never writes it.
    *
    * The table loads as a catalog read loads it: a snapshot store's
    * schema comes from its manifest, but a plain store opens the
    * footer of every live file on the driver and requires one schema
    * across them all — the cost any read of the store already pays,
    * so a schema drift outside the bins aborts the compaction too. */
  def compact(
      spark: SparkSession,
      path: String,
      smallerThan: Long = 128L << 20,
      sortBy: Seq[String] = Nil,
      rowGroupBytes: Option[Long] = None,
      dvFraction: Double = 0.0): CompactStats = {
    val root = new Path(path)
    val fs = root.getFileSystem(DocStore.hadoopConf)
    // one version for the listing, the deletion vectors, the read and
    // the commit's conflict check
    val readVersion =
      if (DocStore.snapshotEnabled(path)) DocStore.currentSnapshot(path).map(_._1)
      else None
    val listing = DocStore.listFilesWithPartitions(path, readVersion)
    if (listing.isEmpty) return CompactStats(0, 0, 0, None)
    // deletion vectors MATERIALIZE here: a DV'd file is a compaction
    // candidate regardless of size (its vector's rows drop from the
    // rewrite and the binding dies with the retired file), which is
    // what keeps any one vector from growing without bound. A
    // dvFraction THRESHOLD (Delta's optimize DV-rewrite heuristic)
    // restricts that to files whose DELETED FRACTION has crossed it —
    // rewriting a 1 GB file to drop 3 rows is the wrong trade; the
    // fraction reads from the DV header + manifest `#stat` rows, no
    // data or position bytes touched.
    val dvs = DocStore.dvMap(path, readVersion)
    lazy val statRows: Map[String, Long] =
      DocStore.manifestStats(path, readVersion).map { case (r, s) => r -> s.rows }
    def dvQualifies(f: String): Boolean = {
      val rel = DocStore.relOf(path, f)
      dvs.get(rel).exists { dvRel =>
        dvFraction <= 0.0 || {
          val deleted = DocStore.dvCardinality(new Path(path, dvRel).toString)
          val rows = statRows.getOrElse(rel,
            DocStore.footerBlocks(f).map(_.getRowCount).sum)
          rows > 0 && deleted.toDouble / rows >= dvFraction
        }
      }
    }
    // DV'd files are the POLICY's to decide: below-threshold ones are
    // excluded even when small — rewriting them is exactly the cost
    // the threshold exists to defer (their debt compounds until a
    // later pass crosses it)
    def candidate(f: String): Boolean =
      if (dvs.contains(DocStore.relOf(path, f))) dvQualifies(f)
      else fs.getFileStatus(new Path(f)).getLen < smallerThan
    val bins = listing
      .filter { case (f, _) => candidate(f) }
      .groupBy(_._2)
      .filter { case (_, fl) => fl.size >= 2 || fl.exists(f => dvQualifies(f._1)) }
      .toSeq
      .sortBy(_._1.map(_._2).mkString("/"))
    if (bins.isEmpty) return CompactStats(0, 0, 0, None)

    val partKeys = bins.head._1.map(_._1)
    require(bins.forall(_._1.map(_._1) == partKeys),
      s"docstore: compaction of $path found candidate files under " +
        "different partition layouts (partition evolution); compact " +
        "one layout at a time")

    val inputs = bins.flatMap(_._2.map(_._1))
    val table = DocStoreCatalog.loadStore(root)
    // the table's data columns plus the bins' own partition keys, read
    // as directory text: a partition column of another layout (a spec
    // evolved y -> y,m) would read null here and otherwise land in the
    // rewrite as a physical data column
    val otherPartCols =
      (DocStore.partColsOf(listing) ++ table.tablePartitionBy).toSet -- partKeys
    val binTable = table.copy(
      tableSchema = StructType(table.tableSchema.filterNot(f => otherPartCols(f.name))
        .map(f => if (partKeys.contains(f.name)) f.copy(dataType = StringType) else f)),
      versionAsOf = readVersion,
      onlyFiles = Some(inputs.toSet))
    def relation() = DataSourceV2Relation.create(binTable, None, None,
      CaseInsensitiveStringMap.empty())
    val read = CatalystBridge.ofRows(spark, relation())
    // an UNPARTITIONED store has no cluster keys to route one file per
    // partition — bin-pack by sizing the shuffle to the input bytes
    // (⌈total/smallerThan⌉ output files), else the write keeps the
    // upstream task layout and "compaction" re-emits N files
    val rows =
      if (partKeys.nonEmpty) read
      else {
        val totalBytes = inputs.map(f => fs.getFileStatus(new Path(f)).getLen).sum
        read.repartition(math.max(1L,
          (totalBytes + smallerThan - 1) / smallerThan).toInt)
      }
    val written = CatalystBridge.ofRows(spark, OverwriteByExpression.byName(
      relation(), CatalystBridge.analyzed(rows), Literal.TrueLiteral,
      (Seq("sortBy" -> sortBy.mkString(",")).filter(_._2.nonEmpty) ++
        rowGroupBytes.map(n => "rowGroupBytes" -> n.toString)).toMap))
    val committed = written.queryExecution.commandExecuted match {
      case c: CommandResult => c.commandPhysicalPlan.metrics
      case other => throw new IllegalStateException(
        s"docstore: compaction of $path ran no write command: ${other.nodeName}")
    }
    CompactStats(bins.size, inputs.size, committed("filesAdded").value.toInt,
      Some(committed("committedVersion").value).filter(_ > 0))
  }

  /** Reclaim a snapshot store's disk: keep the newest `keepVersions`
    * committed manifests, physically delete every data file no kept
    * version references, and drop the expired manifests (time travel
    * to them then fails with a clear error). Returns the number of
    * data files deleted.
    *
    * SAFE-BY-DEFAULT under concurrent writers via `graceMs`: a commit
    * renames its data files in BEFORE its manifest swap, so a vacuum
    * walking that window sees referenced-by-nothing files that are
    * about to become the newest version — exactly the window Iceberg's
    * `older_than` default exists for. Files whose modification time is
    * younger than the grace are skipped this pass; a later vacuum (or
    * [[orphanSweep]]) reclaims genuinely dead ones once they age out.
    * graceMs = 0 restores the quiesced-writers fast path for
    * maintenance windows and tests. */
  def vacuum(path: String, keepVersions: Int = 1,
      graceMs: Long = 10L * 60 * 1000): Int = {
    require(keepVersions >= 1, "vacuum must keep at least the current version")
    require(DocStore.snapshotEnabled(path),
      s"docstore: vacuum needs a snapshot store ($path has no ${DocStore.SnapshotDir}/)")
    val conf = DocStore.hadoopConf
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val committed = DocStore.snapshotVersions(path)
      .filter(DocStore.readManifest(path, _).isDefined)
    // ref- and tag-reachable heads are retention-exempt: a branch
    // mid-audit (or a lagging main) must survive any keepVersions
    // setting, and a TAG is a pinned audit anchor by definition —
    // dropping the tag is how its version becomes expirable
    val refKeep = DocStore.listRefs(path).values.toSet ++
      DocStore.listTags(path).values
    val keep = (committed.takeRight(keepVersions) ++
      committed.filter(refKeep)).distinct.sorted
    val referenced = keep.flatMap(v => DocStore.readManifest(path, v).get).toSet
    val deleted = reapUnreferenced(fs, root, referenced, graceMs)
    committed.filterNot(keep.contains).foreach { v =>
      fs.delete(new Path(new Path(root, DocStore.SnapshotDir), s"v$v"), false)
    }
    // deletion-vector sidecars expire with the versions that bound
    // them: reap every `_deletes/` file no KEPT manifest references
    reapDvs(fs, root, path, keep, graceMs): Unit
    // delta manifests likewise: chain files only expired versions
    // referenced are reclaimable once the versions are gone
    reapManifests(fs, root, path, keep, graceMs): Unit
    deleted
  }

  /** GC for failed-commit litter WITHOUT expiring any version: deletes
    * physical data files referenced by NO committed manifest (a died
    * mid-commit writer's renamed-in files, compaction included, since
    * it commits through the same batch write) plus crashed writes'
    * `_staging-*` dirs — each only once older than `graceMs`, so
    * in-flight commits are never touched. Time travel keeps working
    * for every retained version; run this beside writers as routinely
    * as ingestion. */
  def orphanSweep(path: String, graceMs: Long = 10L * 60 * 1000): Int = {
    require(DocStore.snapshotEnabled(path),
      s"docstore: orphanSweep needs a snapshot store ($path has no ${DocStore.SnapshotDir}/)")
    val conf = DocStore.hadoopConf
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val committed = DocStore.snapshotVersions(path)
      .filter(v => DocStore.readManifest(path, v).isDefined)
    val referenced = committed
      .flatMap(v => DocStore.readManifest(path, v).getOrElse(Nil)).toSet
    val n = reapUnreferenced(fs, root, referenced, graceMs) +
      // a failed rowdelta commit's orphaned DV sidecars (bound by no
      // committed manifest) are litter exactly like its data files
      reapDvs(fs, root, path, committed, graceMs) +
      // …as are the delta manifests a lost-race or swept-claim commit
      // attempt wrote before failing to place its version file
      reapManifests(fs, root, path, committed, graceMs)
    val cutoff = System.currentTimeMillis() - graceMs
    val stale = fs.listStatus(root).toSeq.filter { s =>
      val nme = s.getPath.getName
      s.isDirectory && nme.startsWith("_staging-") && s.getModificationTime < cutoff
    }
    stale.foreach(s => fs.delete(s.getPath, true))
    n + stale.size
  }

  /** Reap `_deletes/` sidecars referenced by NO manifest in `kept`,
    * each only once older than `graceMs`; returns the count. */
  private def reapDvs(fs: org.apache.hadoop.fs.FileSystem, root: Path,
      path: String, kept: Seq[Long], graceMs: Long): Int = {
    val dvDir = new Path(root, DocStore.DeletesDir)
    if (!fs.exists(dvDir)) return 0
    val referenced = kept.flatMap(v => DocStore.readManifestDvs(path, v).values).toSet
    val cutoff = System.currentTimeMillis() - graceMs
    val dead = fs.listStatus(dvDir).toSeq.filter { s =>
      s.isFile && !referenced(s"${DocStore.DeletesDir}/${s.getPath.getName}") &&
        s.getModificationTime < cutoff
    }
    dead.foreach(s => fs.delete(s.getPath, false))
    dead.size
  }

  /** Reap `_snapshots/m-*` delta manifests referenced by NO version in
    * `kept`, each only once older than `graceMs` (a just-written
    * manifest whose commit hasn't claimed its version yet is
    * referenced by nothing — the grace is what protects it, the same
    * window that protects renamed-in-but-unswapped data files). */
  private def reapManifests(fs: org.apache.hadoop.fs.FileSystem, root: Path,
      path: String, kept: Seq[Long], graceMs: Long): Int = {
    val snapDir = new Path(root, DocStore.SnapshotDir)
    if (!fs.exists(snapDir)) return 0
    val referenced = kept.flatMap(v =>
      DocStore.snapState(path, v).map(_.chain).getOrElse(Nil)).toSet
    val cutoff = System.currentTimeMillis() - graceMs
    val dead = fs.listStatus(snapDir).toSeq.filter { s =>
      s.isFile && s.getPath.getName.startsWith("m-") &&
        !referenced(s.getPath.getName) && s.getModificationTime < cutoff
    }
    dead.foreach(s => fs.delete(s.getPath, false))
    dead.size
  }

  /** Delete every visible data file not in `referenced` and older than
    * `graceMs`, pruning emptied partition dirs; returns the count. */
  private def reapUnreferenced(fs: org.apache.hadoop.fs.FileSystem,
      root: Path, referenced: Set[String], graceMs: Long): Int = {
    val rootQ = fs.makeQualified(root).toString
    val cutoff = System.currentTimeMillis() - graceMs
    val dead = DocStore.physicalWalk(fs, root).map { case (p, _) =>
      fs.makeQualified(p).toString.stripPrefix(rootQ + "/")
    }.filterNot(referenced)
      .filter(rel => fs.getFileStatus(new Path(root, rel)).getModificationTime < cutoff)
    dead.foreach(rel => DocStore.retireFile(fs, new Path(root, rel)))
    dead.size
  }
}
