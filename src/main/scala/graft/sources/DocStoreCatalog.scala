package graft.sources

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, ProcedureCatalog, SupportsNamespaces, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** SQL catalog over docstore roots — the reference's two-level
  * db→collection namespace (main.py:251,277-281 iterates databases and
  * collections off a client handle) mapped onto Spark's V2 catalog
  * plugin, so the same stores the `docstore` format reads by path
  * resolve by NAME:
  *
  * {{{
  *   spark.sql.catalog.docstore      = graft.sources.DocStoreCatalog
  *   spark.sql.catalog.docstore.root = /data/stores
  *   SELECT * FROM docstore.sales.orders        -- V2 relation
  *   CREATE TABLE docstore.sales.events (…) USING docstore
  *     PARTITIONED BY (year)                    -- declares sink routing
  *   DELETE FROM docstore.sales.orders WHERE …  -- row-level op (table)
  * }}}
  *
  * Layout contract: `<root>/<namespace>/<table>` — a table is either a
  * store DIRECTORY (possibly Hive-partitioned; the usual case) or, for
  * read-compatibility with the harness fixtures' one-file tables, a
  * bare `<table>.parquet` FILE. A namespace is a directory under the
  * root. Metadata lives entirely IN the filesystem layout (a catalog
  * over a real document store would hold a client handle instead —
  * same contract, swap the catalog entry): `CREATE TABLE` materializes
  * the directory plus a `_schema.json` marker carrying the declared
  * schema (an empty store is schemaless otherwise — ACCEPT_ANY_SCHEMA
  * means the first write brings the data schema) and the declared
  * partition columns; a populated store infers schema from footers
  * exactly like the path-based reads, so catalog and path reads can
  * never disagree. */
class DocStoreCatalog extends TableCatalog with SupportsNamespaces
    with ProcedureCatalog {

  private var catalogName: String = _
  private var root: String = _
  @transient private lazy val fs =
    new Path(root).getFileSystem(DocStore.hadoopConf)

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = Option(options.get("root")).getOrElse(
      throw new IllegalArgumentException(
        s"docstore catalog '$name' needs spark.sql.catalog.$name.root"))
  }

  override def name(): String = catalogName

  private def nsPath(ns: Array[String]): Path = {
    require(ns.length == 1,
      s"docstore catalog supports exactly one namespace level (db), got ${ns.mkString(".")}")
    new Path(root, ns(0))
  }

  /** Table dir, or the fixtures' `<name>.parquet` single-file spelling. */
  private def tablePath(ident: Identifier): Option[Path] = {
    val dir = new Path(nsPath(ident.namespace()), ident.name())
    val file = new Path(nsPath(ident.namespace()), ident.name() + ".parquet")
    if (fs.exists(dir)) Some(dir)
    else if (fs.exists(file)) Some(file)
    else None
  }

  // ---- tables ----

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val p = nsPath(namespace)
    if (!fs.exists(p)) throw new NoSuchNamespaceException(namespace)
    fs.listStatus(p).toSeq
      .filter(s => !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
      .collect {
        case s if s.isDirectory => s.getPath.getName
        case s if s.isFile && s.getPath.getName.endsWith(".parquet") =>
          s.getPath.getName.stripSuffix(".parquet")
      }
      .sorted
      .map(n => Identifier.of(namespace, n))
      .toArray
  }

  override def loadTable(ident: Identifier): Table = {
    // METADATA TABLES — `docstore.db.t.files` parses as
    // namespace=[db,t], name=files: when the two namespace levels name
    // a real table and the last level is a reserved kind, resolve the
    // table's metadata as a readable relation (Iceberg's SparkCatalog
    // resolves `db.table.files` the same way).
    if (ident.namespace().length == 2) {
      val base = Identifier.of(Array(ident.namespace()(0)), ident.namespace()(1))
      val kind = ident.name().toLowerCase(java.util.Locale.ROOT)
      tablePath(base) match {
        case Some(p) if DocStoreMetaTable.kinds(kind) =>
          return DocStoreMetaTable(p.toString, kind)
        case _ => throw new NoSuchTableException(ident)
      }
    }
    loadDataTable(ident)
  }

  private def loadDataTable(ident: Identifier): Table = tablePath(ident) match {
    case None => throw new NoSuchTableException(ident)
    case Some(p) => DocStoreCatalog.loadStore(p)
  }

  /** SQL time travel — `SELECT … FROM t VERSION AS OF 3`: load the
    * table pinned at snapshot v3 (snapshot-enabled stores only; the
    * scan lists that manifest). */
  override def loadTable(ident: Identifier, version: String): Table =
    loadTable(ident) match {
      case t: DocStoreTable =>
        require(DocStore.snapshotEnabled(t.path),
          s"docstore: ${ident.name()} is not snapshot-enabled — " +
            "VERSION AS OF needs a store written with snapshots=true")
        t.copy(versionAsOf = Some(version.trim.toLong))
      // metadata tables time-travel too: `db.t.files VERSION AS OF 3`
      // answers "what files did version 3 hold" (refs refuse — they
      // are current-state pointers)
      case m: DocStoreMetaTable =>
        require(DocStore.snapshotEnabled(m.path),
          s"docstore: ${ident.namespace().mkString(".")} is not snapshot-" +
            "enabled — VERSION AS OF needs a store written with snapshots=true")
        val v = version.trim.toLong
        require(DocStore.readManifest(m.path, v).isDefined,
          s"docstore: no committed version $v at ${m.path}")
        m.copy(versionAsOf = Some(v))
      case other => other
    }

  /** SQL time travel — `… TIMESTAMP AS OF '…'` (micros since epoch):
    * resolves to the newest snapshot COMMITTED at or before the
    * instant, via the commit timestamp each manifest carries in its
    * `#ts` header — the same timestamp→version mapping every table
    * format keeps in its metadata log, and robust where file mtimes
    * are not (copy/rsync/restore resets mtimes; `#ts` travels with
    * the bytes). Pre-r16 manifests without the header fall back to
    * mtime; a version vacuumed between listing and read is skipped,
    * not a raw FileNotFoundException. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table =
    loadTable(ident) match {
      case t: DocStoreTable =>
        require(DocStore.snapshotEnabled(t.path),
          s"docstore: ${ident.name()} is not snapshot-enabled — " +
            "TIMESTAMP AS OF needs a store written with snapshots=true")
        val v = DocStore.versionAtMillis(t.path, timestampMicros / 1000L)
          .getOrElse(throw new IllegalArgumentException(
            s"docstore: no snapshot of ${ident.name()} existed at " +
              s"timestamp $timestampMicros µs"))
        t.copy(versionAsOf = Some(v))
      case m: DocStoreMetaTable =>
        require(DocStore.snapshotEnabled(m.path),
          s"docstore: ${ident.namespace().mkString(".")} is not snapshot-" +
            "enabled — TIMESTAMP AS OF needs a store written with snapshots=true")
        val v = DocStore.versionAtMillis(m.path, timestampMicros / 1000L)
          .getOrElse(throw new IllegalArgumentException(
            s"docstore: no snapshot existed at timestamp $timestampMicros µs"))
        m.copy(versionAsOf = Some(v))
      case other => other
    }

  override def createTable(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: JMap[String, String]): Table = {
    if (tablePath(ident).isDefined) throw new TableAlreadyExistsException(ident)
    val partCols = partitions.toSeq.map {
      case t if t.name == "identity" && t.references.length == 1 =>
        t.references()(0).fieldNames().mkString(".")
      case t => throw new UnsupportedOperationException(
        s"docstore tables partition by identity transforms only, got $t")
    }
    partCols.foreach { c =>
      require(schema.fieldNames.contains(c),
        s"partition column '$c' not in the table schema")
      val dt = schema(c).dataType
      require(Seq("string", "int", "bigint", "boolean", "date")
        .contains(dt.simpleString),
        s"docstore partition column '$c' must be string/int/bigint/boolean/date, got $dt")
    }
    // TBLPROPERTIES('rowlevel'='mor') opts the table into MERGE-ON-READ
    // row-level operations (deletion vectors); default stays
    // copy-on-write. MoR commits need snapshots, so the table's store
    // is snapshot-enabled at creation.
    val rowLevel = Option(properties.get("rowlevel")).map(_.trim.toLowerCase)
      .getOrElse("cow")
    require(rowLevel == "cow" || rowLevel == "mor",
      s"docstore: table property rowlevel must be 'cow' or 'mor', got '$rowLevel'")
    val dir = new Path(nsPath(ident.namespace()), ident.name())
    fs.mkdirs(dir)
    SchemaMarker.write(fs, dir, SchemaMarker(schema, partCols, rowLevel))
    if (rowLevel == "mor") DocStoreMaintenance.enableSnapshots(dir.toString): Unit
    DocStoreTable(dir.toString, schema, partCols, rowLevelMode = rowLevel)
  }

  /** SQL-native SAFE schema evolution — the DDL face of the store's
    * mergeSchema contract: `ALTER TABLE … ADD COLUMNS (c T)` (nullable,
    * top-level, appended — existing files read the column as null) and
    * `ALTER COLUMN c TYPE BIGINT` over int (old INT32 pages widen at
    * the reader). The change lands in the `_schema.json` marker;
    * loadTable merges it over the footers, so reads see the evolved
    * schema immediately and the next INSERT writes it. Populated PLAIN
    * stores refuse (new files would drift from old with no manifest to
    * reconcile through); anything beyond add-nullable / widen-int
    * refuses — same rules the write-side validation enforces. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val p = tablePath(ident).getOrElse(throw new NoSuchTableException(ident))
    require(!p.getName.endsWith(".parquet"),
      s"docstore: ${ident.name()} is a single-file fixture table; ALTER needs a store directory")
    val cur = loadTable(ident).asInstanceOf[DocStoreTable]
    val populated = DocStore.listFiles(p.toString).nonEmpty
    require(!populated || DocStore.snapshotEnabled(p.toString),
      s"docstore: ALTER TABLE on a populated PLAIN store would strand " +
        "readers (post-ALTER files drift from pre-ALTER ones with no " +
        "manifest to reconcile through) — enable snapshots first " +
        "(DocStoreMaintenance.enableSnapshots)")
    // marker state carries the COLUMN IDs; a marker written before ids
    // existed (or a bare store) seeds ids from the loaded table schema
    var m = SchemaMarker.read(fs, p)
      .getOrElse(SchemaMarker(cur.tableSchema, cur.tablePartitionBy, cur.rowLevelMode))
      .withIds
    // columns that reached the table via mergeSchema writes (footer-
    // only, never declared) get ids on first ALTER
    cur.tableSchema.fieldNames.filterNot(m.nameMap.contains).foreach { n =>
      m = m.copy(nameMap = m.nameMap + (n -> m.nextId), nextId = m.nextId + 1)
    }
    var schema = cur.tableSchema
    // the store's bloom columns follow RENAME and DROP
    var bloomEdit: String => Option[String] = Some(_)
    // files still physically carrying column `n` — the error payload
    // the name-reuse refusals cite
    def filesCarrying(n: String): Seq[String] =
      DocStore.listFiles(p.toString)
        .filter(f => DocStore.fileSchema(f).containsField(n)).take(3)
    changes.foreach {
      case add: TableChange.AddColumn =>
        require(add.fieldNames().length == 1,
          "docstore: ADD COLUMNS supports top-level columns only, got " +
            add.fieldNames().mkString("."))
        val name = add.fieldNames()(0)
        require(!schema.fieldNames.exists(_.equalsIgnoreCase(name)),
          s"docstore: column '$name' already exists")
        require(!m.nameMap.contains(name),
          s"docstore: column name '$name' was used before (column id " +
            s"${m.nameMap(name)}) and files may still carry it physically" +
            s"${filesCarrying(name).mkString(" — e.g. ", ", ", "")}; " +
            "re-using a historical name would make their columns " +
            "ambiguous — pick a fresh name")
        require(add.isNullable,
          s"docstore: added column '$name' must be nullable — existing rows read it as null")
        schema = schema.add(StructField(name, add.dataType(), nullable = true))
        m = m.copy(nameMap = m.nameMap + (name -> m.nextId), nextId = m.nextId + 1)
      case upd: TableChange.UpdateColumnType =>
        require(upd.fieldNames().length == 1,
          "docstore: ALTER COLUMN TYPE supports top-level columns only")
        val name = upd.fieldNames()(0)
        val f = schema.fields.find(_.name.equalsIgnoreCase(name)).getOrElse(
          throw new IllegalArgumentException(s"docstore: no column '$name'"))
        require(f.dataType == IntegerType && upd.newDataType() == LongType,
          s"docstore: only int→bigint widening is a safe type change " +
            s"(got ${f.dataType.simpleString} → ${upd.newDataType().simpleString})")
        require(!cur.tablePartitionBy.contains(f.name),
          s"docstore: cannot widen partition column '$name' (directory values are text)")
        schema = StructType(schema.fields.map(x =>
          if (x.name == f.name) x.copy(dataType = LongType) else x))
      case rn: TableChange.RenameColumn =>
        require(rn.fieldNames().length == 1,
          "docstore: RENAME COLUMN supports top-level columns only")
        val from = rn.fieldNames()(0)
        val to = rn.newName()
        val f = schema.fields.find(_.name == from).getOrElse(
          throw new IllegalArgumentException(s"docstore: no column '$from'"))
        require(!cur.tablePartitionBy.contains(from),
          s"docstore: cannot rename partition column '$from' — its values " +
            "ARE the directory names; rewriting them is a data migration, not DDL")
        require(!m.nameMap.contains(to),
          s"docstore: column name '$to' is already bound (column id " +
            s"${m.nameMap.getOrElse(to, -1)})" +
            s"${filesCarrying(to).mkString(" — files still carrying it: ", ", ", "")}; " +
            "renames never reuse a historical name")
        val id = m.nameMap(from)
        schema = StructType(schema.fields.map(x =>
          if (x.name == from) x.copy(name = to) else x))
        // the OLD binding stays: pre-rename files resolve through it
        m = m.copy(nameMap = m.nameMap + (to -> id))
        val prev = bloomEdit
        bloomEdit = n => prev(n).map(c => if (c.equalsIgnoreCase(from)) to else c)
      case del: TableChange.DeleteColumn =>
        require(del.fieldNames().length == 1,
          "docstore: DROP COLUMN supports top-level columns only")
        val name = del.fieldNames()(0)
        schema.fields.find(_.name == name) match {
          case None =>
            require(del.ifExists(), s"docstore: no column '$name'")
          case Some(_) =>
            require(!cur.tablePartitionBy.contains(name),
              s"docstore: cannot drop partition column '$name' — the " +
                "directory layout depends on it; repartition the store instead")
            schema = StructType(schema.fields.filterNot(_.name == name))
            m = m.copy(dropped = m.dropped + m.nameMap(name))
            val prev = bloomEdit
            bloomEdit = n => prev(n).filterNot(_.equalsIgnoreCase(name))
        }
      case other => throw new UnsupportedOperationException(
        s"docstore: unsupported ALTER TABLE change $other — supported " +
          "evolution: ADD COLUMNS (nullable), ALTER COLUMN TYPE " +
          "int→bigint, RENAME COLUMN, DROP COLUMN")
    }
    m = m.copy(schema = schema, partitionBy = cur.tablePartitionBy,
      rowLevel = cur.rowLevelMode)
    SchemaMarker.write(fs, p, m)
    DocStore.alterBloomColumns(p.toString)(bloomEdit)
    DocStoreTable(p.toString, schema, cur.tablePartitionBy,
      rowLevelMode = cur.rowLevelMode, renamedFrom = m.renamedFrom)
  }

  override def dropTable(ident: Identifier): Boolean = tablePath(ident) match {
    case Some(p) => fs.delete(p, true)
    case None => false
  }

  override def renameTable(from: Identifier, to: Identifier): Unit = {
    val src = tablePath(from).getOrElse(throw new NoSuchTableException(from))
    if (tablePath(to).isDefined) throw new TableAlreadyExistsException(to)
    val dstDir = nsPath(to.namespace())
    if (!fs.exists(dstDir)) throw new NoSuchNamespaceException(to.namespace())
    val dst = new Path(dstDir,
      if (src.getName.endsWith(".parquet")) to.name() + ".parquet" else to.name())
    require(fs.rename(src, dst), s"docstore: rename $src -> $dst failed")
  }

  // ---- procedures (CALL docstore.system.<proc>(…)) ----

  override def listProcedures(namespace: Array[String]): Array[Identifier] = {
    if (namespace.toSeq != Seq("system")) return Array.empty
    DocStoreProcedures.names.map(n => Identifier.of(Array("system"), n)).toArray
  }

  override def loadProcedure(ident: Identifier): UnboundProcedure = {
    require(ident.namespace().toSeq == Seq("system"),
      s"docstore: procedures live in the 'system' namespace, got ${ident.namespace().mkString(".")}")
    DocStoreProcedures.load(root, ident.name()).getOrElse(
      throw new IllegalArgumentException(
        s"docstore: no procedure '${ident.name()}' — available: " +
          DocStoreProcedures.names.mkString(", ")))
  }

  // ---- namespaces ----

  override def listNamespaces(): Array[Array[String]] = {
    val r = new Path(root)
    if (!fs.exists(r)) Array.empty
    else fs.listStatus(r).toSeq
      .filter(s => s.isDirectory && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
      .map(s => Array(s.getPath.getName))
      .sortBy(_.head)
      .toArray
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (namespaceExists(namespace)) Array.empty // one level only
    else throw new NoSuchNamespaceException(namespace)

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.length == 1 && fs.exists(nsPath(namespace))

  override def loadNamespaceMetadata(namespace: Array[String]): JMap[String, String] =
    if (namespaceExists(namespace)) java.util.Collections.emptyMap()
    else throw new NoSuchNamespaceException(namespace)

  override def createNamespace(
      namespace: Array[String], metadata: JMap[String, String]): Unit = {
    if (namespaceExists(namespace)) throw new NamespaceAlreadyExistsException(namespace)
    fs.mkdirs(nsPath(namespace)): Unit
  }

  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("docstore namespaces carry no metadata")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val p = nsPath(namespace)
    if (!fs.exists(p)) throw new NoSuchNamespaceException(namespace)
    if (!cascade && fs.listStatus(p).nonEmpty)
      throw new IllegalStateException(s"namespace ${namespace(0)} is not empty")
    fs.delete(p, true)
  }
}

object DocStoreCatalog {

  /** The table a store root holds, as a catalog read sees it: the
    * schema marker (declared schema, partition routing, row-level
    * mode, column IDs) folded over the schema the store's files
    * carry. The catalog's `loadTable` and compaction's read both load
    * through here, so a rename or a declared type reads the same way
    * in each. */
  def loadStore(p: Path): DocStoreTable = {
    val fs = p.getFileSystem(DocStore.hadoopConf)
    val marker = SchemaMarker.read(fs, p)
    val inferred = DocStore.inferStoreSchema(p.toString)
    // a populated store's footers win for DATA columns (catalog and
    // path reads must never disagree); the marker covers the
    // declared-but-still-empty window, remembers the partition
    // routing, supplies the declared TYPE of each partition
    // column — directory values are untyped text, and the reader
    // casts them back per the table schema (PARTITIONED BY (y INT)
    // reads as int through the catalog, as string via bare paths) —
    // and carries ALTER TABLE's declared evolution: columns ADDED
    // before any file holds them append at the end (files read them
    // as null), and a marker bigint over inferred int is the
    // declared WIDENING (old int pages widen at the reader)
    val schema =
      if (inferred.isEmpty) marker.map(_.schema).getOrElse(new StructType())
      else marker match {
        case Some(m0) =>
          val m = m0.withIds
          // COLUMN-ID translation first: a footer column under an
          // OLD name folds into its id's CURRENT name (pre-rename
          // files), a DROPPED id's column vanishes; old+new files
          // then collapse to one field (int|bigint reconciles wide)
          val translated = inferred.fields.toSeq.flatMap { f =>
            if (m.partitionBy.contains(f.name)) Some(f)
            else m.nameMap.get(f.name) match {
              case Some(id) if m.dropped(id) => None
              case Some(id) =>
                Some(f.copy(name = m.currentNameOf(id).getOrElse(f.name)))
              case None => Some(f)
            }
          }
          val dedup = scala.collection.mutable.LinkedHashMap.empty[String, StructField]
          translated.foreach { f =>
            dedup.get(f.name) match {
              case None => dedup(f.name) = f
              case Some(prev) =>
                val dt = (prev.dataType, f.dataType) match {
                  case (IntegerType, LongType) | (LongType, IntegerType) => LongType
                  case _ => prev.dataType
                }
                dedup(f.name) =
                  prev.copy(dataType = dt, nullable = prev.nullable || f.nullable)
            }
          }
          val merged = dedup.values.toSeq.map { f =>
            if (m.partitionBy.contains(f.name))
              m.schema.fields.find(_.name == f.name).getOrElse(f)
            else m.schema.fields.find(_.name == f.name) match {
              case Some(mf) if f.dataType == IntegerType &&
                mf.dataType == LongType => mf
              case _ => f
            }
          }
          val extras = m.schema.fields.filterNot(mf =>
            dedup.contains(mf.name))
          StructType(merged ++ extras)
        case None => inferred
      }
    DocStoreTable(p.toString, schema,
      marker.map(_.partitionBy).getOrElse(Nil),
      rowLevelMode = marker.map(_.rowLevel).getOrElse("cow"),
      renamedFrom = marker.map(_.withIds.renamedFrom).getOrElse(Map.empty))
  }
}

/** The `_schema.json` table marker: declared schema + partition
  * routing, written by CREATE TABLE so a declared-but-empty table has
  * a schema before its first write and a catalog write routes into
  * the declared partitions. Underscore-prefixed → invisible to every
  * listing. Serialized via StructType's own json round-trip. */
case class SchemaMarker(schema: StructType, partitionBy: Seq[String],
    rowLevel: String = "cow",
    // STABLE COLUMN IDs — what makes DROP/RENAME sound without field
    // ids in the files themselves: `nameMap` binds every name EVER
    // used to its column id (pre-rename files resolve through their
    // old name), `dropped` retires ids (old files' columns vanish
    // from reads), and a name is NEVER reused while any historical
    // binding holds it (the one ambiguity plain-parquet name mapping
    // cannot survive — Iceberg's name-mapping spec makes the same
    // call for id-less files).
    nameMap: Map[String, Int] = Map.empty,
    dropped: Set[Int] = Set.empty,
    nextId: Int = -1) {

  /** Pre-ID markers get ids assigned by schema position. */
  def withIds: SchemaMarker =
    if (nameMap.nonEmpty || schema.isEmpty) this
    else copy(nameMap = schema.fieldNames.zipWithIndex.toMap,
      nextId = schema.length)

  def currentNameOf(id: Int): Option[String] =
    schema.fieldNames.find(n => nameMap.get(n).contains(id))

  /** current name → older names of the same id (reader resolution). */
  def renamedFrom: Map[String, Seq[String]] =
    schema.fieldNames.toSeq.flatMap { n =>
      nameMap.get(n).map { id =>
        n -> nameMap.collect { case (o, i) if i == id && o != n => o }
          .toSeq.sorted
      }
    }.filter(_._2.nonEmpty).toMap
}

object SchemaMarker {
  private val FILE = "_schema.json"

  def write(fs: org.apache.hadoop.fs.FileSystem, dir: Path, m0: SchemaMarker): Unit = {
    val m = m0.withIds
    val nm = m.nameMap.toSeq.sortBy(_._2)
      .map { case (n, i) => "\"" + n + "\":" + i }.mkString("{", ",", "}")
    val out = fs.create(new Path(dir, FILE), true)
    try out.write(
      s"""{"partitionBy":${m.partitionBy.map(p => "\"" + p + "\"").mkString("[", ",", "]")},
         |"rowLevel":"${m.rowLevel}",
         |"nameMap":$nm,
         |"dropped":${m.dropped.toSeq.sorted.mkString("[", ",", "]")},
         |"nextId":${m.nextId},
         |"schema":${m.schema.json}}""".stripMargin.getBytes("UTF-8"))
    finally out.close()
  }

  def read(fs: org.apache.hadoop.fs.FileSystem, dir: Path): Option[SchemaMarker] = {
    val p = new Path(dir, FILE)
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    val text =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    // partitionBy is a flat string array; the schema is StructType json
    val pb = """"partitionBy"\s*:\s*\[([^\]]*)\]""".r
      .findFirstMatchIn(text).map(_.group(1)).getOrElse("")
    val cols = "\"([^\"]*)\"".r.findAllMatchIn(pb).map(_.group(1)).toSeq
    val rowLevel = """"rowLevel"\s*:\s*"(\w+)"""".r
      .findFirstMatchIn(text).map(_.group(1)).getOrElse("cow") // pre-r17 markers
    val nameMap = """"nameMap"\s*:\s*\{([^}]*)\}""".r
      .findFirstMatchIn(text).map(_.group(1)).map { body =>
        """"([^"]+)"\s*:\s*(\d+)""".r.findAllMatchIn(body)
          .map(m => m.group(1) -> m.group(2).toInt).toMap
      }.getOrElse(Map.empty[String, Int])
    val droppedIds = """"dropped"\s*:\s*\[([^\]]*)\]""".r
      .findFirstMatchIn(text).map(_.group(1)).map(
        _.split(",").map(_.trim).filter(_.nonEmpty).map(_.toInt).toSet)
      .getOrElse(Set.empty[Int])
    val nextId = """"nextId"\s*:\s*(-?\d+)""".r
      .findFirstMatchIn(text).map(_.group(1).toInt).getOrElse(-1)
    val schemaJson = text.substring(text.indexOf("\"schema\":") + 9).stripSuffix("}")
    Some(SchemaMarker(
      org.apache.spark.sql.types.DataType.fromJson(schemaJson).asInstanceOf[StructType],
      cols, rowLevel, nameMap, droppedIds, nextId).withIds)
  }
}
