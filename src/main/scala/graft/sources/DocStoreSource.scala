package graft.sources

import java.util.{Map => JMap}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.column.ParquetProperties
import org.apache.parquet.column.statistics.{IntStatistics, LongStatistics}
import org.apache.parquet.column.values.bloomfilter.BlockSplitBloomFilter
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate, Operators}
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetFileWriter, ParquetReader, ParquetWriter}
import org.apache.parquet.hadoop.api.{InitContext, ReadSupport, WriteSupport}
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.metadata.{BlockMetaData, CompressionCodecName}
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.example.data.{Group, GroupWriter}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.io.OutputFile
import org.apache.parquet.io.api.{Binary, RecordConsumer}
import org.apache.parquet.schema.{GroupType, LogicalTypeAnnotation, MessageType, PrimitiveType, Type, Types => PTypes}
import org.apache.parquet.schema.LogicalTypeAnnotation.{DateLogicalTypeAnnotation, ListLogicalTypeAnnotation, MapLogicalTypeAnnotation, StringLogicalTypeAnnotation, TimestampLogicalTypeAnnotation, TimeUnit}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, SpecializedGetters}
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.connector.catalog.{MetadataColumn, SupportsDelete, SupportsMetadataColumns, SupportsRead, SupportsRowLevelOperations, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, Count, CountStar, Max, Min}
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownLimit, SupportsPushDownRequiredColumns, SupportsPushDownTopN, SupportsReportStatistics, SupportsRuntimeFiltering}
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, MicroBatchStream, Offset, ReadAllAvailable, ReadLimit, ReadMaxFiles, SupportsTriggerAvailableNow}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.connector.read.{HasPartitionKey, SupportsReportPartitioning}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{NullOrdering, SortDirection, SortOrder => ConnSortOrder, Expression => ConnExpression}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, DeltaBatchWrite, DeltaWrite, DeltaWriteBuilder, DeltaWriter, DeltaWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RequiresDistributionAndOrdering, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, SupportsDelta, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** `docstore` — an in-repo DataSource V2 connector with the scan AND
  * sink contract of a document-store connector (the reference's
  * production read path is the MongoDB Spark connector; reference
  * main.py:288-299 ships the per-collection date range to the server
  * as `$gte`/`$lte` so mongod — not the client — drops out-of-range
  * documents; main.py:102-234 is the partitioned zstd parquet sink).
  * This source exercises those contracts against the harness fixtures
  * without a network:
  *
  *  - [[SupportsPushDownFilters]]: comparison/IN/IsNotNull predicates
  *    on flat columns cross the connector boundary and are evaluated
  *    by the "server" (parquet row-group statistics pruning + exact
  *    record-level filtering via `FilterApi`), never re-checked by
  *    Spark — `pushFilters` returns only genuinely unsupported
  *    predicates as residual, so a fully-pushed query plans with NO
  *    post-scan Filter node (ScaleSpec pins this). Equality/IN
  *    predicates on PARTITION columns (recovered from `k=v` directory
  *    segments, Hive layout) are also pushed and applied at PLANNING
  *    time: out-of-range partitions are never even listed as splits —
  *    the 100 TB partition-pruning path.
  *  - [[SupportsPushDownRequiredColumns]]: the projected column set —
  *    including NESTED struct subfields — is handed to the reader,
  *    which materializes ONLY those parquet columns (plus any
  *    filter-only columns, which are read for evaluation but never
  *    returned) — the document-store analogue of a Mongo projection
  *    document.
  *  - [[SupportsPushDownAggregates]]: ungrouped count(*) / count(col)
  *    / min / max are answered from row-group FOOTER STATISTICS —
  *    row counts, null counts and min/max live in the metadata, so a
  *    bare COUNT over a 100 TB store reads zero data pages (the way a
  *    real document store answers `countDocuments`). Pushed only when
  *    exactness is provable: no data filters (they invalidate
  *    row-group counts; planning-time partition filters are fine, the
  *    pruning is file-granular), no float/double min/max (NaN makes
  *    writer stats unreliable), no binary min/max (writers truncate
  *    long binary stats), and every row group of every file must
  *    actually carry the needed statistics — else the aggregate stays
  *    in Spark.
  *  - Splits: one [[InputPartition]] per parquet row group per file
  *    (a directory of files fans out across files AND row groups), so
  *    a 1000-executor cluster reads a 100 TB store with one task per
  *    row group — the same shape the Mongo connector produces with
  *    its SamplePartitioner.
  *  - [[SupportsWrite]]: a STAGED-COMMIT batch sink (reference A12
  *    through the same boundary A4/A5 cross) — tasks write zstd
  *    parquet into a per-query `_staging-<queryId>` directory
  *    (optionally routed into Hive `k=v` partition subdirectories via
  *    the `partitionBy` option), and only the driver-side job COMMIT
  *    moves files into the store; a failed or aborted job leaves the
  *    store untouched and its staging is deleted. Truncate-on-commit
  *    gives mode("overwrite") the same guarantee. The table declares
  *    ACCEPT_ANY_SCHEMA — document stores are schemaless; the writing
  *    query brings the schema, and a fresh (empty) store infers an
  *    empty one.
  *
  * Column types: BOOLEAN, INT32 (plain/DATE), INT64 (plain/TIMESTAMP
  * micros/millis/nanos), FLOAT, DOUBLE, BINARY (UTF8 string / plain),
  * plus NESTED structs, LIST arrays (standard 3-level and legacy
  * 2-level repeated) and MAPs, recursively — the reference's data
  * model is nested Mongo documents passed through whole (main.py:129;
  * subdocuments/arrays → struct/list). TIMESTAMP columns are
  * normalized to Spark's native µs at the reader (NANOS divides,
  * MILLIS multiplies — integer arithmetic, no float), so downstream
  * operators see one timestamp currency no matter what the store
  * holds, mirroring [[ParquetDirSource]]'s contract. Filters on
  * nested paths stay residual (Spark re-evaluates them post-scan);
  * only flat-column predicates are pushed. */
class DocStoreSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "docstore"

  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val base = DocStore.inferStoreSchema(DocStore.pathOf(options))
    // `changeFeed=true` STREAMING reads surface the change lineage as
    // REGULAR schema columns (reader-synthesized) — Spark's streaming
    // DSv2 path never prunes columns into the scan, so the batch-side
    // metadata-column mechanism can't deliver them to a stream; the
    // schema route works on both
    if (options.getBoolean("changeFeed", false)) {
      require(!base.fieldNames.exists(n =>
        n == "_change_type" || n == "_commit_version"),
        "docstore: changeFeed reserves _change_type/_commit_version but the " +
          "store carries a data column with that name")
      StructType(base.fields.toSeq ++ Seq(
        StructField("_change_type", StringType, nullable = false),
        StructField("_commit_version", LongType, nullable = false)))
    } else base
  }

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    DocStoreTable(DocStore.pathOf(opts), schema,
      mergeSchema = opts.getBoolean("mergeSchema", false))
  }
}

case class DocStoreTable(path: String, tableSchema: StructType,
    tablePartitionBy: Seq[String] = Nil,
    // pinned snapshot version (SQL `VERSION AS OF` through the catalog,
    // or the path API's versionAsOf read option): reads list that
    // manifest; writes/deletes against a pinned table are rejected by
    // Spark's own time-travel analysis
    versionAsOf: Option[Long] = None,
    // `mergeSchema=true` write option: the write brings a SAFELY
    // EVOLVED schema (snapshot stores only — validated in the write
    // builder against [[DocStore.reconcileSchemas]]); declares
    // ACCEPT_ANY_SCHEMA so Spark's by-name output resolution doesn't
    // reject the new columns up front
    mergeSchema: Boolean = false,
    // row-level-operation strategy, declared per table ("rowlevel"
    // table property): "cow" rewrites matched file groups (read-
    // optimized); "mor" writes deletion vectors + new files only
    // (write-optimized — Delta DV / Iceberg v2 position-delete
    // semantics). MoR requires a snapshot store; the first MoR commit
    // bootstraps snapshots if needed.
    rowLevelMode: String = "cow",
    // RENAME evolution (catalog tables): current name → older names of
    // the same column ID, so pre-rename files read under the new name
    renamedFrom: Map[String, Seq[String]] = Map.empty,
    // reads list only these absolute file paths (compaction reads its
    // bins through the scan); None = every file of the read version
    onlyFiles: Option[Set[String]] = None)
    extends Table with SupportsRead with SupportsWrite
    with SupportsDelete with SupportsRowLevelOperations
    with SupportsMetadataColumns {
  override def name(): String =
    s"docstore($path${versionAsOf.map(v => s"@v$v").getOrElse("")})"
  override def schema(): StructType = tableSchema

  /** Hidden lineage columns every CDC / debugging / audit workflow
    * selects: `_file` (the source file's path — split-constant, costs
    * nothing) and `_pos` (the row's 0-based position within that file
    * — parquet's own row index, which counts the rows its filters
    * skip, still zero extra I/O). Hidden per the DSv2 contract: they join the scan
    * output only when explicitly referenced, so an unadorned
    * `SELECT *` — and every existing plan — is byte-identical with or
    * without them (DocStoreSpec pins the no-cost property). A data
    * column with the same name shadows the metadata column (Spark's
    * standard conflict rule). */
  override def metadataColumns(): Array[MetadataColumn] = Array(
    new MetadataColumn {
      override def name: String = "_file"
      override def dataType: DataType = StringType
      override def isNullable: Boolean = false
      override def comment: String = "path of the parquet file this row came from"
    },
    new MetadataColumn {
      override def name: String = "_pos"
      override def dataType: DataType = LongType
      override def isNullable: Boolean = false
      override def comment: String = "0-based row position within the source file"
    },
    new MetadataColumn {
      override def name: String = "_change_type"
      override def dataType: DataType = StringType
      override def isNullable: Boolean = false
      override def comment: String =
        "insert | delete — how this row changed (streaming change feed; " +
          "batch reads always see insert)"
    },
    new MetadataColumn {
      override def name: String = "_commit_version"
      override def dataType: DataType = LongType
      override def isNullable: Boolean = true
      override def comment: String =
        "snapshot version that committed this row's file (null on plain stores)"
    })
  /** Catalog-declared partitioning (CREATE TABLE … PARTITIONED BY):
    * reported to Spark and used as the sink's default routing when a
    * write doesn't pass its own `partitionBy` option. */
  override def partitioning(): Array[Transform] =
    tablePartitionBy.map(c => Expressions.identity(c)).toArray
  override def capabilities(): java.util.Set[TableCapability] = {
    val caps = java.util.EnumSet.of(
      TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE,
      TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE)
    // Document stores are schemaless, so a FRESH store accepts whatever
    // schema the first write brings. Once a schema exists (file footers
    // or a catalog-declared marker), writes go through Spark's normal
    // output resolution instead — which is what aligns an INSERT's
    // positional VALUES columns (col1…colN, uncast) to the table's
    // names and types; ACCEPT_ANY_SCHEMA would skip that and corrupt
    // the written field names.
    if (tableSchema.isEmpty || mergeSchema) caps.add(TableCapability.ACCEPT_ANY_SCHEMA)
    caps
  }
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new DocStoreScanBuilder(path, tableSchema,
      DocStore.streamOptsOf(options),
      Option(options.get("versionAsOf")).map(_.trim.toLong)
        .orElse(Option(options.get("timestampAsOf"))
          .map(ts => DocStore.versionAtTimestamp(path, ts.trim)))
        .orElse(Option(options.get("branch"))
          .map(b => DocStore.refVersion(path, b.trim)))
        .orElse(Option(options.get("tag"))
          .map(t => DocStore.tagVersion(path, t.trim)))
        .orElse(versionAsOf),
      renamedFrom, onlyFiles)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new DocStoreWriteBuilder(path, info, tablePartitionBy, tableSchema,
      onlyFiles, versionAsOf)

  /** The store's effective partition routing: catalog-declared keys
    * when present, else whatever the directory layout carries. */
  private def effectivePartitionBy: Seq[String] =
    if (tablePartitionBy.nonEmpty) tablePartitionBy
    else DocStore.listFilesWithPartitions(path)
      .headOption.map(_._2.map(_._1)).getOrElse(Nil)

  // ---- metadata-only DELETE (file drops, zero rewrite) ----

  /** A delete is answerable from metadata alone iff every conjunct is
    * a PARTITION predicate in an exactly-evaluable form — partition
    * values are exact per file, so dropping the matching files deletes
    * exactly the matching rows and reads nothing. Anything else
    * (data-column predicates, unconvertible forms) falls through to
    * the copy-on-write rewrite below. Probed against a representative
    * partition-value map so an unknown column or operator refuses the
    * metadata path up front. */
  override def canDeleteWhere(filters: Array[Filter]): Boolean = {
    val partCols = effectivePartitionBy.toSet
    val probe = partCols.map(_ -> "0").toMap
    // ordered comparisons evaluate lexicographically on the directory
    // text — exact only for STRING partition columns (a typed catalog
    // column like year INT would compare "9" > "10"); equality/IN are
    // exact for every type via the canonical text form
    def orderedOk(f: Filter): Boolean = f match {
      case GreaterThan(c, _) => strTyped(c)
      case GreaterThanOrEqual(c, _) => strTyped(c)
      case LessThan(c, _) => strTyped(c)
      case LessThanOrEqual(c, _) => strTyped(c)
      case And(l, r) => orderedOk(l) && orderedOk(r)
      case Or(l, r) => orderedOk(l) && orderedOk(r)
      case Not(i) => orderedOk(i)
      case _ => true
    }
    def strTyped(c: String): Boolean =
      tableSchema.fields.find(_.name == c).forall(_.dataType == StringType)
    filters.forall(f => DocStore.isPartitionFilter(f, partCols) &&
      orderedOk(f) && DocStore.partitionFilterEval(probe, f).isDefined)
  }

  override def deleteWhere(filters: Array[Filter]): Unit = {
    val matched = DocStore
      .listFilesWithPartitions(path)
      .filter { case (_, pv) =>
        // delete a file only when the predicate is DEFINITELY TRUE on
        // its partition values — SQL three-valued semantics, so a NULL
        // comparison never deletes
        val m = pv.toMap
        filters.forall(f =>
          DocStore.partitionFilterEval(m, f).contains(Some(true)))
      }
    if (DocStore.snapshotEnabled(path)) {
      // snapshot store: the delete is ONE manifest swap — atomic, and
      // the dropped partitions stay readable at older versions until a
      // vacuum reclaims the files
      val drop = matched.map { case (f, _) => DocStore.relOf(path, f) }.toSet
      DocStore.commitSnapshot(path, op = "delete")(_.filterNot(drop)): Unit
      return
    }
    val fsys = new Path(path).getFileSystem(DocStore.hadoopConf)
    matched.foreach { case (f, _) => DocStore.retireFile(fsys, new Path(f)) }
  }

  // ---- group-based copy-on-write row-level operations ----

  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder =
    () =>
      if (rowLevelMode == "mor")
        new DocStoreDeltaOperation(path, tableSchema,
          effectivePartitionBy, info.command(), renamedFrom)
      else
        new DocStoreRowLevelOperation(path, tableSchema,
          effectivePartitionBy, info.command(), renamedFrom)
}

/** Receives Spark's pushdown calls. `pushFilters` partitions the
  * predicate set into server-evaluable (kept, returned by
  * `pushedFilters`, applied exactly by the reader or — for partition
  * columns — by planning-time split pruning) and residual (returned to
  * Spark for post-scan evaluation). `pruneColumns` records the
  * (possibly nested-pruned) projection. `pushAggregation` swaps the
  * scan for a metadata-only statistics scan when exactness is
  * provable. */
class DocStoreScanBuilder(path: String, tableSchema: StructType,
    streamOpts: DocStore.StreamOpts = DocStore.StreamOpts(),
    versionAsOf: Option[Long] = None,
    renames: Map[String, Seq[String]] = Map.empty,
    onlyFiles: Option[Set[String]] = None)
    extends ScanBuilder
    with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates
    with SupportsPushDownLimit
    with SupportsPushDownTopN {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = tableSchema
  private var aggSpecs: Option[(Seq[String], Seq[DocStore.AggSpec], StructType)] = None
  // manifest stats backing an accepted aggregate (file → stat):
  // non-empty ⇒ the agg scan answers with ZERO footer reads
  private var aggStats: Map[String, DocStore.FileStat] = Map.empty
  private var limit: Option[Int] = None
  private var topN: Option[(Seq[String], Boolean, Int)] = None // (cols, desc, k)

  /** PARTIAL top-N pushdown: `ORDER BY key LIMIT k` over a store whose
    * row groups carry min/max on the sort key — the read-side payoff
    * of the clustered sink's disjoint row-group stats (A12's layout
    * work). The footer extrema give an exact k-covering threshold: row
    * groups that provably cannot hold any of the top-k rows are never
    * planned as splits, so `ORDER BY ts DESC LIMIT 100` over a 100 TB
    * time-clustered store plans a handful of tasks instead of one per
    * row group. Exactness guards mirror the min/max aggregate
    * pushdown: single sort key, integer-backed stat order (int/long/
    * date/timestamp — float NaN and truncated binary stats refuse),
    * Spark's default null orderings only (ASC NULLS FIRST / DESC
    * NULLS LAST — footers count nulls but don't order them, so the
    * bound must place nulls at a known end), no pushed data filters
    * (they'd re-rank survivors), and every row group of every
    * surviving file must carry the stats. Always partial: Spark keeps
    * its TakeOrderedAndProject, so this can only shrink the scan,
    * never change a result. */
  override def pushTopN(orders: Array[ConnSortOrder], k: Int): Boolean = {
    if (orders.isEmpty || k <= 0) return false
    val colOpts = orders.toSeq.map(_.expression() match {
      case nr: NamedReference if nr.fieldNames().length == 1 =>
        Some(nr.fieldNames()(0))
      case _ => None
    })
    if (colOpts.exists(_.isEmpty)) return false
    val cols = colOpts.flatten
    val dirOpts = orders.toSeq.map(o => (o.direction(), o.nullOrdering()) match {
      case (SortDirection.ASCENDING, NullOrdering.NULLS_FIRST) => Some(false)
      case (SortDirection.DESCENDING, NullOrdering.NULLS_LAST) => Some(true)
      case _ => None
    })
    // MULTI-COLUMN orderings bound lexicographically: per-column
    // extrema bound every row's tuple ([mins…] ≤ row ≤ [maxs…],
    // because each component is bounded independently) — the natural
    // clustered-store query being `ORDER BY <prefix of the sink's
    // sortBy> LIMIT k`. Sound only when all keys sort the SAME
    // direction (mixed directions break the tuple bound) and, beyond
    // one key, every key column is NULL-FREE in every row group
    // (footers count nulls but can't order null tuples).
    if (dirOpts.exists(_.isEmpty) || dirOpts.flatten.distinct.length != 1)
      return false
    val desc = dirOpts.head.get
    if (cols.exists(c => !statTypeOk(c, needOrder = true))) return false
    if (pushed.exists(f => !DocStore.isPartitionFilter(f, partCols))) return false
    // every row group of every surviving file must carry usable stats
    val files = DocStore.pruneListing(listing, pushed).map(_._1)
    val ok = files.nonEmpty && files.forall { f =>
      DocStore.footerBlocks(f).forall { b =>
        cols.forall { col =>
          b.getColumns.asScala.find(_.getPath.toDotString == col).exists { m =>
            val st = m.getStatistics
            st != null && !st.isEmpty && st.isNumNullsSet &&
              (st.hasNonNullValue || st.getNumNulls == b.getRowCount) &&
              (st.isInstanceOf[IntStatistics] || st.isInstanceOf[LongStatistics]) &&
              (cols.length == 1 || st.getNumNulls == 0L)
          }
        }
      }
    }
    if (!ok) return false
    topN = Some((cols, desc, k))
    true
  }

  /** PARTIAL limit pushdown: with no pushed DATA filters, footer row
    * counts bound exactly how many row groups can contribute to the
    * first `n` rows — split planning stops listing partitions once the
    * cumulative row count covers the limit, so `LIMIT 10` over a
    * 100 TB store plans ~one task instead of one per row group.
    * Partition-only filters compose (pruning happens before counting);
    * any pushed data filter makes footer counts an over-estimate of
    * nothing useful — the limit is refused and Spark keeps its own.
    * Always partial: Spark's Limit stays on top either way, so this
    * can never change a result, only the partition count. */
  override def pushLimit(n: Int): Boolean = {
    val dataFiltered = pushed.exists(f => !DocStore.isPartitionFilter(f, partCols))
    if (dataFiltered) false
    else { limit = Some(n); true }
  }

  override def isPartiallyPushed(): Boolean = true

  // one dir walk (or manifest read), cached for the builder's lifetime
  private lazy val listing = DocStore.listFilesWithPartitions(path, versionAsOf, onlyFiles)
  private lazy val partCols: Set[String] =
    DocStore.partColsOf(listing).toSet

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // a filter is pushable only if the server can evaluate it EXACTLY
    // (same null semantics, same comparison order) — anything else
    // stays Spark-side; never push "approximately". changeFeed's
    // synthetic lineage columns are reader-constants, not stored data:
    // filters on them stay Spark-side.
    val synthetic: Set[String] =
      if (streamOpts.changeFeed) Set("_change_type", "_commit_version")
      else Set.empty
    val (ok, residual) =
      filters.partition(f => f.references.forall(!synthetic.contains(_)) &&
        DocStore.pushable(f, tableSchema, partCols))
    pushed = ok
    residual
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    // with an aggregate pushed the scan's output IS the agg schema;
    // the prune call (if any) refers to synthetic agg columns
    if (aggSpecs.isEmpty) required = requiredSchema

  /** Partial aggregate pushdown from row-group footer statistics. The
    * scan emits one pre-aggregated row per file; Spark runs the final
    * merge (sum of counts, min of mins, max of maxes). GROUP BY is
    * pushed when every grouping expression is a PARTITION column: the
    * group values come from the `k=v` directory layout, so each
    * per-file row carries its directory's values and a
    * `GROUP BY year` over a Hive-partitioned 100 TB store still reads
    * ZERO data pages — footers only. Any non-partition grouping
    * refuses pushdown (footer stats can't group by data values).
    * Refused unless every value is provably exact — see the class
    * doc. */
  override def pushAggregation(agg: Aggregation): Boolean = {
    // deletion vectors invalidate footer statistics (counts include
    // deleted rows; a min/max row may be deleted) — the aggregate
    // stays in Spark and the scan applies the DVs row-side
    if (DocStore.dvMap(path, versionAsOf).nonEmpty) return false
    // the statistics scan answers for the whole read version
    if (onlyFiles.isDefined) return false
    val grpRefs = agg.groupByExpressions.toSeq.map(e =>
      DocStore.flatRef(e).filter(partCols))
    if (grpRefs.exists(_.isEmpty)) return false
    val grpCols = grpRefs.flatten
    // data filters invalidate row-group counts; partition filters are
    // applied at file granularity BEFORE footers are read, so they
    // compose with statistics exactly
    if (pushed.exists(f => !DocStore.isPartitionFilter(f, partCols))) return false
    val specs = agg.aggregateExpressions.toSeq.map {
      case _: CountStar => Some(DocStore.CountStarSpec)
      case c: Count if !c.isDistinct =>
        DocStore.flatRef(c.column).filter(statTypeOk(_, needOrder = false))
          .map(DocStore.CountColSpec)
      case m: Min =>
        DocStore.flatRef(m.column).filter(statTypeOk(_, needOrder = true))
          .map(DocStore.MinSpec)
      case m: Max =>
        DocStore.flatRef(m.column).filter(statTypeOk(_, needOrder = true))
          .map(DocStore.MaxSpec)
      case _ => None
    }
    if (specs.exists(_.isEmpty)) return false
    val flat = specs.flatten
    val statCols = flat.collect {
      case DocStore.CountColSpec(c) => c
      case DocStore.MinSpec(c) => c
      case DocStore.MaxSpec(c) => c
    }.distinct
    val nullCols = flat.collect { case DocStore.CountColSpec(c) => c }.toSet
    // every (partition-surviving) file must carry the needed
    // statistics, or the whole aggregate stays in Spark. On a
    // snapshot store with manifest-embedded stats the check — and
    // later the ANSWER — reads zero footers: a stat entry exists only
    // when every row group's footer stats were complete at commit.
    val files = DocStore.pruneListing(listing, pushed).map(_._1)
    val mStats = DocStore.manifestStats(path, versionAsOf)
    val statsAnswer: Map[String, DocStore.FileStat] =
      if (mStats.isEmpty) Map.empty
      else {
        val byFile = files.flatMap { f =>
          mStats.get(DocStore.relOf(path, f))
            .filter(st => statCols.forall(st.cols.contains))
            .map(f -> _)
        }.toMap
        if (byFile.size == files.size) byFile else Map.empty
      }
    val ok = statsAnswer.nonEmpty || files.isEmpty || files.forall { f =>
      DocStore.footerBlocks(f).forall { b =>
        statCols.forall { c =>
          b.getColumns.asScala.find(_.getPath.toDotString == c).exists { m =>
            val st = m.getStatistics
            st != null && !st.isEmpty && (!nullCols(c) || st.isNumNullsSet)
          }
        }
      }
    }
    if (!ok) return false
    aggStats = statsAnswer
    // scan output layout (Spark's partial-pushdown contract): grouping
    // columns FIRST — typed as the table declares them (partition
    // columns are StringType) — then one field per aggregate
    val grpFields = grpCols.map(c => StructField(c, tableSchema(c).dataType))
    val fields = flat.map {
      case DocStore.CountStarSpec => StructField("count(*)", LongType, nullable = false)
      case DocStore.CountColSpec(c) => StructField(s"count($c)", LongType, nullable = false)
      case DocStore.MinSpec(c) => StructField(s"min($c)", tableSchema(c).dataType, nullable = true)
      case DocStore.MaxSpec(c) => StructField(s"max($c)", tableSchema(c).dataType, nullable = true)
    }
    aggSpecs = Some((grpCols, flat, StructType(grpFields ++ fields)))
    true
  }

  /** min/max need a stats order that matches Spark's: exact for the
    * integer-backed types (INT32/INT64, date, timestamp); NOT for
    * float/double (NaN breaks writer stats) or strings (writers
    * truncate long binary stats). count(col) only needs null counts,
    * so any flat supported type qualifies. */
  private def statTypeOk(c: String, needOrder: Boolean): Boolean =
    !partCols(c) && tableSchema.fieldNames.contains(c) &&
      (tableSchema(c).dataType match {
        case IntegerType | LongType | DateType | TimestampType | TimestampNTZType => true
        case BooleanType | FloatType | DoubleType | StringType | BinaryType => !needOrder
        case _ => false
      })

  override def build(): Scan = aggSpecs match {
    case Some((grpCols, specs, schema)) =>
      DocStoreAggScan(path, schema, grpCols, specs, pushed, versionAsOf, aggStats)
    case None =>
      DocStoreScan(path, tableSchema, required, pushed, streamOpts,
        limitHint = limit, topNHint = topN, versionAsOf = versionAsOf,
        renames = renames, onlyFiles = onlyFiles)
  }
}

/** The scan: fixed (path, projection, pushed predicates). Split
  * planning reads each file's footer once on the driver — the same
  * O(files) metadata pass every parquet-backed connector does — and
  * emits one partition per row group. Partition-column predicates
  * prune whole files here, before any footer is read. */
case class DocStoreScan(
    path: String,
    tableSchema: StructType,
    required: StructType,
    pushed: Array[Filter],
    streamOpts: DocStore.StreamOpts = DocStore.StreamOpts(),
    groupFilterOnly: Boolean = false,
    limitHint: Option[Int] = None,
    topNHint: Option[(Seq[String], Boolean, Int)] = None,
    versionAsOf: Option[Long] = None,
    // RENAME evolution: current column name → its older names (column
    // IDs resolved through the catalog's schema marker) — the reader
    // resolves each file's physical column through this chain
    renames: Map[String, Seq[String]] = Map.empty,
    onlyFiles: Option[Set[String]] = None)
    extends Scan with Batch
    with SupportsReportStatistics with SupportsRuntimeFiltering
    with SupportsReportPartitioning {

  @transient private lazy val listing =
    DocStore.listFilesWithPartitions(path, versionAsOf, onlyFiles)
  @transient private lazy val partColsOrdered: Seq[String] =
    DocStore.partColsOf(listing)
  @transient private lazy val partCols: Set[String] = partColsOrdered.toSet
  // partition EVOLUTION leaves mixed layouts in one store; key-grouped
  // guarantees only hold while every file shares the SAME key list
  @transient private lazy val uniformLayout: Boolean =
    listing.forall(_._2.map(_._1) == partColsOrdered)
  // deletion-vector bindings at the read version (merge-on-read) — a
  // copy-on-write commit checks the files it retires against them
  @transient lazy val dvByRel: Map[String, String] =
    DocStore.dvMap(path, versionAsOf)
  // manifest-embedded per-file statistics at the read version:
  // data-filter file skipping answers from these WITHOUT opening the
  // skipped file's footer (plain stores: empty → footer paths as ever)
  @transient private lazy val statByRel: Map[String, DocStore.FileStat] =
    DocStore.manifestStats(path, versionAsOf)

  /** Files surviving partition pruning AND manifest-stat skipping for
    * `filters` — a skipped file costs zero footer reads. */
  private def statPrune(
      listed: Seq[(String, Seq[(String, String)])],
      filters: Array[Filter]): Seq[(String, Seq[(String, String)])] = {
    val dataFilters = filters.filterNot(f =>
      DocStore.isPartitionFilter(f, partCols)).toSeq
    if (dataFilters.isEmpty || statByRel.isEmpty) listed
    else listed.filter { case (f, _) =>
      statByRel.get(DocStore.relOf(path, f))
        .forall(st => DocStore.statsMayMatch(dataFilters, st, tableSchema))
    }
  }

  /** Storage-partitioned-join contract: a Hive-partitioned store
    * reports KeyGroupedPartitioning over its directory keys, so two
    * stores partitioned the same way join with ZERO exchanges (under
    * `spark.sql.sources.v2.bucketing.enabled`, Spark groups this
    * scan's row-group splits by [[DocStorePartition.partitionKey]] and
    * EnsureRequirements recognizes the two sides as co-partitioned) —
    * at 100 TB this deletes the largest shuffle a fact-fact join has.
    * Reported only when every partition column survives projection:
    * Spark resolves the key expressions against the scan OUTPUT. */
  override def outputPartitioning(): Partitioning =
    if (partColsOrdered.nonEmpty && uniformLayout &&
      partColsOrdered.forall(required.fieldNames.contains)) {
      val n = DocStore.pruneListing(listing, allPushed)
        .map(_._2.map(_._2)).distinct.size
      new KeyGroupedPartitioning(
        partColsOrdered.map(c =>
          Expressions.identity(c).asInstanceOf[
            org.apache.spark.sql.connector.expressions.Expression]).toArray,
        n)
    } else new UnknownPartitioning(0)

  /** Runtime (DPP-style) filters Spark delivers AFTER a join's build
    * side materializes — join-key IN-sets. Partition-column sets prune
    * whole files before any footer is read (the connector analogue of
    * shard targeting); flat data-column sets ride the same exact
    * FilterApi path as planned filters (row-group stats pruning +
    * record-level evaluation). Runtime filtering is an optimization
    * contract — the join re-checks keys — but everything accepted here
    * is applied exactly anyway. */
  @transient private var runtime: Array[Filter] = Array.empty

  override def filterAttributes(): Array[NamedReference] = {
    // only columns in the scan's OUTPUT qualify — Spark resolves these
    // against readSchema at planning and errors on anything pruned away.
    // A row-level-operation scan (groupFilterOnly) reports PARTITION
    // columns only: its runtime filter determines which GROUPS (files)
    // get rewritten, and a data-column filter applied exactly would
    // drop keep-rows of an affected file — silent data loss on commit.
    val flat = required.fields.map(_.name).filter(n =>
      if (groupFilterOnly) partCols(n)
      else partCols(n) || DocStore.pushable(IsNotNull(n), tableSchema, partCols))
    flat.map(n => Expressions.column(n))
  }

  override def filter(filters: Array[Filter]): Unit =
    runtime = filters.filter { f =>
      (!groupFilterOnly || DocStore.isPartitionFilter(f, partCols)) &&
      DocStore.pushable(f, tableSchema, partCols) && (f match {
        // a runtime IN-set over DATA columns becomes an or-of-equals
        // record predicate — cap its width so a multi-million-key
        // build side can't inflate every row-group read (partition
        // IN-sets are file-granular and stay unbounded)
        case In(_, vs) =>
          DocStore.isPartitionFilter(f, partCols) || vs.length <= 1000
        case _ => true
      })
    }

  /** The files this scan reads AFTER all pruning (planned + runtime
    * partition filters) — for a row-level operation these are exactly
    * the groups its commit replaces. Evaluated at call time so a
    * commit sees the post-runtime-filter set. */
  def currentFiles: Seq[String] =
    DocStore.pruneListing(listing, allPushed).map(_._1)

  private def allPushed: Array[Filter] = pushed ++ runtime

  override def readSchema(): StructType = required

  override def toBatch: Batch = this

  /** Footer-derived estimates so Catalyst's cost decisions work across
    * the connector boundary: without them a DSv2 scan reports the
    * conf-default "infinite" size and a connector-read dimension table
    * never broadcasts — at 100 TB that's a full shuffle of the fact
    * side where a BroadcastHashJoin was free. Rows = Σ row-group
    * counts after PLANNING-TIME partition pruning; bytes = Σ the
    * PROJECTED columns' uncompressed chunk sizes (so pruning columns
    * shrinks the estimate exactly as it shrinks the read). Data-filter
    * selectivity is unknown here, so estimates are the exact
    * post-partition-pruning upper bound — conservative, never
    * broadcast-happy. */
  override def estimateStatistics(): Statistics = {
    val files = statPrune(DocStore.pruneListing(listing, pushed), pushed).map(_._1)
    val wanted = required.fieldNames.filterNot(partCols).toSet
    // single-file stores (path IS one .parquet) have no rel form and
    // never carry manifest stats — guard before any relOf
    val rels =
      if (statByRel.isEmpty) Nil
      else files.map(f => f -> DocStore.relOf(path, f))
    // MANIFEST-BACKED estimates: when every surviving file carries a
    // v2 stat line (per-column bytes), rows/bytes AND per-column
    // statistics answer without a single footer read — the CBO face
    // of metadata-only planning. Per-column NDV (HLL, measured by the
    // writer) sums across files capped at the live row count, so a
    // dimension table's join key reports a credible distinct count
    // and Spark's cost rules see data, not conf defaults.
    val statBacked = rels.nonEmpty &&
      rels.forall { case (_, r) =>
        statByRel.get(r).exists(st =>
          st.cols.nonEmpty && st.cols.values.forall(_.bytes.isDefined))
      }
    if (statBacked) {
      var rows = 0L
      var bytes = 0L
      rels.foreach { case (_, r) =>
        val st = statByRel(r)
        rows += st.rows
        st.cols.foreach { case (n, c) =>
          if (wanted.isEmpty || wanted.contains(n)) bytes += c.bytes.getOrElse(0L)
        }
        dvByRel.get(r).foreach { dvRel =>
          rows -= DocStore.dvCardinality(new Path(path, dvRel).toString)
        }
      }
      val (rC, sC) = (math.max(rows, 0L), math.max(bytes, 1L))
      val colNames =
        if (wanted.nonEmpty) wanted
        else rels.flatMap(t => statByRel(t._2).cols.keys).toSet
      val colStats = new java.util.HashMap[NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
      colNames.foreach { n =>
        val per = rels.flatMap(t => statByRel(t._2).cols.get(n))
        if (per.nonEmpty) {
          val nulls = per.map(_.nulls).sum
          val ndvs = per.flatMap(_.ndv)
          colStats.put(Expressions.column(n),
            new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
              override def nullCount(): java.util.OptionalLong =
                java.util.OptionalLong.of(nulls)
              override def distinctCount(): java.util.OptionalLong =
                if (ndvs.isEmpty) java.util.OptionalLong.empty()
                else java.util.OptionalLong.of(
                  math.max(1L, math.min(ndvs.sum, math.max(rC, 1L))))
            })
        }
      }
      return new Statistics {
        override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(sC)
        override def numRows(): java.util.OptionalLong = java.util.OptionalLong.of(rC)
        override def columnStats(): java.util.Map[NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = colStats
      }
    }
    var rows = 0L
    var bytes = 0L
    files.foreach { f =>
      DocStore.footerBlocks(f).foreach { b =>
        rows += b.getRowCount
        b.getColumns.asScala.foreach { c =>
          if (wanted.isEmpty || wanted.contains(c.getPath.toDotString.split("\\.")(0)))
            bytes += c.getTotalUncompressedSize
        }
      }
      // deletion vectors shrink the live row count; their cardinality
      // is a 12-byte header read, so the estimate stays exact
      if (dvByRel.nonEmpty)
        dvByRel.get(DocStore.relOf(path, f)).foreach { dvRel =>
          rows -= DocStore.dvCardinality(new Path(path, dvRel).toString)
        }
    }
    val (r, s) = (math.max(rows, 0L), math.max(bytes, 1L))
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(s)
      override def numRows(): java.util.OptionalLong = java.util.OptionalLong.of(r)
    }
  }

  override def description(): String =
    s"DocStoreScan path=$path, " +
      s"PushedFilters: [${pushed.mkString(", ")}], " +
      topNHint.map { case (cs, d, k) =>
        s"PushedTopN: [ORDER BY ${cs.mkString(", ")} " +
          s"${if (d) "DESC" else "ASC"} LIMIT $k], "
      }.getOrElse("") +
      s"ReadSchema: ${required.catalogString}"

  /** Footer digest of one row group for the top-N bound: null rows
    * counted separately (they sort at a KNOWN end under the accepted
    * orderings), extrema normalized to a comparison-stable long. */
  private def topNStats(
      col: String,
      files: Seq[String]): Option[Seq[(String, Long, Long, Long, Option[(Long, Long)])]] = {
    val out = ArrayBuffer.empty[(String, Long, Long, Long, Option[(Long, Long)])]
    files.foreach { f =>
      // a file can have been replaced since pushTopN acceptance — one
      // now lacking the sort key disables pruning, it doesn't throw
      if (!DocStore.fileSchema(f).containsField(col)) return None
      // timestamp units can differ per file; min/max commute with the
      // monotone unit change, so normalize to µs like the agg scan
      val norm: Long => Long =
        DocStore.fileSchema(f).getType(Seq(col): _*).asPrimitiveType()
          .getLogicalTypeAnnotation match {
          case t: TimestampLogicalTypeAnnotation => t.getUnit match {
            case TimeUnit.NANOS => v => Math.floorDiv(v, 1000L)
            case TimeUnit.MILLIS => v => Math.multiplyExact(v, 1000L)
            case _ => identity
          }
          case _ => identity
        }
      DocStore.footerBlocks(f).foreach { b =>
        val st = b.getColumns.asScala.find(_.getPath.toDotString == col)
          .map(_.getStatistics).orNull
        val mm = st match {
          case s: IntStatistics if s.hasNonNullValue =>
            Some((norm(s.getMin.toLong), norm(s.getMax.toLong)))
          case s: LongStatistics if s.hasNonNullValue =>
            Some((norm(s.getMin), norm(s.getMax)))
          case _ => None
        }
        if (st == null || st.isEmpty || !st.isNumNullsSet ||
          (mm.isEmpty && st.getNumNulls < b.getRowCount))
          return None // stats incomplete at plan time → no pruning
        out += ((f, b.getStartingPos, b.getRowCount, st.getNumNulls, mm))
      }
    }
    Some(out.toSeq)
  }

  /** Footer digest for the MULTI-KEY top-N bound: per row group, the
    * per-column minima and maxima as lexicographic tuple bounds.
    * Pushdown already verified every key column is null-free in every
    * row group; empty row groups contribute nothing and are skipped
    * (so they prune). Incomplete stats at plan time → None (a file
    * can have been replaced since acceptance). */
  private def topNStatsMulti(cols: Seq[String], files: Seq[String])
      : Option[Seq[(String, Long, Long, Seq[Long], Seq[Long])]] = {
    val out = ArrayBuffer.empty[(String, Long, Long, Seq[Long], Seq[Long])]
    files.foreach { f =>
      // replaced-since-acceptance guard, as in [[topNStats]]
      if (cols.exists(c => !DocStore.fileSchema(f).containsField(c))) return None
      val norms: Seq[Long => Long] = cols.map { col =>
        DocStore.fileSchema(f).getType(Seq(col): _*).asPrimitiveType()
          .getLogicalTypeAnnotation match {
          case t: TimestampLogicalTypeAnnotation => t.getUnit match {
            case TimeUnit.NANOS => (v: Long) => Math.floorDiv(v, 1000L)
            case TimeUnit.MILLIS => (v: Long) => Math.multiplyExact(v, 1000L)
            case _ => identity[Long] _
          }
          case _ => identity[Long] _
        }
      }
      DocStore.footerBlocks(f).foreach { b =>
        if (b.getRowCount > 0L) {
          val mms = cols.zip(norms).map { case (col, norm) =>
            b.getColumns.asScala.find(_.getPath.toDotString == col)
              .map(_.getStatistics).orNull match {
              case s: IntStatistics if s.hasNonNullValue &&
                s.isNumNullsSet && s.getNumNulls == 0L =>
                Some((norm(s.getMin.toLong), norm(s.getMax.toLong)))
              case s: LongStatistics if s.hasNonNullValue &&
                s.isNumNullsSet && s.getNumNulls == 0L =>
                Some((norm(s.getMin), norm(s.getMax)))
              case _ => None
            }
          }
          if (mms.exists(_.isEmpty)) return None
          out += ((f, b.getStartingPos, b.getRowCount,
            mms.map(_.get._1), mms.map(_.get._2)))
        }
      }
    }
    Some(out.toSeq)
  }

  override def planInputPartitions(): Array[InputPartition] = {
    require(!streamOpts.changeFeed,
      "docstore: changeFeed is a STREAMING read option — for batch change " +
        "reads use graft.sources.DocStoreChanges.changes(spark, path, from, to)")
    val types = partColsOrdered.map(c =>
      tableSchema.fields.find(_.name == c).map(_.dataType).getOrElse(StringType))
    // the pushed-limit / top-N row-group bounds hold only while NO
    // data filter can drop rows (runtime filters arrive after the
    // pushdown was accepted), while the scan doesn't report
    // key-grouped partitioning (dropping row groups could contradict
    // the declared group count), and while NO deletion vector is in
    // force (footer row counts over-count DV'd files, so a "covering"
    // row-group set might not actually cover k rows)
    val boundsOk =
      !allPushed.exists(f => !DocStore.isPartitionFilter(f, partCols)) &&
        !outputPartitioning().isInstanceOf[KeyGroupedPartitioning] &&
        dvByRel.isEmpty
    val lim = limitHint.filter(_ => boundsOk)
    val pruned = statPrune(DocStore.pruneListing(listing, allPushed), allPushed)
    val keep: ((String, Long)) => Boolean =
      topNHint.filter(_ => boundsOk)
        .flatMap { case (cs, desc, k) =>
          if (cs.length == 1)
            topNStats(cs.head, pruned.map(_._1))
              .flatMap(st => DocStore.topNKeepSet(st, desc, k))
          else
            topNStatsMulti(cs, pruned.map(_._1))
              .flatMap(st => DocStore.topNKeepSetMulti(st, desc, k))
        } match {
        case Some(set) => set.contains _
        case None => _ => true
      }
    // `_commit_version` lineage for batch reads: the first snapshot
    // that contained each file — computed only when the projection
    // actually asks for it (one pass over the retained manifests)
    val verByRel: Map[String, Long] =
      if (!required.fieldNames.contains("_commit_version") ||
        tableSchema.fieldNames.contains("_commit_version") ||
        !DocStore.snapshotEnabled(path)) Map.empty
      else {
        val out = scala.collection.mutable.Map.empty[String, Long]
        DocStore.snapshotVersions(path).sorted.foreach { v =>
          DocStore.readManifest(path, v).foreach(_.foreach { r =>
            if (!out.contains(r)) out(r) = v
          })
        }
        out.toMap
      }
    val parts = ArrayBuffer.empty[InputPartition]
    var covered = 0L
    pruned.foreach { case (f, pv) =>
      // store-relative name only where a manifest consumer needs it —
      // single-FILE stores (path = one .parquet) have no rel form
      lazy val rel = DocStore.relOf(path, f)
      val ver =
        if (verByRel.isEmpty) -1L
        else verByRel.getOrElse(rel, -1L)
      // merge-on-read: the file's deletion vector (if the read
      // version binds one) rides every split — the reader skips the
      // listed positions
      val dv =
        if (dvByRel.isEmpty) None
        else dvByRel.get(rel).map(r => new Path(path, r).toString)
      DocStore.footerBlocks(f).foreach { b =>
        if (lim.forall(covered < _) && keep((f, b.getStartingPos))) {
          val off = b.getStartingPos
          parts += DocStorePartition(f, off,
            b.getCompressedSize, pv, types, commitVersion = ver, dvFile = dv)
          covered += b.getRowCount
        }
      }
    }
    parts.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    // runtime data filters (if delivered before the factory is built)
    // ride the same exact record-level path as planned filters
    DocStore.readerFactory(listing, tableSchema, required, pushed ++ runtime,
      renames)

  /** Streaming read over the same store, projection and pushed filters
    * included. Snapshot stores get manifest-VERSION offsets
    * ([[DocStoreSnapshotMicroBatchStream]]) — append deltas only,
    * rewrite commits skipped or failed per `onRewrite`, recovery
    * pinned to the offset's snapshot; plain stores keep file-set
    * offsets with an append-only contract enforced loudly
    * ([[DocStoreMicroBatchStream]]). */
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    require(versionAsOf.isEmpty,
      "docstore: versionAsOf/timestampAsOf/branch/tag are batch-read " +
        "options — a stream tails the store's LIVE manifest frontier, it " +
        "cannot tail a pinned version (use startingVersion to BEGIN " +
        "tailing at a historical snapshot)")
    require(streamOpts.onRewrite == "skip" || streamOpts.onRewrite == "fail",
      s"docstore: onRewrite must be 'skip' or 'fail', got '${streamOpts.onRewrite}'")
    // the `filters` option is the streaming pushdown channel (Spark's
    // V2 pushdown rule is batch-only): parsed filters join the pushed
    // set, getting the same file/partition pruning AND exact row-level
    // evaluation the batch scan gives pushed filters
    val effPushed = pushed ++ streamOpts.filters
      .map(DocStore.parseFilterOption(_, tableSchema)).getOrElse(Array.empty[Filter])
    if (DocStore.snapshotEnabled(path))
      new DocStoreSnapshotMicroBatchStream(path, tableSchema, required, effPushed,
        streamOpts, renames)
    else {
      require(streamOpts.startingVersion.isEmpty,
        s"docstore: startingVersion needs a snapshot store — $path is plain")
      require(!streamOpts.changeFeed,
        s"docstore: changeFeed needs a snapshot store (manifest diffs ARE " +
          s"the change log) — $path is plain")
      new DocStoreMicroBatchStream(path, tableSchema, required, effPushed,
        streamOpts)
    }
  }
}

case class DocStorePartition(
    file: String,
    start: Long,
    length: Long,
    partValues: Seq[(String, String)],
    partTypes: Seq[DataType] = Nil,
    // split-constant change-feed lineage for the `_change_type` /
    // `_commit_version` metadata columns: batch scans and plain
    // streams are always inserts; -1 = version unknown (emits null)
    changeType: String = "insert",
    commitVersion: Long = -1L,
    // DELETION-VECTOR application: `dvFile` (absolute path of the
    // file's DV sidecar at the read version) makes the reader SKIP the
    // listed positions (merge-on-read). With `dvEmitDeleted` the
    // reader instead EMITS ONLY the positions of dvFile that are NOT
    // in dvPrevFile (the previous version's DV, when one existed) —
    // the change feed's "rows deleted by this commit" read. Positions
    // are file-global: the reader takes them from parquet's row index.
    dvFile: Option[String] = None,
    dvPrevFile: Option[String] = None,
    dvEmitDeleted: Boolean = false) extends InputPartition with HasPartitionKey {
  /** Directory values in nesting order, cast to the table-declared
    * partition types — consulted only when the scan reports
    * KeyGroupedPartitioning (see [[DocStoreScan.outputPartitioning]]),
    * whose key expressions resolve against the typed scan output. */
  override def partitionKey(): InternalRow =
    new GenericInternalRow(partValues.zipWithIndex.map {
      case ((_, DocStore.HiveDefaultPartition), _) => null
      case ((_, v), i) =>
        DocStore.partitionValueCast(v,
          if (i < partTypes.length) partTypes(i) else StringType)
    }.toArray[Any])
}

case class DocStoreReaderFactory(
    projectCols: Array[String],
    required: StructType,
    tableSchema: StructType,
    pushed: Array[Filter],
    renames: Map[String, Seq[String]] = Map.empty) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new DocStoreReader(partition.asInstanceOf[DocStorePartition],
      projectCols, required, tableSchema, pushed, renames)
}

/** Executor-side reader for one row group: opens the file with the
  * (nested-pruned) projected schema and the converted predicate, then
  * converts each materialized Group to an InternalRow. The byte range
  * selects exactly this partition's row group (parquet assigns a row
  * group to the range containing its midpoint), so two partitions
  * never read the same row twice. Partition-column values are emitted
  * as split-constant strings recovered from the directory layout.
  * Opening a split builds no Hadoop Configuration: the file is opened
  * through [[DocStore.hadoopConf]], and the projection rides the read
  * support, not a conf key. */
class DocStoreReader(
    part: DocStorePartition,
    projectCols: Array[String],
    required: StructType,
    tableSchema: StructType,
    pushed: Array[Filter],
    renames: Map[String, Seq[String]] = Map.empty) extends PartitionReader[InternalRow] {

  private val fileSchema = DocStore.fileSchema(part.file)
  private val partVals = part.partValues.toMap
  private val projSet = projectCols.toSet

  // COLUMN-ID resolution under RENAME evolution: a projected column is
  // addressed by its CURRENT name; the PHYSICAL column in this file is
  // the first of (current name, older names of the same column id)
  // the file actually carries — pre-rename files keep reading under
  // the new name, post-rename files resolve directly. Absent under
  // every name → the add-nullable null path below.
  private val physOf: Map[String, String] =
    projectCols.toSeq.flatMap { c =>
      (c +: renames.getOrElse(c, Nil))
        .find(fileSchema.containsField).map(c -> _)
    }.toMap

  // schema evolution: a projected column ABSENT from this (older or
  // newer) file reads as null — presence decides what parquet actually
  // materializes here
  private val presentProj: Seq[String] =
    projectCols.toSeq.filter(physOf.contains)

  // projection in required-column order (filter-only columns appended),
  // carrying the file's own physical types (and physical NAMES — the
  // converters bind by position, the output speaks current names),
  // nested-pruned to the required struct subfields
  private val projSchema: MessageType = {
    val dtByName = required.fields.map(f => f.name -> f.dataType).toMap
    val kept =
      if (presentProj.isEmpty)
        // COUNT(*)-style scans prune to zero columns (and an old file
        // can lack every projected column); parquet needs at least one
        // column to drive row materialization — read the narrowest and
        // emit null/constant rows
        Seq(DocStore.narrowest(fileSchema))
      else presentProj.map { c =>
        val ft = fileSchema.getType(Seq(physOf(c)): _*)
        dtByName.get(c).map(dt => DocStore.projectType(ft, dt)).getOrElse(ft)
      }
    new MessageType(fileSchema.getName, kept.asJava)
  }

  // metadata columns: 1 = `_file` (split-constant path), 2 = `_pos`
  // (file row position, parquet's own row index); shadowed by
  // same-named data/partition columns per the DSv2 rule
  private val metaKind: Array[Int] = required.fields.map { f =>
    if (projSet.contains(f.name) || partVals.contains(f.name)) 0
    else if (f.name == "_file") 1
    else if (f.name == "_pos") 2
    else if (f.name == "_change_type") 3
    else if (f.name == "_commit_version") 4
    else 0
  }
  private val needPos = metaKind.contains(2)

  // Deletion-vector application. Positions are file-global and sorted;
  // the row index increases strictly within a split, so one monotone pointer
  // replaces any per-row set lookup. Exclude mode (dvFile only) skips
  // the deleted positions — the merge-on-read data scan; delta mode
  // (dvPrevFile too) emits ONLY positions newly deleted since the
  // previous version — the change feed's delete leg for a rowdelta
  // commit.
  private val dvDelta: Boolean = part.dvEmitDeleted
  private val dvPositions: Array[Long] = part.dvFile match {
    case None => Array.emptyLongArray
    case Some(f) =>
      val cur = DocStore.readDv(f)
      part.dvPrevFile match {
        case None => cur
        case Some(pf) => // sorted-merge difference cur \ prev
          val prev = DocStore.readDv(pf)
          val out = new ArrayBuffer[Long](cur.length)
          var i = 0; var j = 0
          while (i < cur.length) {
            while (j < prev.length && prev(j) < cur(i)) j += 1
            if (j >= prev.length || prev(j) != cur(i)) out += cur(i)
            i += 1
          }
          out.toArray
      }
  }
  private var dvPtr = 0
  private def dvKeep(i: Long): Boolean =
    if (part.dvFile.isEmpty) true
    else {
      while (dvPtr < dvPositions.length && dvPositions(dvPtr) < i) dvPtr += 1
      val listed = dvPtr < dvPositions.length && dvPositions(dvPtr) == i
      if (dvDelta) listed else !listed
    }

  private val filePathStr = UTF8String.fromString(part.file)
  private val changeTypeStr = UTF8String.fromString(part.changeType)
  private val commitVer: Any =
    if (part.commitVersion >= 0L) part.commitVersion else null

  /** Pushed data filters convert to a parquet predicate only when this
    * file carries every referenced column at the table's exact type —
    * an evolved file (column added later, or int pages under a widened
    * bigint column) can't evaluate them page-side. */
  private val filtersExactHere = pushed.isEmpty ||
    pushed.flatMap(_.references).distinct.forall { c =>
      // a RENAMED column (physical name ≠ current) can't evaluate
      // page-side either: the parquet predicate speaks current names
      physOf.get(c).contains(c) && {
        val ft = fileSchema.getType(Seq(c): _*)
        DocStore.toStructType(new MessageType("probe", Seq(ft).asJava))
          .fields(0).dataType == tableSchema(c).dataType
      }
    }

  /** Where the pushed predicates are exact for this file, parquet
    * applies them at every level down to the record, and row positions
    * (`_pos`, deletion vectors) come from its row index, which counts
    * the rows its filters skip. The reader evaluates pushed predicates
    * itself, per row ([[DocStore.evalFilter]]), only where schema
    * evolution left this file unable to evaluate a filter page-side
    * (missing column reads null → SQL three-valued semantics; widened
    * or renamed column compares as the table type); parquet then gets
    * no predicate at all. */
  private val selfFilter = pushed.nonEmpty && !filtersExactHere

  private val reader: ParquetReader[Group] = {
    val b = new ParquetReader.Builder[Group](
        HadoopInputFile.fromPath(new Path(part.file), DocStore.hadoopConf)) {
      override protected def getReadSupport(): ReadSupport[Group] =
        new GroupReadSupport {
          override def init(ctx: InitContext): ReadSupport.ReadContext =
            new ReadSupport.ReadContext(projSchema)
        }
    }.withFileRange(part.start, part.start + part.length)
    (if (filtersExactHere) DocStore.toPredicate(pushed, fileSchema) else None) match {
      case Some(p) => b.withFilter(FilterCompat.get(p)).build()
      case None => b.build()
    }
  }

  // filter-column accessors for the self-filtering path: projected
  // position + converter to Spark-internal form; a column this file
  // lacks evaluates as null
  private val filterGet: Map[String, (Int, Group => Any)] =
    if (!selfFilter) Map.empty
    else pushed.flatMap(_.references).distinct
      .filter(physOf.contains).map { c =>
        val j = presentProj.indexOf(c)
        require(j >= 0, s"docstore: filter column $c not projected")
        c -> ((j, DocStore.converter(projSchema.getType(j),
          tableSchema(c).dataType, j)))
      }.toMap

  private def passes(g: Group): Boolean = {
    val colv: String => Any = c => filterGet.get(c) match {
      case None => null // column absent from this file: reads null
      case Some((j, conv)) =>
        if (g.getFieldRepetitionCount(j) == 0) null else conv(g)
    }
    pushed.forall(f => DocStore.evalFilter(f, colv, tableSchema).contains(true))
  }

  // per output column: either a converter bound to its projected
  // position, or a split-constant partition value / evolved-null
  // (projPos -1)
  private val projPos: Array[Int] = {
    val presentSet = presentProj.toSet
    var j = -1
    required.fields.map { f =>
      if (projSet.contains(f.name) && presentSet.contains(f.name)) { j += 1; j }
      else -1
    }
  }
  private val convs: Array[Group => Any] =
    required.fields.zipWithIndex.map { case (f, k) =>
      val j = projPos(k)
      if (j < 0) null
      else DocStore.converter(projSchema.getType(j), f.dataType, j)
    }
  private val consts: Array[Any] =
    required.fields.map { f =>
      partVals.get(f.name) match {
        case Some(DocStore.HiveDefaultPartition) | None => null
        case Some(v) => DocStore.partitionValueCast(v, f.dataType)
      }
    }

  private var current: Group = _
  private var pos: Long = -1L

  override def next(): Boolean = {
    var skip = true
    while (skip) {
      current = reader.read()
      skip = current != null && {
        if (needPos || part.dvFile.isDefined) {
          pos = reader.getCurrentRowIndex // file-global
          require(pos >= 0L, s"docstore: parquet gives no row index for ${part.file}")
        }
        (selfFilter && !passes(current)) || !dvKeep(pos)
      }
    }
    current != null
  }

  override def get(): InternalRow = {
    val row = new GenericInternalRow(required.length)
    var k = 0
    while (k < required.length) {
      val j = projPos(k)
      row.update(k,
        if (metaKind(k) == 1) filePathStr
        else if (metaKind(k) == 2) pos
        else if (metaKind(k) == 3) changeTypeStr
        else if (metaKind(k) == 4) commitVer
        else if (j < 0) consts(k)
        else if (current.getFieldRepetitionCount(j) == 0) null
        else convs(k)(current))
      k += 1
    }
    row
  }

  override def close(): Unit = reader.close()
}

// ---------------------------------------------------------------------------
// Streaming read: micro-batch continuous ingestion
// ---------------------------------------------------------------------------

/** A plain-store streaming offset = the set of data files already
  * processed. The staged-commit sink publishes files atomically, so a
  * file is either absent or complete — a listing snapshot is a
  * consistent frontier. The file set (not a count or a name
  * high-water mark) is the only offset that survives non-monotone
  * file names; it round-trips through the checkpoint log as a JSON
  * array. At production file counts the list belongs in a compacted
  * metadata log (what Spark's own file source keeps) — the OFFSET
  * SEMANTICS are identical. */
case class DocStoreOffset(files: Seq[String]) extends Offset {
  override def json(): String =
    files.sorted.map(f =>
      "\"" + f.replace("\\", "\\\\").replace("\"", "\\\"") + "\"")
      .mkString("[", ",", "]")
}

/** Micro-batch stream over a PLAIN (non-snapshot) docstore: each batch
  * reads exactly the files that appeared since the last committed
  * offset — the continuous-ingestion tail of the same connector the
  * batch ETL crosses. Exactly-once ON APPEND-ONLY STORES: offsets name
  * immutable files; a restart replans the same delta from the
  * checkpoint. A plain store gives the stream no way to tell a
  * REWRITE's output (compaction, copy-on-write MERGE/DELETE — new file
  * names holding already-emitted rows) from fresh data, so the
  * append-only contract is ENFORCED LOUDLY instead of silently
  * violated: any committed-offset file that disappears from the
  * listing fails the stream with direction to snapshot-enable the
  * store, whose manifest diffs make rewrites classifiable
  * ([[DocStoreSnapshotMicroBatchStream]]). Implements AvailableNow
  * admission control (the end offset is pinned once at query start,
  * so a backfill run terminates even while writers keep appending). */
class DocStoreMicroBatchStream(
    path: String,
    tableSchema: StructType,
    required: StructType,
    pushed: Array[Filter],
    opts: DocStore.StreamOpts = DocStore.StreamOpts())
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  private def listing = DocStore.pruneListing(
    DocStore.listFilesWithPartitions(path), pushed)

  private def snap(): DocStoreOffset =
    DocStoreOffset(listing.map(_._1).sorted)

  private var fixedEnd: Option[DocStoreOffset] = None

  override def prepareForTriggerAvailableNow(): Unit = fixedEnd = Some(snap())

  /** Admission control: with `maxFilesPerTrigger` / `maxBytesPerTrigger`
    * set, each micro-batch admits at most that many NEW files / bytes
    * (whole files; at least one per batch) — a 100 TB backlog (or an
    * AvailableNow catch-up after downtime) drains in bounded batches
    * instead of one giant batch that overwhelms the sink and holds
    * checkpointing hostage for hours. The byte cap is the one that
    * matters when file sizes vary (the file cap is what Spark's
    * ReadLimit can express; bytes are enforced stream-side). Without
    * the options the stream keeps its drain-everything default. */
  override def getDefaultReadLimit: ReadLimit =
    opts.maxFilesPerTrigger.map(n => ReadLimit.maxFiles(n))
      .getOrElse(ReadLimit.allAvailable())

  override def initialOffset(): Offset = DocStoreOffset(Nil)

  override def latestOffset(): Offset = snap()

  private def requireAppendOnly(committed: Seq[String], live: Set[String]): Unit = {
    val vanished = committed.filterNot(live)
    if (vanished.nonEmpty) throw new IllegalStateException(
      s"docstore: streaming offset names ${vanished.size} file(s) no longer " +
        s"in $path (first: ${vanished.head}) — the store was rewritten " +
        "(compaction / copy-on-write MERGE or DELETE / retention) under a " +
        "plain-store stream, which assumes append-only. New files from a " +
        "rewrite would duplicate already-emitted rows and a recovery replan " +
        "would lose the vanished files' rows. Snapshot-enable the store " +
        "(DocStoreMaintenance.enableSnapshots) so the stream can classify " +
        "commits and skip rewrites, then restart from a fresh checkpoint.")
  }

  /** The next batch's end offset: new files beyond `start` (capped by
    * the AvailableNow frontier when one is prepared), admitted in
    * deterministic sorted order and truncated to the read limit. The
    * offset stays an immutable FILE SET — a restart from the
    * checkpoint resumes after exactly the files already committed,
    * whatever batch sizes the previous run used. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val startFiles = start.asInstanceOf[DocStoreOffset].files
    val seen = startFiles.toSet
    val frontier = fixedEnd.getOrElse(snap()).files
    requireAppendOnly(startFiles, listing.map(_._1).toSet)
    val fresh = frontier.filterNot(seen).sorted
    def cap(l: ReadLimit): Int = l match {
      case mf: ReadMaxFiles => mf.maxFiles()
      case _: ReadAllAvailable => Int.MaxValue
      case c: CompositeReadLimit => c.getReadLimits.map(cap).min
      case _ => Int.MaxValue // row/time limits don't map to a file source
    }
    val fileCap = cap(limit)
    val byteCap = opts.maxBytesPerTrigger.getOrElse(Long.MaxValue)
    val admitted = ArrayBuffer.empty[String]
    var bytes = 0L
    val it = fresh.iterator
    while (it.hasNext && admitted.size < fileCap &&
      (admitted.isEmpty || bytes < byteCap)) {
      val f = it.next()
      admitted += f
      if (byteCap != Long.MaxValue) bytes += DocStore.fileLen(f)
    }
    DocStoreOffset((startFiles ++ admitted).sorted)
  }

  override def reportLatestOffset(): Offset = snap()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val seen = start.asInstanceOf[DocStoreOffset].files.toSet
    val endFiles = end.asInstanceOf[DocStoreOffset].files
    val endSet = endFiles.toSet
    val live = listing
    // a recovery replan iterates the CURRENT listing; offset files a
    // rewrite retired would silently vanish from the batch — fail
    requireAppendOnly(endFiles, live.map(_._1).toSet)
    val parts = ArrayBuffer.empty[InputPartition]
    live.foreach { case (f, pv) =>
      if (endSet(f) && !seen(f))
        DocStore.footerBlocks(f).foreach { b =>
          parts += DocStorePartition(f, b.getStartingPos, b.getCompressedSize, pv)
        }
    }
    parts.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    DocStore.readerFactory(listing, tableSchema, required, pushed)

  override def deserializeOffset(json: String): Offset = {
    require(json.trim.startsWith("["),
      "docstore: this checkpoint holds a snapshot-stream offset but the " +
        s"store at $path is plain — was $path/${DocStore.SnapshotDir} " +
        "removed? Restart from a fresh checkpoint.")
    DocStoreOffset(DocStore.parseOffsetJson(json))
  }

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()
}

/** A snapshot-store streaming offset: `version` = the newest manifest
  * whose append delta has (partially) been emitted, `emitted` = how
  * many of that delta's sorted files are already out (admission
  * control can split one commit across micro-batches), and `base` =
  * the version the stream STARTED from, whose FULL content was the
  * first delta (versions ≤ base were folded into it). Manifests are
  * immutable once committed, so (base, version, emitted) names an
  * exact immutable row set — the checkpoint contract. */
case class DocStoreSnapshotOffset(base: Long, version: Long, emitted: Int)
    extends Offset {
  override def json(): String =
    s"""{"base":$base,"version":$version,"emitted":$emitted}"""
}

/** Micro-batch stream over a SNAPSHOT docstore: offsets are manifest
  * versions, and each commit is CLASSIFIED by its manifest diff —
  * a commit that only adds files is an APPEND (its delta streams), a
  * commit that retires any file is a REWRITE (compaction, copy-on-write
  * MERGE/DELETE): its outputs hold rows the stream already emitted
  * from the retired inputs, so re-emitting them would duplicate.
  * `onRewrite` picks the posture — `skip` (default; the commit's
  * added files are NOT emitted, matching Delta's `skipChangeCommits`
  * / Iceberg's append-only incremental scans; note a MERGE's
  * genuinely-new inserted rows are skipped with it, the documented
  * cost of the semantics) or `fail` (stop the stream: the pipeline
  * owner decides). Recovery is PINNED to the offset's snapshot: a
  * replanned batch reads its files from the immutable manifests, not
  * the live listing, so a rewrite (even a vacuum, within retention)
  * between crash and restart cannot lose rows — if retention already
  * expired a needed version the stream fails with a clear error
  * instead of silently dropping it. */
class DocStoreSnapshotMicroBatchStream(
    path: String,
    tableSchema: StructType,
    required: StructType,
    pushed: Array[Filter],
    opts: DocStore.StreamOpts = DocStore.StreamOpts(),
    renames: Map[String, Seq[String]] = Map.empty)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  private def onRewrite: String = opts.onRewrite

  // manifests are immutable once committed — cache forever (driver-side)
  private val manifestCache =
    new java.util.concurrent.ConcurrentHashMap[Long, Seq[String]]()

  private def manifest(v: Long): Seq[String] =
    if (v <= 0L) Nil
    else manifestCache.computeIfAbsent(v, _ =>
      DocStore.readManifest(path, v).getOrElse(throw new IllegalStateException(
        s"docstore: the stream needs snapshot v$v of $path but it is not " +
          "committed/retained (expired by vacuum?) — the stream lags the " +
          "store's retention; restart from a fresh checkpoint or raise " +
          "vacuum keepVersions above the stream's maximum lag")))

  /** The (file, changeType) pairs version `v` contributes to the
    * stream, in a FIXED order (deletes sorted, then inserts sorted) so
    * admission slicing is deterministic across retries and restarts.
    *
    * Default mode streams DATA: the full manifest at the stream's base
    * version, append deltas later — EMPTY for a rewrite commit under
    * onRewrite=skip, an error under onRewrite=fail.
    *
    * changeFeed mode streams CHANGES, classified by the commit's `#op`
    * exactly like the batch feed ([[DocStoreChanges]]): appends emit
    * inserts, metadata DELETEs emit the retired (still-retained) rows
    * as deletes, compaction emits nothing (dataChange=false), rewrites
    * emit delete+insert churn. Consumers read `_change_type` /
    * `_commit_version` via the metadata columns — a changeFeed stream
    * that ignores `_change_type` would mistake deletes for data, so
    * selecting it is part of the mode's contract. */
  /** [[deltaOfAll]] with FILE SKIPPING under the stream's filter set
    * (the `filters` option and anything a pushdown-capable Spark
    * delivers): a file whose manifest stats or partition values prove
    * no row can match never enters an offset — it consumes no
    * admission budget and no batch ever plans it. This restores the
    * batch scan's manifest-stat pruning to the streaming planner,
    * which Spark's batch-only V2 pushdown rule otherwise strands.
    * Offsets stay deterministic across restarts because the filter
    * set is part of the stream definition (changing `filters` needs a
    * fresh checkpoint, like any source-option change). Cached per
    * (base, version): manifests are immutable, so the filtered delta
    * is too. */
  private val deltaCache =
    new java.util.concurrent.ConcurrentHashMap[(Long, Long), Seq[(String, String)]]()

  private def deltaOf(base: Long, v: Long): Seq[(String, String)] =
    if (pushed.isEmpty) deltaOfAll(base, v)
    else deltaCache.computeIfAbsent((base, v), { case (b, vv) =>
      val raw = deltaOfAll(b, vv)
      if (raw.isEmpty) raw
      else {
        // a retired file's stats live in the PREVIOUS version's state
        val stats = (if (vv > 1) DocStore.readManifestStats(path, vv - 1)
          else Map.empty[String, DocStore.FileStat]) ++
          DocStore.readManifestStats(path, vv)
        val resolved = DocStore.resolveRels(path, raw.map(_._1))
        val keepPart = DocStore.pruneListing(resolved, pushed)
          .map(t => DocStore.relOf(path, t._1)).toSet
        raw.filter { case (rel, _) =>
          keepPart(rel) && stats.get(rel).forall(st =>
            DocStore.statsMayMatch(pushed.toSeq, st, dataSchema))
        }
      }
    })

  private def deltaOfAll(base: Long, v: Long): Seq[(String, String)] = {
    if (v == base) return manifest(v).sorted.map(_ -> "insert")
    val cur = manifest(v)
    val prev = manifest(v - 1).toSet
    val added = cur.filterNot(prev).sorted
    val retired = (prev -- cur.toSet).toSeq.sorted
    val op = DocStore.commitOp(path, v)
    // merge-on-read commits (`rowdelta`) can change data WITHOUT
    // touching the file set — the deletion-vector bindings moved
    val dvChanged: Seq[String] =
      if (op != "rowdelta") Nil
      else {
        val dvPrev = DocStore.readManifestDvs(path, v - 1)
        DocStore.readManifestDvs(path, v).toSeq.collect {
          case (rel, dvRel) if cur.contains(rel) &&
            !dvPrev.get(rel).contains(dvRel) => rel
        }.sorted
      }
    if (opts.changeFeed) op match {
      case "append" => added.map(_ -> "insert")
      case "delete" => retired.map(_ -> "delete")
      case "compact" => Nil // bytes rewritten, no data changed
      case "rowdelta" => // MoR DELETE/UPDATE/MERGE: DV deltas are the
        // deletes (plus fully-deleted files, retired outright); new
        // files are the inserts
        retired.map(_ -> "delete") ++ dvChanged.map(_ -> "delete") ++
          added.map(_ -> "insert")
      case _ => retired.map(_ -> "delete") ++ added.map(_ -> "insert")
    }
    else if (op == "rowdelta") {
      if (onRewrite == "fail") throw new IllegalStateException(
        s"docstore: snapshot v$v of $path is a merge-on-read ROWDELTA " +
          "commit (deletion vectors changed) and this stream runs " +
          "onRewrite=fail — rows the stream already emitted were deleted " +
          "or updated. Use onRewrite=skip to tail appends only, or " +
          "changeFeed=true to consume the changes")
      Nil // skip: its added files are merge outputs, not plain appends
    }
    else if (retired.isEmpty) added.map(_ -> "insert")
    else if (onRewrite == "fail") throw new IllegalStateException(
      s"docstore: snapshot v$v of $path is a REWRITE commit (retires " +
        s"${retired.size} file(s), first: ${retired.head}) and this stream " +
        "runs onRewrite=fail — its outputs hold rows the stream already " +
        "emitted. Use onRewrite=skip to tail across rewrites, " +
        "changeFeed=true to consume them as delete+insert changes, or " +
        "reload from a fresh checkpoint to re-snapshot the table")
    else Nil
  }

  private def currentVersion(): Long =
    DocStore.currentSnapshot(path).map(_._1).getOrElse(0L)

  private var fixedEnd: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    fixedEnd = Some(currentVersion())

  override def getDefaultReadLimit: ReadLimit =
    opts.maxFilesPerTrigger.map(n => ReadLimit.maxFiles(n))
      .getOrElse(ReadLimit.allAvailable())

  /** A fresh stream starts AT the current snapshot: its full content
    * is the first batch (same contract the plain stream's empty
    * initial offset gives), then manifest deltas tail from there.
    * With `startingVersion=N` the stream instead tails APPEND DELTAS
    * from version N onward and emits no initial snapshot — Delta's
    * startingVersion semantics, the replay-history entry point; N-1
    * must still be retained (its manifest anchors N's diff). */
  override def initialOffset(): Offset = opts.startingVersion match {
    case Some(n) =>
      require(n >= 1, s"docstore: startingVersion must be >= 1, got $n")
      val b = n - 1
      // position the offset at "all of version b emitted": the next
      // delta computed is version n's (the FILTERED delta — emitted
      // counts index the same lists admission and planning slice)
      DocStoreSnapshotOffset(base = b, version = b,
        emitted = if (b == 0) 0 else deltaOf(b, b).size)
    case None =>
      val v = currentVersion()
      DocStoreSnapshotOffset(base = v, version = v, emitted = 0)
  }

  override def latestOffset(): Offset = {
    val v = currentVersion()
    DocStoreSnapshotOffset(v, v, deltaOf(v, v).size)
  }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[DocStoreSnapshotOffset]
    val frontier = fixedEnd.getOrElse(currentVersion())
    def cap(l: ReadLimit): Int = l match {
      case mf: ReadMaxFiles => mf.maxFiles()
      case _: ReadAllAvailable => Int.MaxValue
      case c: CompositeReadLimit => c.getReadLimits.map(cap).min
      case _ => Int.MaxValue
    }
    var budget = cap(limit)
    val byteCap = opts.maxBytesPerTrigger.getOrElse(Long.MaxValue)
    var bytes = 0L
    var admitted = 0
    var v = s.version
    var k = s.emitted
    var continue = true
    while (continue && budget > 0 && (admitted == 0 || bytes < byteCap)) {
      val files = deltaOf(s.base, v)
      if (k < files.size) {
        // admit one whole file at a time so the byte cap composes with
        // the file cap (always at least one file per batch); skip the
        // per-file stat entirely when no byte cap is set
        if (byteCap != Long.MaxValue)
          bytes += DocStore.fileLen(new Path(path, files(k)._1).toString)
        k += 1
        admitted += 1
        budget -= 1
      } else if (v < frontier) { v += 1; k = 0 }
      else continue = false
    }
    DocStoreSnapshotOffset(s.base, v, k)
  }

  override def reportLatestOffset(): Offset = latestOffset()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[DocStoreSnapshotOffset]
    val e = end.asInstanceOf[DocStoreSnapshotOffset]
    // the batch's files come from the IMMUTABLE manifests the offsets
    // name — never the live listing — so a rewrite or vacuum between
    // crash and recovery replans the identical batch; each split
    // carries its commit version and change type for the metadata
    // columns (a within-version rel is added OR retired, never both,
    // so the tag lookup is unambiguous)
    val parts = ArrayBuffer.empty[InputPartition]
    val planned = ArrayBuffer.empty[(String, Seq[(String, String)])]
    (s.version to e.version).foreach { v =>
      val files = deltaOf(e.base, v)
      val from = if (v == s.version) s.emitted else 0
      val until = if (v == e.version) e.emitted else files.size
      val slice = files.slice(from, until)
      val tagByRel = slice.toMap
      // `pushed` holds the `filters` READ OPTION's parsed predicates
      // (Spark's own V2 pushdown rule is batch-only, so the option is
      // the streaming channel) — deltaOf already stat/partition-pruned
      // the slice, this pruneListing is belt-and-braces for filters a
      // pushdown-capable Spark might deliver directly
      val listing = DocStore.pruneListing(
        DocStore.resolveRels(path, slice.map(_._1)), pushed)
      planned ++= listing
      // deletion-vector context of this commit: insert legs exclude
      // the version's own DVs (rows already deleted never emit);
      // delete legs of a still-present file emit ONLY the commit's DV
      // delta; delete legs of a retired file exclude the PREVIOUS
      // version's DV (those rows were already emitted as deletes)
      lazy val dvAtV = DocStore.readManifestDvs(path, v)
      lazy val dvAtPrev =
        if (v > 0) DocStore.readManifestDvs(path, v - 1) else Map.empty[String, String]
      lazy val inManifest = manifest(v).toSet
      def abs(dvRel: String) = new Path(path, dvRel).toString
      listing.foreach { case (f, pv) =>
        val rel = DocStore.relOf(path, f)
        val tag = tagByRel(rel)
        val (dvF, dvP, emitDel) = tag match {
          case "insert" => (dvAtV.get(rel).map(abs), None, false)
          case _ if v > e.base && inManifest(rel) => // MoR dv-delta leg
            (dvAtV.get(rel).map(abs), dvAtPrev.get(rel).map(abs), true)
          case _ => (dvAtPrev.get(rel).map(abs), None, false)
        }
        DocStore.footerBlocks(f).foreach { b =>
          parts += DocStorePartition(f, b.getStartingPos, b.getCompressedSize,
            pv, changeType = tag, commitVersion = v,
            dvFile = dvF, dvPrevFile = dvP, dvEmitDeleted = emitDel)
        }
      }
    }
    plannedListing = planned.toSeq
    parts.toArray
  }

  // the listing the current batch planned (readerFactory derives the
  // partition-column set from it; the live listing is only a fallback
  // for the degenerate everything-deleted store)
  @volatile private var plannedListing: Seq[(String, Seq[(String, String)])] = Nil

  // changeFeed mode appended _change_type/_commit_version to the TABLE
  // schema (the streaming path can't deliver metadata columns); the
  // reader synthesizes them, so the data-side schema strips them — the
  // requiredData/metaKind machinery then treats them exactly like the
  // batch metadata columns
  private val dataSchema: StructType =
    if (!opts.changeFeed) tableSchema
    else StructType(tableSchema.fields.filterNot(f =>
      f.name == "_change_type" || f.name == "_commit_version"))

  override def createReaderFactory(): PartitionReaderFactory =
    DocStore.readerFactory(
      if (plannedListing.nonEmpty) plannedListing
      else DocStore.listFilesWithPartitions(path),
      dataSchema, required, pushed, renames)

  override def deserializeOffset(json: String): Offset = {
    require(json.trim.startsWith("{"),
      "docstore: this checkpoint holds a plain-store file-set offset but " +
        s"$path is now snapshot-enabled — version offsets cannot resume a " +
        "file-set checkpoint. Restart from a fresh checkpoint (the first " +
        "batch re-reads the current snapshot).")
    def num(k: String): Long =
      (s""""$k"\\s*:\\s*(-?\\d+)""").r.findFirstMatchIn(json)
        .map(_.group(1).toLong)
        .getOrElse(throw new IllegalArgumentException(
          s"docstore: malformed snapshot offset $json (missing $k)"))
    DocStoreSnapshotOffset(num("base"), num("version"), num("emitted").toInt)
  }

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()
}

// ---------------------------------------------------------------------------
// Aggregate pushdown: metadata-only scan
// ---------------------------------------------------------------------------

/** Statistics scan for pushed count/min/max: one partition per file,
  * each emitting ONE pre-aggregated row combined from that file's
  * row-group footers — zero data pages are read. With a pushed
  * partition-column GROUP BY, each row leads with its file's directory
  * values; Spark's final aggregation merges the per-file rows per
  * group (several files can share a partition directory). An empty
  * UNGROUPED store plans one synthetic partition so count(*) still
  * yields 0 (a no-row scan would make Spark's final sum-of-counts
  * NULL); a grouped aggregate over an empty store correctly yields no
  * rows. */
case class DocStoreAggScan(
    path: String,
    aggSchema: StructType,
    grpCols: Seq[String],
    specs: Seq[DocStore.AggSpec],
    pushed: Array[Filter],
    versionAsOf: Option[Long] = None,
    // manifest-embedded stats (file → stat) covering every surviving
    // file and agg column: the per-file rows are PRECOMPUTED at plan
    // time and the readers open no footer at all — metadata-only both
    // in planning and execution. Empty → per-file footer fallback
    // (plain stores, pre-stat manifests).
    statsByFile: Map[String, DocStore.FileStat] = Map.empty) extends Scan with Batch {

  override def readSchema(): StructType = aggSchema

  override def toBatch: Batch = this

  @transient private lazy val grpTypes: Seq[DataType] =
    aggSchema.fields.take(grpCols.length).map(_.dataType).toSeq

  override def description(): String =
    s"DocStoreAggScan path=$path, " +
      s"PushedAggregation: [${specs.map(_.name).mkString(", ")}], " +
      s"PushedGroupBy: [${grpCols.mkString(", ")}], " +
      s"PushedFilters: [${pushed.mkString(", ")}]"

  /** Agg slot values for one file, straight from its manifest stat —
    * boxed per the DECLARED agg-schema type (see the reader's
    * extremum doc for why the declared type governs). */
  private def precomputedFor(st: DocStore.FileStat): Seq[Any] = {
    val aggTypes = aggSchema.fields.drop(grpCols.length).map(_.dataType)
    specs.zipWithIndex.map {
      case (DocStore.CountStarSpec, _) => st.rows
      case (DocStore.CountColSpec(c), _) => st.rows - st.cols(c).nulls
      case (DocStore.MinSpec(c), i) => box(st.cols(c).min, aggTypes(i))
      case (DocStore.MaxSpec(c), i) => box(st.cols(c).max, aggTypes(i))
    }
  }

  private def box(v: Option[Long], dt: DataType): Any = v match {
    case None => null
    case Some(x) => dt match {
      case IntegerType | DateType => x.toInt
      case _ => x // LongType, TimestampType (already µs-normalized)
    }
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val files = DocStore
      .pruneListing(DocStore.listFilesWithPartitions(path, versionAsOf), pushed)
    if (files.isEmpty) {
      if (grpCols.isEmpty) Array(DocStoreAggPartition(None, Nil))
      else Array.empty
    } else files.map { case (f, pv) =>
      val pvMap = pv.toMap
      DocStoreAggPartition(Some(f), grpCols.map(pvMap.get), grpTypes,
        precomputed = statsByFile.get(f).map(precomputedFor))
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    DocStoreAggReaderFactory(specs, grpTypes,
      aggSchema.fields.drop(grpCols.length).map(_.dataType).toSeq)
}

case class DocStoreAggPartition(
    file: Option[String],
    groupValues: Seq[Option[String]],
    grpTypes: Seq[DataType] = Nil,
    // agg slot values precomputed from manifest stats at plan time —
    // when set, the reader touches NO file at all
    precomputed: Option[Seq[Any]] = None) extends InputPartition

case class DocStoreAggReaderFactory(specs: Seq[DocStore.AggSpec],
    grpTypes: Seq[DataType] = Nil,
    aggTypes: Seq[DataType] = Nil)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new DocStoreAggReader(partition.asInstanceOf[DocStoreAggPartition], specs,
      grpTypes, aggTypes)
}

class DocStoreAggReader(part: DocStoreAggPartition, specs: Seq[DocStore.AggSpec],
    grpTypes: Seq[DataType] = Nil,
    aggTypes: Seq[DataType] = Nil)
    extends PartitionReader[InternalRow] {

  private var emitted = false
  private val nGrp = part.groupValues.length

  override def next(): Boolean = !emitted && { emitted = true; true }

  override def get(): InternalRow = {
    val row = new GenericInternalRow(nGrp + specs.length)
    part.groupValues.zipWithIndex.foreach {
      case (Some(DocStore.HiveDefaultPartition), i) => row.update(i, null)
      case (Some(v), i) => row.update(i, DocStore.partitionValueCast(v,
        if (i < grpTypes.length) grpTypes(i) else StringType))
      case (None, i) => row.update(i, null)
    }
    part.precomputed match {
      case Some(vals) =>
        // manifest-stat answer: planned on the driver, zero file I/O
        vals.zipWithIndex.foreach { case (v, i) => row.update(nGrp + i, v) }
        return row
      case None => ()
    }
    part.file match {
      case None =>
        // empty store: exact zero counts, null extrema
        specs.zipWithIndex.foreach {
          case (DocStore.CountStarSpec, i) => row.update(nGrp + i, 0L)
          case (DocStore.CountColSpec(_), i) => row.update(nGrp + i, 0L)
          case (_, i) => row.update(nGrp + i, null)
        }
      case Some(f) =>
        val blocks = DocStore.footerBlocks(f)
        val schema = DocStore.fileSchema(f)
        specs.zipWithIndex.foreach {
          case (DocStore.CountStarSpec, i) =>
            row.update(nGrp + i, blocks.map(_.getRowCount).sum)
          case (DocStore.CountColSpec(c), i) =>
            row.update(nGrp + i, blocks.map { b =>
              b.getRowCount - statsOf(b, c).getNumNulls
            }.sum)
          case (DocStore.MinSpec(c), i) =>
            row.update(nGrp + i, extremum(blocks, schema, c, isMin = true,
              declaredType(i)))
          case (DocStore.MaxSpec(c), i) =>
            row.update(nGrp + i, extremum(blocks, schema, c, isMin = false,
              declaredType(i)))
        }
    }
    row
  }

  private def statsOf(b: BlockMetaData, c: String) =
    b.getColumns.asScala.find(_.getPath.toDotString == c).get.getStatistics

  /** The Spark type `pushAggregation` declared for agg slot i — the
    * TABLE's type, which under int→bigint schema widening can be
    * wider than any one file's physical type. */
  private def declaredType(i: Int): DataType =
    if (i < aggTypes.length) aggTypes(i) else NullType

  /** Combine a column's per-row-group min/max into one value in
    * Spark's internal representation. Row groups whose stats carry no
    * non-null value contribute nothing; an all-null column yields
    * null (Spark's min/max ignore nulls). Timestamp units normalize
    * to µs — min/max commute with a monotone unit change.
    *
    * The emitted box is chosen by the DECLARED (table/agg-schema)
    * type, not the file's physical type: under int→bigint widening an
    * old INT32 file must still feed a `Long` into the LongType slot
    * `pushAggregation` promised, or Spark's partial-agg merge throws
    * ClassCastException. */
  private def extremum(
      blocks: Seq[BlockMetaData],
      schema: MessageType,
      c: String,
      isMin: Boolean,
      declared: DataType): Any = {
    val p = schema.getType(Seq(c): _*).asPrimitiveType()
    val vals: Seq[Long] = blocks.flatMap { b =>
      statsOf(b, c) match {
        case s: IntStatistics if s.hasNonNullValue =>
          Some((if (isMin) s.getMin else s.getMax).toLong)
        case s: LongStatistics if s.hasNonNullValue =>
          Some(if (isMin) s.getMin else s.getMax)
        case _ => None
      }
    }
    if (vals.isEmpty) null
    else {
      val v = if (isMin) vals.min else vals.max
      declared match {
        case IntegerType | DateType => v.toInt
        case LongType => v
        case TimestampType | TimestampNTZType =>
          p.getLogicalTypeAnnotation match {
            case t: TimestampLogicalTypeAnnotation => t.getUnit match {
              case TimeUnit.NANOS => Math.floorDiv(v, 1000L)
              case TimeUnit.MILLIS => Math.multiplyExact(v, 1000L)
              case _ => v
            }
            case _ => v
          }
        // statTypeOk admits no other min/max type; fall back to the
        // file's own width so an unexpected declared type degrades to
        // the pre-widening behavior rather than a wrong box
        case _ => if (p.getPrimitiveTypeName == PrimitiveTypeName.INT32) v.toInt else v
      }
    }
  }

  override def close(): Unit = ()
}

// ---------------------------------------------------------------------------
// Write path: staged-commit partitioned zstd parquet sink
// ---------------------------------------------------------------------------

/** Builds the batch write. `truncate()` (mode("overwrite")) defers the
  * delete to job COMMIT: a failed overwrite leaves the store's old
  * contents fully intact. On a table restricted to `onlyFiles` (read
  * at `versionAsOf`), a truncate replaces exactly those files and
  * routes the rewrite by their own partition layout — compaction's
  * commit.
  *
  * [[RequiresDistributionAndOrdering]] — the 100 TB small-files
  * defense (reference A12's file rotation, main.py:225-228, exists to
  * manage exactly this): without a required distribution, a
  * partitioned write produces one file per partition value per TASK —
  * a 1000-task write into 10 partitions leaves 10,000 small files per
  * commit, and `etl_compaction_plan` can only repair that after the
  * fact. The sink instead requests
  *   - distribution CLUSTERED by the partition columns: Spark routes
  *     all rows of a partition value to ONE task → one file per
  *     partition per commit;
  *   - ordering by partition columns (each task writes its partition
  *     values in contiguous runs, bounding open writers) then the
  *     optional `sortBy` columns, which give the parquet row groups
  *     disjoint min/max ranges on the sort key — a range predicate on
  *     read-back then prunes row groups via the same FilterApi
  *     statistics path the scan already uses (the connector twin of
  *     `etl_zorder_layout` / `profile_sort_locality`).
  * An unpartitioned write without `sortBy` requests nothing — Spark
  * keeps the upstream layout and writes at full parallelism. */
class DocStoreWriteBuilder(path: String, info: LogicalWriteInfo,
    tablePartitionBy: Seq[String] = Nil,
    tableSchema: StructType = new StructType(),
    onlyFiles: Option[Set[String]] = None,
    versionAsOf: Option[Long] = None)
    extends WriteBuilder with SupportsTruncate {

  private var truncateFirst = false

  override def truncate(): WriteBuilder = { truncateFirst = true; this }

  override def build(): Write = new Write with RequiresDistributionAndOrdering {
    private val replaced = onlyFiles.filter(_ => truncateFirst)
    // per-write option first; a rewrite of restricted files keeps
    // their layout; then the store's CURRENT `#partspec` (partition
    // evolution — the manifest is the source of truth for where NEW
    // files route); the catalog-declared table partitioning (CREATE
    // TABLE … PARTITIONED BY) is the default
    private val partitionBy = {
      val opt = DocStore.partitionByOf(info.options())
      if (opt.nonEmpty) opt
      else replaced match {
        case Some(fs) =>
          DocStore.partColsOf(DocStore.listFilesWithPartitions(path, versionAsOf, Some(fs)))
        case None => DocStore.currentPartSpec(path).getOrElse(tablePartitionBy)
      }
    }
    private val sortBy = DocStore.sortByOf(info.options())
    private val qSchema = info.schema()

    // An INSERT's query columns correspond to the table schema BY
    // POSITION (the analyzer's output-resolution contract) but may
    // keep their own names (a plain `VALUES …` arrives as col1…colN),
    // so a `partitionBy`/`sortBy` table-column name resolves to a
    // position through the table schema first, and anything addressed
    // to Spark (distribution/ordering references) or to the parquet
    // files (field names) is then spoken in the right dialect: QUERY
    // attribute names for Spark, TABLE field names for the files.
    private def posOf(c: String): Int =
      if (tableSchema.nonEmpty && tableSchema.length == qSchema.length &&
        tableSchema.fieldNames.contains(c)) tableSchema.fieldIndex(c)
      else {
        require(qSchema.fieldNames.contains(c),
          s"docstore: partitionBy/sortBy column '$c' is not in the write schema " +
            qSchema.fieldNames.mkString("[", ",", "]"))
        qSchema.fieldIndex(c)
      }
    private val partPos = partitionBy.map(posOf)
    private val sortPos = sortBy.map(posOf)

    /** The schema the files are written under: table field names (when
      * a table is known) with the incoming query's types. */
    private val writeSchema: StructType =
      if (tableSchema.nonEmpty && tableSchema.length == qSchema.length)
        StructType(tableSchema.fields.zip(qSchema.fields).map {
          case (t, w) => StructField(t.name, w.dataType, w.nullable)
        })
      else qSchema
    private val partCols = partPos.map(i => writeSchema.fields(i).name)
    private def bloomFor =
      DocStore.bloomColumns(path, info.options(), writeSchema, partCols)

    // mergeSchema (schema evolution): validate the write's schema is a
    // SAFE evolution of the store's — at PLAN time, so an unsafe write
    // fails before staging a byte, and the store can never become
    // unreadable (the read-side reconcile would throw the same error)
    if (info.options().getBoolean("mergeSchema", false) && !truncateFirst) {
      require(DocStore.snapshotEnabled(path) || DocStore.listFiles(path).isEmpty,
        s"docstore: mergeSchema writes (schema evolution) need a snapshot " +
          s"store — $path is plain; enable snapshots first " +
          "(DocStoreMaintenance.enableSnapshots)")
      val existing = DocStore.inferStoreSchema(path)
      val existingData = StructType(
        existing.fields.filterNot(f => partitionBy.contains(f.name)))
      val writeData = StructType(
        writeSchema.fields.filterNot(f => partitionBy.contains(f.name)))
      if (existingData.nonEmpty)
        DocStore.reconcileSchemas(Seq(
          s"store $path" -> existingData, "this write" -> writeData)): Unit
    }

    override def requiredDistribution(): Distribution =
      if (partPos.isEmpty) Distributions.unspecified()
      else Distributions.clustered(
        partPos.map(i =>
          Expressions.identity(qSchema.fields(i).name)
            .asInstanceOf[ConnExpression]).toArray)

    override def requiredOrdering(): Array[ConnSortOrder] =
      (partPos ++ sortPos).map(i =>
        Expressions.sort(Expressions.column(qSchema.fields(i).name),
          SortDirection.ASCENDING)).toArray

    private lazy val batch =
      DocStoreBatchWrite(path, writeSchema, partCols,
        info.queryId(), truncateFirst,
        DocStore.rowGroupBytesOf(info.options()),
        replaceFiles = replaced.map(fs => () => fs.toSeq),
        snapshots = info.options().getBoolean("snapshots", false),
        bloomFor = bloomFor,
        branchTo = Option(info.options().get("branch")).map(_.trim),
        replacedDvs = () => DocStore.dvMap(path, versionAsOf))

    override def toBatch: BatchWrite = batch

    override def supportedCustomMetrics(): Array[CustomMetric] =
      Array(new DocStoreFilesAdded, new DocStoreCommittedVersion)

    override def reportDriverMetrics(): Array[CustomTaskMetric] =
      batch.committedMetrics

    /** Streaming sink: per-EPOCH staged commits with an idempotence
      * marker, so a micro-batch whose commit outcome was unknown at a
      * driver crash can be re-executed and re-committed without
      * duplicating rows — Structured Streaming's exactly-once contract
      * for sinks. Composes with the connector's streaming READ (whose
      * offsets are file sets and whose admission control bounds
      * batches) into a full docstore→docstore pipeline. */
    override def toStreaming: StreamingWrite = {
      val mode = Option(info.options().get("mode")).getOrElse("append")
      if (mode.equalsIgnoreCase("upsert")) {
        val keys = Option(info.options().get("keys")).toSeq
          .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
        require(keys.nonEmpty,
          "docstore: upsert sink needs option(\"keys\", \"col[,col…]\")")
        val missing = keys.filterNot(writeSchema.fieldNames.contains)
        require(missing.isEmpty,
          s"docstore: upsert key(s) ${missing.mkString(", ")} not in the " +
            s"stream schema ${writeSchema.fieldNames.mkString("[", ",", "]")}")
        DocStoreUpsertStreamingWrite(path, writeSchema, partCols,
          info.queryId(), keys, DocStore.rowGroupBytesOf(info.options()), bloomFor)
      } else
        DocStoreStreamingWrite(path, writeSchema, partCols,
          info.queryId(), DocStore.rowGroupBytesOf(info.options()),
          snapshots = info.options().getBoolean("snapshots", false),
          bloomFor = bloomFor)
    }

    override def description(): String = s"DocStoreWrite path=$path"
  }
}

/** Epoch-aware staged-commit streaming sink. Tasks of epoch E stage
  * under `_staging-<queryId>-epoch-<E>` with DETERMINISTIC names —
  * `part-<partitionId>-e<E>.parquet`, a pure function of (partition,
  * epoch) — and commit publishes the staged files and then creates the
  * `_committed-<queryId>-<E>` marker IN the store (underscore-prefixed
  * → invisible to listings). Idempotence holds across EVERY crash
  * point: (a) marker exists → re-commit only clears staging, the
  * published files stand; (b) crash after SOME renames but before the
  * marker → the re-executed epoch stages the same deterministic names
  * and the publish renames ONTO the same destinations (replacing any
  * partially-published twins) — no UUID drift, no double-publish.
  * Markers are tiny and per (query, epoch); a production store would
  * compact them into a metadata log exactly like Spark's own file
  * sink — the commit SEMANTICS are identical. */
case class DocStoreStreamingWrite(
    path: String,
    schema: StructType,
    partitionBy: Seq[String],
    queryId: String,
    rowGroupBytes: Option[Long] = None,
    snapshots: Boolean = false,
    bloomFor: Seq[String] = Nil) extends StreamingWrite {

  private def staging(epochId: Long) = s"$path/_staging-$queryId-epoch-$epochId"
  private def marker(epochId: Long) = new Path(path, s"_committed-$queryId-$epochId")

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    DocStoreStreamingWriterFactory(path, queryId, schema, partitionBy,
      rowGroupBytes, bloomFor)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val conf = DocStore.hadoopConf
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    fs.mkdirs(root)
    val stagingPath = new Path(staging(epochId))
    if (!fs.exists(marker(epochId))) {
      val rels = messages.toSeq.flatMap {
        case m: DocStoreCommitMessage => m.relPaths
        case _ => Nil
      }
      rels.foreach { rel =>
        val dst = new Path(root, rel)
        fs.mkdirs(dst.getParent)
        // staged names are deterministic per (partition, epoch): a
        // file already at dst is this epoch's own partial publish
        // from a crashed earlier attempt — replace, don't duplicate
        if (fs.exists(dst)) fs.delete(dst, false)
        require(fs.rename(new Path(stagingPath, rel), dst),
          s"docstore: epoch $epochId commit rename failed for $rel")
      }
      // snapshot store: the epoch becomes visible at the manifest swap.
      // Ordered manifest-THEN-marker: a crash between them re-executes
      // the epoch, which republishes onto the same deterministic names
      // and re-adds the same rels (set semantics) — idempotent — while
      // the reverse order could mark an epoch done whose files never
      // entered the manifest (silent row loss).
      if (snapshots || DocStore.snapshotEnabled(path))
        DocStore.commitSnapshot(path)(_ ++ rels): Unit
      val out = fs.create(marker(epochId), true)
      out.close()
    }
    fs.delete(stagingPath, true): Unit
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val stagingPath = new Path(staging(epochId))
    stagingPath.getFileSystem(DocStore.hadoopConf).delete(stagingPath, true): Unit
  }
}

case class DocStoreStreamingWriterFactory(
    path: String,
    queryId: String,
    schema: StructType,
    partitionBy: Seq[String],
    rowGroupBytes: Option[Long] = None,
    bloomFor: Seq[String] = Nil) extends StreamingDataWriterFactory {
  override def createWriter(
      partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    new DocStoreDataWriter(s"$path/_staging-$queryId-epoch-$epochId",
      schema, partitionBy, partitionId, taskId, rowGroupBytes,
      fileSuffix = Some(s"-e$epochId"), bloomFor = bloomFor)
}

/** STREAMING UPSERT sink — `writeStream.format("docstore")
  * .option("mode","upsert").option("keys","id")`: applies each
  * micro-batch as a MERGE against the target, closing the CDC loop
  * natively (the Delta `foreachBatch MERGE` shape, without the
  * foreachBatch). Composes with the connector's `changeFeed` read:
  * tail one store's change feed, upsert into another, and the target
  * converges to the source.
  *
  * Per-epoch semantics (exactly-once via the same deterministic-name
  * staging + marker protocol as the plain streaming sink):
  *  - rows stage under `_staging-<queryId>-epoch-<E>` UNPARTITIONED
  *    (all columns as data — partition routing happens at publish);
  *  - commit resolves each key's FINAL action: with a
  *    `_commit_version` column only max-version rows act (a replayed
  *    feed range collapses to its end state); with `_change_type`,
  *    `delete` rows remove and anything else upserts; with neither,
  *    every row is an upsert;
  *  - existing target rows matching ANY batch key are deleted
  *    merge-on-read: the (file, pos) hits are computed by a
  *    DISTRIBUTED semi-join on the target's metadata columns and the
  *    DV fragments are written BY THE EXECUTORS (repartitioned by
  *    file) — only (file, fragment, count) bindings reach the driver,
  *    the same no-positions-on-the-RPC-path contract as the SQL MoR
  *    write;
  *  - surviving rows publish as new files and ONE `rowdelta` snapshot
  *    commits deletes + inserts together, so the target's OWN change
  *    feed emits exactly the applied delta. */
case class DocStoreUpsertStreamingWrite(
    path: String,
    schema: StructType,
    partitionBy: Seq[String],
    queryId: String,
    keys: Seq[String],
    rowGroupBytes: Option[Long] = None,
    bloomFor: Seq[String] = Nil) extends StreamingWrite {

  private def staging(epochId: Long) = s"$path/_staging-$queryId-epoch-$epochId"
  private def pubStore(epochId: Long) = s"$path/_staging-$queryId-epoch-$epochId-pub"
  private def marker(epochId: Long) = new Path(path, s"_committed-$queryId-$epochId")

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    DocStoreStreamingWriterFactory(path, queryId, schema, Nil, rowGroupBytes)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val conf = DocStore.hadoopConf
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    fs.mkdirs(root)
    val stagingPath = new Path(staging(epochId))
    val pubPath = new Path(pubStore(epochId))
    if (!fs.exists(marker(epochId))) {
      val stagedRels = messages.toSeq.flatMap {
        case m: DocStoreCommitMessage => m.relPaths
        case _ => Nil
      }
      if (stagedRels.nonEmpty) applyBatch(epochId, stagingPath)
      // marker AFTER the manifest swap — a crash between them
      // re-executes the epoch, whose re-application aborts on the DV
      // conflict check or re-applies onto the already-updated state
      // idempotently (max-version rows re-resolve to the same final
      // state; re-deleting already-DV'd rows matches nothing)
      val out = fs.create(marker(epochId), true)
      out.close()
    }
    fs.delete(stagingPath, true): Unit
    fs.delete(pubPath, true): Unit
  }

  private def applyBatch(epochId: Long, stagingPath: Path): Unit = {
    val spark = SparkSession.active
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, max}
    val keyCols = keys.map(col)
    val batch = spark.read.schema(schema).parquet(stagingPath.toString)
    val metaCols = Seq("_change_type", "_commit_version")
      .filter(schema.fieldNames.contains)
    val hasType = metaCols.contains("_change_type")
    val hasVer = metaCols.contains("_commit_version")
    val finalRows =
      if (!hasVer) batch
      else {
        val w = Window.partitionBy(keyCols: _*)
        batch.withColumn("__maxv", max(col("_commit_version")).over(w))
          .filter(col("_commit_version") === col("__maxv")).drop("__maxv")
      }
    val inserts = (if (hasType) finalRows.filter(col("_change_type") =!= "delete")
      else finalRows).drop(metaCols: _*)
    // one surviving row per key, or the epoch is ambiguous — fail
    // loudly (Delta's multiple-source-rows-matched MERGE error)
    val dup = inserts.groupBy(keyCols: _*).count()
      .filter(col("count") > 1).limit(1).collect()
    require(dup.isEmpty,
      s"docstore: upsert epoch $epochId resolves ${dup.headOption.orNull} " +
        "to multiple surviving rows for one key — deduplicate upstream " +
        "or provide a _commit_version column")
    // MoR deletes for every touched key: executor-written DV fragments
    val baselineDv = DocStore.dvMap(path, None)
    val fragsDir = new Path(stagingPath, "_frags").toString
    val frags: Map[String, Seq[(String, Long)]] =
      if (DocStore.listFiles(path).isEmpty) Map.empty
      else {
        val touched = batch.select(keyCols: _*).distinct()
        val target = spark.read.format("docstore").option("path", path).load()
        val hits = target
          .select(keyCols :+ col("_file") :+ col("_pos"): _*)
          .join(touched, keys, "left_semi")
          .select(col("_file"), col("_pos"))
        implicit val enc2: org.apache.spark.sql.Encoder[(String, Long)] =
          org.apache.spark.sql.Encoders.tuple(
            org.apache.spark.sql.Encoders.STRING,
            org.apache.spark.sql.Encoders.scalaLong)
        implicit val enc3: org.apache.spark.sql.Encoder[(String, String, Long)] =
          org.apache.spark.sql.Encoders.tuple(
            org.apache.spark.sql.Encoders.STRING,
            org.apache.spark.sql.Encoders.STRING,
            org.apache.spark.sql.Encoders.scalaLong)
        hits.repartition(col("_file")).sortWithinPartitions("_file", "_pos")
          .as[(String, Long)]
          .mapPartitions { it =>
            val out = mutable.Buffer.empty[(String, String, Long)]
            var curFile: String = null
            val buf = mutable.ArrayBuffer.empty[Long]
            def flush(): Unit = if (curFile != null && buf.nonEmpty) {
              val frag = s"$fragsDir/frag-${java.util.UUID.randomUUID()}.bin"
              DocStore.writeDvFile(frag, buf.toArray)
              out += ((curFile, frag, buf.length.toLong))
              buf.clear()
            }
            it.foreach { case (f, p) =>
              if (f != curFile) { flush(); curFile = f }
              buf += p
            }
            flush()
            out.iterator
          }
          .collect() // bindings only — never positions
          .groupBy(t => DocStore.relOf(path, t._1))
          .map { case (rel, fr) => rel -> fr.toSeq.map(t => (t._2, t._3)) }
      }
    // publish surviving rows as data files (routed and bloom-filtered
    // like the target), rename into the store, commit ONE rowdelta
    val pub = pubStore(epochId)
    DocStore.writeStaged(inserts, pub, partitionBy, bloomFor,
      rowGroupBytes = rowGroupBytes)
    val newRels = DocStore.listFiles(pub).map(DocStore.relOf(pub, _))
    DocStore.publish(path, pub, newRels)
    DocStore.commitRowDelta(path, newRels, frags, baselineDv): Unit
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(path).getFileSystem(DocStore.hadoopConf)
    fs.delete(new Path(staging(epochId)), true): Unit
    fs.delete(new Path(pubStore(epochId)), true): Unit
  }
}

/** Group-based COPY-ON-WRITE row-level operation (DELETE / UPDATE /
  * MERGE through the SQL surface): Spark reads the affected rows
  * through [[newScanBuilder]]'s scan, computes the surviving/updated/
  * merged rows, writes them through [[newWriteBuilder]]'s staged sink,
  * and the commit publishes the replacements FIRST and then retires
  * exactly the files the scan read (so a crash mid-commit leaves
  * transient duplication, never data loss — see
  * [[DocStoreBatchWrite.commit]]).
  *
  * Correctness posture — the scan PUSHES NOTHING (`pushFilters`
  * returns every predicate as residual): the optimizer pushes the
  * operation's keep-rows predicate (e.g. `NOT cond` for DELETE) into
  * this scan, and honoring it — at file OR record granularity — would
  * shrink the replaced-group set or drop keep-rows, silently losing
  * data at commit. Group NARROWING instead rides Spark's runtime
  * group filtering: the scan reports only PARTITION columns as
  * filter attributes ([[DocStoreScan.groupFilterOnly]]), so the
  * matched-groups subquery prunes whole files exactly and an
  * unpartitioned store simply rewrites everything (correct, and the
  * documented granularity). The write clusters by the store's
  * partition keys like any sink write, so a rewrite never explodes
  * file counts. */
class DocStoreRowLevelOperation(
    path: String,
    tableSchema: StructType,
    partitionBy: Seq[String],
    cmd: RowLevelOperation.Command,
    renames: Map[String, Seq[String]] = Map.empty) extends RowLevelOperation {

  @volatile private var opScan: DocStoreScan = _

  override def command(): RowLevelOperation.Command = cmd

  override def description(): String =
    s"DocStoreRowLevelOperation($cmd, path=$path)"

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new DocStoreScanBuilder(path, tableSchema, renames = renames) {
      override def pushFilters(filters: Array[Filter]): Array[Filter] = filters
      override def pushAggregation(agg: Aggregation): Boolean = false
      override def build(): Scan = {
        val s = super.build().asInstanceOf[DocStoreScan]
          .copy(groupFilterOnly = true)
        opScan = s
        s
      }
    }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write with RequiresDistributionAndOrdering {
        override def requiredDistribution(): Distribution =
          if (partitionBy.isEmpty) Distributions.unspecified()
          else Distributions.clustered(
            partitionBy.map(c =>
              Expressions.identity(c).asInstanceOf[ConnExpression]).toArray)
        override def requiredOrdering(): Array[ConnSortOrder] =
          partitionBy.map(c =>
            Expressions.sort(Expressions.column(c), SortDirection.ASCENDING)).toArray
        override def toBatch: BatchWrite =
          DocStoreBatchWrite(path, info.schema(), partitionBy,
            info.queryId(), truncateFirst = false, rowGroupBytes = None,
            replaceFiles = Some(() =>
              Option(opScan).map(_.currentFiles).getOrElse(Nil)),
            expectOpColumn = true,
            bloomFor = DocStore.bloomColumns(path, info.options(),
              info.schema(), partitionBy),
            replacedDvs = () =>
              Option(opScan).map(_.dvByRel).getOrElse(Map.empty))
        override def description(): String =
          s"DocStoreCopyOnWrite($cmd, path=$path)"
      }
    }
}

/** MERGE-ON-READ row-level operations via Spark's DELTA write path
  * (`SupportsDelta`) — the DSv2 face of Delta Lake deletion vectors /
  * Iceberg v2 position deletes. Where the group-based operation above
  * REWRITES every file holding a matched row (copy-on-write: right at
  * read time, brutal at 100 TB when a MERGE's matches scatter across
  * partitions), this one writes what actually changed:
  *
  *  - deletes arrive as (_file, _pos) row ids → a per-file DELETION
  *    VECTOR sidecar, committed as `#dv` manifest bindings in the same
  *    snapshot; readers subtract the positions at scan time;
  *  - inserts (and the insert half of updates —
  *    `representUpdateAsDeleteAndInsert`) stage as ordinary new files;
  *  - a file whose DV would cover EVERY row is retired outright
  *    instead (no 100%-dead file ever carries a vector).
  *
  * The operation scan is a NORMAL pushdown scan — unlike the
  * copy-on-write scan it pushes predicates freely, because only
  * matched rows are touched: `DELETE WHERE pred` reads the pred's
  * row-group survivors, not whole file groups. Existing DVs apply
  * during the scan, so re-deleting an already-deleted row is
  * impossible by construction.
  *
  * Concurrency: the snapshot commit validates that every DV'd file is
  * still present with an UNCHANGED binding versus the operation's read
  * snapshot — a concurrent rewrite/compaction/other row-level op on
  * the same file aborts (Iceberg's validate-no-conflicts posture);
  * operations on disjoint files serialize cleanly through the
  * optimistic manifest race. */
class DocStoreDeltaOperation(
    path: String,
    tableSchema: StructType,
    partitionBy: Seq[String],
    cmd: RowLevelOperation.Command,
    renames: Map[String, Seq[String]] = Map.empty) extends RowLevelOperation with SupportsDelta {

  override def command(): RowLevelOperation.Command = cmd

  override def description(): String =
    s"DocStoreDeltaOperation($cmd, path=$path, mor)"

  override def rowId(): Array[NamedReference] =
    Array(Expressions.column("_file"), Expressions.column("_pos"))

  override def representUpdateAsDeleteAndInsert(): Boolean = true

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new DocStoreScanBuilder(path, tableSchema, renames = renames) {
      // the scan feeds a row-accurate delta computation: aggregate
      // pushdown would collapse it to footer rows
      override def pushAggregation(agg: Aggregation): Boolean = false
    }

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = new DeltaWrite with RequiresDistributionAndOrdering {
        // a pure DELETE's delta plan carries ONLY (operation, row id)
        // — no data columns to cluster on; UPDATE/MERGE plans carry
        // the insert rows' data columns, which cluster like any sink
        // write so new files stay one-per-partition-per-task
        private def deleteOnly = cmd == RowLevelOperation.Command.DELETE
        override def requiredDistribution(): Distribution =
          if (partitionBy.isEmpty || deleteOnly) Distributions.unspecified()
          else Distributions.clustered(
            partitionBy.map(c =>
              Expressions.identity(c).asInstanceOf[ConnExpression]).toArray)
        override def requiredOrdering(): Array[ConnSortOrder] =
          if (partitionBy.isEmpty || deleteOnly) Array.empty
          else partitionBy.map(c =>
            Expressions.sort(Expressions.column(c), SortDirection.ASCENDING)).toArray
        override def toBatch: DeltaBatchWrite =
          new DocStoreDeltaBatchWrite(path, info.schema(), partitionBy,
            info.queryId(), DocStore.bloomColumns(path, info.options(),
              info.schema(), partitionBy))
        override def description(): String =
          s"DocStoreMergeOnRead($cmd, path=$path)"
      }
    }
}

/** Driver side of the merge-on-read write: collects each task's staged
  * insert files and per-file deletion-vector FRAGMENT bindings, then
  * commits ONE `rowdelta` snapshot that adds the files, merges the
  * fragments into each file's (possibly pre-existing) deletion
  * vector, and retires any file the merged vector would fully cover.
  *
  * Scale posture: no deleted POSITION ever crosses the commit-message
  * RPC or accumulates globally on the driver — tasks stage per-file
  * DV-encoded fragments under the write's staging dir and the message
  * carries only (dataRel, fragRel, count) triples, the same shape
  * Iceberg position-delete files and Delta DV descriptors commit. A
  * predicate DELETE matching 10⁹ rows at 100 TB is then O(files
  * touched) driver metadata; position bytes stay on the filesystem.
  * Driver memory during commit is bounded by ONE file's positions at
  * a time (the per-file merge), itself bounded by rows-per-file, and
  * the common fresh-file single-fragment case is a pure RENAME — the
  * fragment is promoted to the DV with no decode at all. The
  * fully-dead check answers from manifest `#stat` row counts (footer
  * fallback only for stat-less files), and a candidate-dead file is
  * CONFIRMED by exact merged cardinality before being retired, so an
  * unexpected positional overlap degrades to a conservative DV, never
  * to data loss. */
class DocStoreDeltaBatchWrite(
    path: String,
    rowSchema: StructType,
    partitionBy: Seq[String],
    queryId: String,
    bloomFor: Seq[String]) extends DeltaBatchWrite {

  private def staging = s"$path/_staging-$queryId"

  // the operation's read snapshot's DV bindings — the conflict baseline
  private val baselineDv: Map[String, String] = DocStore.dvMap(path, None)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory =
    DocStoreDeltaWriterFactory(path, staging, rowSchema, partitionBy, bloomFor)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val newRels = messages.toSeq.flatMap {
      case DocStoreDeltaCommitMessage(rels, _) => rels
      case _ => Nil
    }
    // fragments per data file (tasks' position sets are disjoint by
    // construction — a (_file, _pos) row id exists once in the scan)
    val frags: Map[String, Seq[(String, Long)]] = messages.toSeq.flatMap {
      case DocStoreDeltaCommitMessage(_, fr) => fr
      case _ => Nil
    }.groupBy(_.dataRel).map { case (rel, fr) =>
      rel -> fr.map(f => (s"$staging/${f.fragRel}", f.count))
    }
    DocStore.publish(path, staging, newRels)
    DocStore.commitRowDelta(path, newRels, frags, baselineDv): Unit
    val stagingPath = new Path(staging)
    stagingPath.getFileSystem(DocStore.hadoopConf).delete(stagingPath, true): Unit
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val stagingPath = new Path(staging)
    stagingPath.getFileSystem(DocStore.hadoopConf).delete(stagingPath, true): Unit
  }
}

/** One task's deletion-vector fragment for one data file: the DV
  * sidecar it staged (DV-encoded, under the write's staging dir) and
  * its exact position count. The commit-message shape — bindings and
  * counts only, NEVER raw positions. */
case class DocStoreDvFragment(dataRel: String, fragRel: String, count: Long)

case class DocStoreDeltaCommitMessage(
    stagedRels: Seq[String],
    dvFragments: Seq[DocStoreDvFragment]) extends WriterCommitMessage

case class DocStoreDeltaWriterFactory(
    path: String,
    staging: String,
    rowSchema: StructType,
    partitionBy: Seq[String],
    bloomFor: Seq[String]) extends DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new DocStoreDeltaWriter(path, staging, rowSchema, partitionBy,
      partitionId, taskId, bloomFor)
}

/** Task side: inserts delegate to the ordinary staging parquet writer;
  * deletes accumulate (file → positions). An UPDATE arrives pre-split
  * (`representUpdateAsDeleteAndInsert`), so `update` only exists as a
  * defensive delegation. */
class DocStoreDeltaWriter(
    path: String,
    staging: String,
    rowSchema: StructType,
    partitionBy: Seq[String],
    partitionId: Int,
    taskId: Long,
    bloomFor: Seq[String] = Nil) extends DeltaWriter[InternalRow] {

  // a pure DELETE has NO row schema (the delta plan carries only
  // operation + row id) — the insert writer must never materialize
  private lazy val inserts =
    new DocStoreDataWriter(staging, rowSchema,
      partitionBy.filter(rowSchema.fieldNames.contains), partitionId, taskId,
      bloomFor = bloomFor)
  private var wroteInserts = false
  private val deleted = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Long]]

  override def delete(metadata: InternalRow, id: InternalRow): Unit = {
    val file = id.getUTF8String(0).toString
    val pos = id.getLong(1)
    deleted.getOrElseUpdate(file, mutable.ArrayBuffer.empty[Long]) += pos
  }

  override def update(metadata: InternalRow, id: InternalRow, row: InternalRow): Unit = {
    delete(metadata, id)
    insert(row)
  }

  override def insert(row: InternalRow): Unit = {
    wroteInserts = true
    inserts.write(row)
  }

  override def commit(): WriterCommitMessage = {
    val staged =
      if (!wroteInserts) Nil
      else inserts.commit() match {
        case m: DocStoreCommitMessage => m.relPaths
        case _ => Nil
      }
    // stage each file's positions as a DV-encoded fragment HERE, on
    // the task — the commit message carries only the binding + count,
    // so a billion-row delete never transits the driver's RPC path
    val frags = deleted.toSeq.map { case (f, ps) =>
      val dataRel = DocStore.relOf(path, f)
      val fragRel = s"${DocStore.DeletesDir}/frag-$partitionId-$taskId-" +
        s"${java.util.UUID.randomUUID()}.bin"
      val sorted = ps.toArray.sorted
      DocStore.writeDvFile(new Path(staging, fragRel).toString, sorted)
      DocStoreDvFragment(dataRel, fragRel, sorted.length.toLong)
    }
    DocStoreDeltaCommitMessage(staged, frags)
  }

  override def abort(): Unit = if (wroteInserts) inserts.abort()

  override def close(): Unit = if (wroteInserts) inserts.close()
}

/** Driver-side commit protocol of every batch write: appends,
  * overwrites, copy-on-write row-level operations and compaction.
  * Tasks write only under `<path>/_staging-<queryId>` (underscore-
  * prefixed → invisible to every reader's listing); commit publishes
  * by renaming staged files into the store, then retires every file
  * (a truncate) or exactly `replaceFiles` — a copy-on-write scan's
  * groups, or with `truncateFirst` a restricted table's files
  * (compaction, op `compact`). Abort deletes the staging tree and the
  * store is untouched. Concurrent writers stage under different
  * queryIds and never collide. */
case class DocStoreBatchWrite(
    path: String,
    schema: StructType,
    partitionBy: Seq[String],
    queryId: String,
    truncateFirst: Boolean,
    rowGroupBytes: Option[Long] = None,
    replaceFiles: Option[() => Seq[String]] = None,
    expectOpColumn: Boolean = false,
    snapshots: Boolean = false,
    bloomFor: Seq[String] = Nil,
    branchTo: Option[String] = None,
    // the deletion-vector bindings (data rel → DV rel) the replaced
    // files' rows were read through
    replacedDvs: () => Map[String, String] = () => Map.empty) extends BatchWrite {

  private def staging = s"$path/_staging-$queryId"
  // a truncate with no replaced files empties the whole store
  private def wipes = truncateFirst && replaceFiles.isEmpty
  // (files added, snapshot version made), once committed
  @volatile private var committed: Option[(Long, Option[Long])] = None

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    DocStoreWriterFactory(staging, schema, partitionBy, rowGroupBytes,
      expectOpColumn, bloomFor)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val conf = DocStore.hadoopConf
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    fs.mkdirs(root)
    // snapshot mode (pre-existing `_snapshots/`, or bootstrapped by
    // this write's `snapshots=true` option): visibility moves ONLY at
    // the manifest swap below, so nothing is physically deleted here —
    // truncated/replaced files stay on disk as older versions' content
    // (time travel) until a vacuum reclaims them.
    val snapMode = snapshots || DocStore.snapshotEnabled(path)
    require(branchTo.isEmpty || snapMode,
      s"docstore: branch writes need a snapshot store — $path is plain")
    if (wipes && !snapMode) {
      fs.listStatus(root).foreach { s =>
        val n = s.getPath.getName
        if (!n.startsWith("_") && !n.startsWith(".")) {
          if (s.isFile && n.endsWith(".parquet")) fs.delete(s.getPath, false)
          else if (s.isDirectory && n.contains("=")) fs.delete(s.getPath, true)
        }
      }
    }
    val stagingPath = new Path(staging)
    val newRels = messages.toSeq.flatMap {
      case m: DocStoreCommitMessage => m.relPaths
      case _ => Nil
    }
    DocStore.publish(path, staging, newRels)
    val replaced = replaceFiles.toSeq.flatMap(_.apply())
    val version =
      if (!snapMode) {
        // PUBLISH-BEFORE-RETIRE on purpose: a crash inside this window
        // leaves old AND new files visible — transient DUPLICATION a
        // retried operation or a cleanup can reconcile — whereas
        // retire-first would lose every surviving row of the replaced
        // files on the same crash
        replaced.foreach(f => DocStore.retireFile(fs, new Path(f)))
        None
      } else {
        // ONE manifest swap publishes the new files and retires the
        // replaced/truncated ones together — readers see the old set or
        // the new set, never a mix, whatever this commit crashed through
        // before the swap (staged/renamed files outside the manifest are
        // invisible).
        val retired = replaced.map(DocStore.relOf(path, _)).toSet
        val readDvs = if (retired.isEmpty) Map.empty[String, String] else replacedDvs()
        val op =
          if (wipes) "overwrite"
          else if (truncateFirst) "compact"
          else if (retired.nonEmpty) "merge" // copy-on-write DELETE/UPDATE/MERGE
          else "append"
        def conflict(what: String, rels: Iterable[String]) =
          new IllegalStateException(
            s"docstore: write-write conflict at $path — $what " +
              rels.take(3).mkString(", ") +
              (if (rels.size > 3) s" (+${rels.size - 3} more)" else "") +
              "; retry the operation against the current snapshot")
        try Some(DocStore.commitSnapshotWithDvs(path, op = op, branch = branchTo) { (base, dvs) =>
          // WRITE-WRITE CONFLICT detection: this write computed its rows
          // FROM the retired files, so each must still be live and bound
          // to the deletion vector it was read through; else a concurrent
          // commit (compaction, DELETE, another MERGE) would be silently
          // undone. Every table format aborts here (Iceberg's validation
          // exceptions). The optimistic retry re-invokes this closure
          // against the WINNER's base, so it sees the serialized truth.
          val gone = retired.filterNot(base.toSet)
          if (gone.nonEmpty) throw conflict("a concurrent commit already retired", gone)
          val moved = retired.filter(rel => dvs.get(rel) != readDvs.get(rel))
          if (moved.nonEmpty)
            throw conflict("a concurrent row-level operation changed the deletion vector of", moved)
          // retired files' DV bindings are pruned by the commit core
          ((if (wipes) Nil else base.filterNot(retired)) ++ newRels, dvs)
        }) catch {
          case e: IllegalStateException =>
            // aborted swap: the published files were never referenced
            // by any manifest (invisible to readers) — sweep them so the
            // failed attempt leaves no litter for vacuum to explain
            newRels.foreach(rel => DocStore.retireFile(fs, new Path(root, rel)))
            fs.delete(stagingPath, true)
            throw e
        }
      }
    fs.delete(stagingPath, true): Unit
    committed = Some((newRels.size.toLong, version))
  }

  /** The outcome as [[DocStoreFilesAdded]] and (snapshot stores)
    * [[DocStoreCommittedVersion]] driver metrics, once committed. */
  def committedMetrics: Array[CustomTaskMetric] =
    committed.toArray.flatMap { case (files, version) =>
      (("filesAdded" -> files) +: version.map("committedVersion" -> _).toSeq).map {
        case (n, v) => new CustomTaskMetric { def name(): String = n; def value(): Long = v }
      }
    }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val stagingPath = new Path(staging)
    stagingPath.getFileSystem(DocStore.hadoopConf).delete(stagingPath, true): Unit
  }
}

/** Driver metrics a batch write reports once committed: the data files
  * it added, and the snapshot version it made. A plain store reports no
  * version, so that metric keeps its initial 0, which no version takes.
  * Compaction reads its `CompactStats` from them. */
class DocStoreFilesAdded extends CustomSumMetric {
  override def name(): String = "filesAdded"
  override def description(): String = "data files the commit added"
}
class DocStoreCommittedVersion extends CustomSumMetric {
  override def name(): String = "committedVersion"
  override def description(): String = "snapshot version the commit made"
}

/** The files one task staged, relative to the staging root. */
case class DocStoreCommitMessage(relPaths: Seq[String]) extends WriterCommitMessage

case class DocStoreWriterFactory(
    staging: String,
    schema: StructType,
    partitionBy: Seq[String],
    rowGroupBytes: Option[Long] = None,
    expectOpColumn: Boolean = false,
    bloomFor: Seq[String] = Nil) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DocStoreDataWriter(staging, schema, partitionBy, partitionId, taskId,
      rowGroupBytes, expectOpColumn, bloomFor = bloomFor)
}

/** Task-side writer: routes rows to one open parquet writer per
  * partition value (Hive `k=v` subdirectories under staging), strips
  * partition columns from the written data — they live in the path,
  * exactly like Spark's own sink — and reports its staged files
  * relative to the staging root so the driver can publish them. Each
  * file's footer carries its columns' NDV estimates
  * ([[DocStore.NdvFooterKey]]), so whichever commit publishes the file
  * records them in its `#stat` line. */
class DocStoreDataWriter(
    staging: String,
    schema: StructType,
    partitionBy: Seq[String],
    partitionId: Int,
    taskId: Long,
    rowGroupBytes: Option[Long] = None,
    expectOpColumn: Boolean = false,
    // DETERMINISTIC file naming (streaming epochs): when set, staged
    // names are part-<partitionId><suffix>.parquet — no taskId, no
    // UUID — so a RETRIED task (or a re-executed epoch) stages onto
    // the same paths (writer opens OVERWRITE) and the epoch commit
    // renames onto the same destinations instead of adding new files.
    // Batch writes keep attempt-unique names (separate appends to one
    // store must never collide across commits).
    fileSuffix: Option[String] = None,
    // data columns to write parquet bloom filters for, as
    // [[DocStore.bloomColumns]] resolved them on the driver
    bloomFor: Seq[String] = Nil) extends DataWriter[InternalRow] {

  private val partIdx: Seq[(String, Int, DataType)] = partitionBy.map { c =>
    val i = schema.fieldIndex(c)
    (c, i, schema.fields(i).dataType)
  }
  private val dataFields: Seq[(Int, StructField)] =
    schema.fields.zipWithIndex.collect {
      case (f, i) if !partitionBy.contains(f.name) => (i, f)
    }.toSeq
  private val msgType = DocStore.toMessageType(
    StructType(dataFields.map(_._2)))
  private val factory = new SimpleGroupFactory(msgType)

  private val writers = mutable.LinkedHashMap.empty[String, ParquetWriter[Group]]
  private val files = ArrayBuffer.empty[String]
  // per-file, per-data-column NDV sketches (flat columns only) — the
  // write-time measurement each file's footer carries
  private val ndvTracked: Array[Boolean] =
    dataFields.map(f => DocStore.ndvTracked(f._2.dataType)).toArray
  private val sketches = mutable.LinkedHashMap.empty[String, Array[DocStore.NdvSketch]]

  private def writerFor(relDir: String): ParquetWriter[Group] =
    writers.getOrElseUpdate(relDir, {
      val name = fileSuffix match {
        case Some(sfx) => f"part-$partitionId%05d$sfx.parquet"
        case None =>
          f"part-$partitionId%05d-$taskId-${java.util.UUID.randomUUID()}.parquet"
      }
      val rel = (if (relDir.isEmpty) "" else relDir + "/") + name
      files += rel
      val sk = Array.fill(dataFields.length)(new DocStore.NdvSketch)
      sketches(relDir) = sk
      val b = new DocStore.GroupWriterBuilder(
        HadoopOutputFile.fromPath(new Path(s"$staging/$rel"), DocStore.hadoopConf),
        msgType,
        () => dataFields.zipWithIndex.collect {
          case ((_, f), j) if ndvTracked(j) => f.name -> sk(j).estimate()
        }.toMap)
        .withConf(DocStore.hadoopConf)
        // deterministic names must tolerate a task-retry re-stage
        .withWriteMode(if (fileSuffix.isDefined) ParquetFileWriter.Mode.OVERWRITE
          else ParquetFileWriter.Mode.CREATE)
        .withCompressionCodec(CompressionCodecName.ZSTD)
      // `rowGroupBytes` write option: bounded row groups give a
      // sortBy'd layout MANY disjoint-stat row groups per file, so
      // read-back range predicates prune at row-group granularity
      // (and split planning fans one file out across tasks)
      rowGroupBytes.foreach(n => b.withRowGroupSize(n))
      // adaptive bloom sizing: each row group's filter is the smallest
      // power-of-two candidate whose capacity at the default fpp holds
      // the keys it saw (see [[DocStore.bloomColumns]])
      bloomFor.foreach { c =>
        b.withBloomFilterEnabled(c, true).withAdaptiveBloomFilterEnabled(true)
          .withBloomFilterCandidateNumber(c, DocStore.BloomCandidates)
      }
      b.build()
    })

  override def write(row: InternalRow): Unit = {
    // Row-level (ReplaceData) writes deliver rows with a LEADING
    // __row_operation int column UNPROJECTED whenever the operation
    // declares no metadata columns — Spark 4.1's ReplaceDataExec only
    // applies its row projection on the metadata path
    // (ReplaceDataExec.writingTask falls back to DataWritingSparkTask
    // otherwise). Detect per row so a future Spark that projects keeps
    // working unchanged.
    val off = if (expectOpColumn && row.numFields == schema.length + 1) 1 else 0
    val relDir = partIdx.map { case (c, i, dt) =>
      s"$c=${DocStore.partitionValueString(row, i + off, dt)}"
    }.mkString("/")
    val g = factory.newGroup()
    val w = writerFor(relDir)
    val sk = sketches(relDir)
    var j = 0
    while (j < dataFields.length) {
      val (i, f) = dataFields(j)
      if (!row.isNullAt(i + off)) {
        DocStore.addValue(g, j, f.dataType, row, i + off)
        if (ndvTracked(j)) sk(j).update(DocStore.ndvHash(f.dataType, row, i + off))
      }
      j += 1
    }
    w.write(g)
  }

  override def commit(): WriterCommitMessage = {
    writers.values.foreach(_.close())
    DocStoreCommitMessage(files.toSeq)
  }

  override def abort(): Unit = close()

  override def close(): Unit = writers.values.foreach(_.close())
}

// ---------------------------------------------------------------------------
// Shared schema / predicate / conversion machinery
// ---------------------------------------------------------------------------

/** Shared schema/predicate machinery for the docstore connector. */
object DocStore {

  val HiveDefaultPartition = "__HIVE_DEFAULT_PARTITION__"

  /** One shared, read-only Hadoop Configuration for every store
    * helper. Constructing a Configuration is NOT free — each instance
    * re-parses the default XML resources on first property access —
    * and the helpers here run per metadata scan, sometimes per FILE
    * (relOf, dvCardinality), and the split reader per row group. Only
    * code that never builds a Configuration of its own pays no parse:
    * parquet's Path-based `ParquetReader.builder` and the one-argument
    * `ParquetFileReader.open` each build a fresh one, so the split
    * reader opens files through `HadoopInputFile` over this conf and
    * passes its projection through the read support, and footer reads
    * pass read options built from this conf. Nothing may `set` a key
    * here; the file writer uses it as is, because its write support
    * ([[GroupWriterBuilder]]) takes the schema directly instead of
    * through the conf. Resources are force-loaded once at init, so a
    * user of this conf pays no parse. */
  val hadoopConf: Configuration = {
    val c = new Configuration()
    c.get("fs.defaultFS"): Unit
    c
  }

  /** Fixed 2¹¹-register hyperloglog over 64-bit hashes — the sink's
    * per-file, per-column NDV measurement (~2.3% typical error, 2 KB
    * per column WHILE writing, one Long per column once written). The
    * one planning statistic parquet's own column statistics lack,
    * measured at the only moment it is free: while the writer already
    * has every row in hand. The estimates travel in the file's footer
    * ([[NdvFooterKey]]) and land in the `#stat` line of the commit that
    * publishes the file. */
  final class NdvSketch {
    private val p = 11
    private val m = 1 << p
    private[this] val regs = new Array[Byte](m)
    def update(h: Long): Unit = {
      val idx = (h >>> (64 - p)).toInt
      val w = h << p
      val rank = (if (w == 0L) 64 - p else java.lang.Long.numberOfLeadingZeros(w)) + 1
      if (rank > regs(idx)) regs(idx) = rank.toByte
    }
    def estimate(): Long = {
      var sum = 0.0
      var zeros = 0
      var i = 0
      while (i < m) {
        val r = regs(i)
        sum += 1.0 / (1L << r)
        if (r == 0) zeros += 1
        i += 1
      }
      val alpha = 0.7213 / (1 + 1.079 / m)
      val raw = alpha * m * m / sum
      val est = if (raw <= 2.5 * m && zeros > 0) m * math.log(m.toDouble / zeros) else raw
      math.max(1L, math.round(est))
    }
  }

  /** Footer key-value entry holding a docstore-written file's NDV
    * estimates: `name=estimate` pairs joined by `;`, names URL-encoded.
    * Files written by anything else lack it, and their `#stat` lines
    * carry no ndv. */
  val NdvFooterKey = "docstore.ndv"

  /** Parquet writer of example `Group`s whose footer carries the NDV
    * estimates `ndv` returns once the last row is in. A builder of its
    * own because `ExampleParquetWriter.Builder`'s constructors are
    * private; its write support takes the schema directly, so the
    * Hadoop conf it is given stays untouched. */
  final class GroupWriterBuilder(file: OutputFile, schema: MessageType,
      ndv: () => Map[String, Long])
      extends ParquetWriter.Builder[Group, GroupWriterBuilder](file) {
    override protected def self(): GroupWriterBuilder = this
    override protected def getWriteSupport(conf: Configuration): WriteSupport[Group] =
      new WriteSupport[Group] {
        private var writer: GroupWriter = _
        override def init(conf: Configuration): WriteSupport.WriteContext =
          new WriteSupport.WriteContext(schema, java.util.Collections.emptyMap[String, String]())
        override def prepareForWrite(rc: RecordConsumer): Unit =
          writer = new GroupWriter(rc, schema)
        override def write(g: Group): Unit = writer.write(g)
        override def finalizeWrite(): WriteSupport.FinalizedWriteContext =
          new WriteSupport.FinalizedWriteContext(java.util.Collections.singletonMap(
            NdvFooterKey, ndv().map { case (n, v) =>
              s"${java.net.URLEncoder.encode(n, "UTF-8")}=$v" }.mkString(";")))
      }
  }

  /** Is `dt` a type the sink NDV-sketches? (Flat comparable values;
    * nested/binary columns are skipped.) */
  def ndvTracked(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | ShortType | BooleanType | DateType |
         DoubleType | FloatType | TimestampType | TimestampNTZType |
         StringType => true
    case _ => false
  }

  /** Deterministic 64-bit value hash for NDV sketching (splitmix64
    * finalizer; FNV-1a over bytes for strings). */
  def ndvHash(dt: DataType, row: InternalRow, i: Int): Long = {
    def mix(z0: Long): Long = {
      var z = z0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    dt match {
      case LongType | TimestampType | TimestampNTZType => mix(row.getLong(i))
      case IntegerType | DateType => mix(row.getInt(i).toLong)
      case ShortType => mix(row.getShort(i).toLong)
      case BooleanType => mix(if (row.getBoolean(i)) 1L else 0L)
      case DoubleType => mix(java.lang.Double.doubleToLongBits(row.getDouble(i)))
      case FloatType => mix(java.lang.Float.floatToIntBits(row.getFloat(i)).toLong)
      case StringType =>
        val b = row.getUTF8String(i).getBytes
        var h = 0xcbf29ce484222325L
        var k = 0
        while (k < b.length) { h ^= (b(k) & 0xffL); h *= 0x100000001b3L; k += 1 }
        mix(h)
      case _ => 0L
    }
  }

  def pathOf(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null && p.nonEmpty, "docstore: `path` option is required")
    p
  }

  def partitionByOf(options: CaseInsensitiveStringMap): Seq[String] =
    Option(options.get("partitionBy")).toSeq
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))

  /** Within-file sort columns for the sink's required ordering (zone-
    * map locality on read-back); applied AFTER the partition columns. */
  def sortByOf(options: CaseInsensitiveStringMap): Seq[String] =
    Option(options.get("sortBy")).toSeq
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))

  /** Target parquet row-group size for the sink (bytes). */
  def rowGroupBytesOf(options: CaseInsensitiveStringMap): Option[Long] =
    Option(options.get("rowGroupBytes")).map(_.trim.toLong)

  /** The store's BLOOM COLUMNS: the one function that decides which
    * data columns of a write carry parquet bloom filters. Point lookups
    * on an unsorted high-cardinality column are the case zone maps
    * can't serve — every row group's min/max straddles the probe — so
    * at 100 TB `WHERE key = x` reads every data page. A bloom filter
    * per row group turns that into a footer-and-bitset check:
    * parquet-mr's own RowGroupFilter consults it on the read path (the
    * reader's FilterCompat predicate), no reader changes needed.
    *
    * THE RECORD: the columns are a property of the store, not of one
    * write. The first write whose `bloomFor` option names columns
    * records them, as exact-case data-column names, in the root file
    * [[BloomRecord]] (plain and snapshot stores alike; the underscore
    * keeps it out of listings). The rules, applied on the driver
    * before any task runs:
    *  - `bloomFor` names resolve against the write schema
    *    CASE-INSENSITIVELY, the way Spark resolves columns; an unknown
    *    name is an ERROR (a silently ignored typo means no filter and
    *    no warning, found only when a point lookup reads every page);
    *  - partition columns resolve but are dropped: they live in the
    *    directory path, where file pruning serves them exactly;
    *  - once a record exists, naming a recorded column again is a
    *    no-op and naming any other column fails with the recorded set
    *    (the set is fixed by its first write; `bloomFor` is still the
    *    only way to set it);
    *  - `ALTER TABLE … RENAME/DROP COLUMN` edit the record
    *    ([[alterBloomColumns]]).
    * Returns the recorded columns present in this write's schema, in
    * the schema's exact case, partition columns dropped. Every writer
    * builds its data writers from this result: batch append, streaming
    * append, copy-on-write and merge-on-read row-level operations, the
    * streaming upsert sink's publish write, and compaction.
    *
    * SIZING: the writer sees rows as a stream, so no NDV is known up
    * front. Parquet's adaptive filter keeps [[BloomCandidates]]
    * power-of-two candidate bitsets per open row group — the 1 MiB cap
    * (`ParquetProperties.DEFAULT_MAX_BLOOM_FILTER_BYTES`) halving down
    * to its smallest useful size — drops each candidate once the
    * distinct count passes its capacity at the default 1 % fpp, and
    * writes the smallest one left. A filter therefore costs about
    * 10 bits per distinct key of its row group (a few hundred keys →
    * ~1 KiB), never more than the 1 MiB cap; a fixed-size filter would
    * cost the full 1 MiB per row group however few keys it held. The
    * price is transient memory: the candidates together take up to
    * ~2 MiB (instead of 1 MiB) per bloom column per open writer, freed
    * when the row group flushes. */
  def bloomColumns(path: String, options: CaseInsensitiveStringMap,
      schema: StructType, partitionBy: Seq[String]): Seq[String] = {
    def resolve(c: String) = schema.fieldNames.find(_.equalsIgnoreCase(c))
    val named = Option(options.get("bloomFor")).toSeq
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
      .map(c => resolve(c).getOrElse(throw new IllegalArgumentException(
        s"docstore: bloomFor column '$c' is not in the write schema " +
          schema.fieldNames.mkString("[", ",", "]"))))
      .filterNot(partitionBy.contains).distinct
    val recorded = readBloomRecord(path) match {
      case None if named.nonEmpty => claimBloomRecord(path, named)
      case r => r.getOrElse(Nil)
    }
    val outside = named.filterNot(c => recorded.exists(_.equalsIgnoreCase(c)))
    require(outside.isEmpty,
      s"docstore: bloomFor column(s) ${outside.mkString("'", "', '", "'")} " +
        s"not among the store's bloom columns ${recorded.mkString("[", ",", "]")} " +
        s"recorded in $path/$BloomRecord by its first bloomFor write")
    recorded.flatMap(resolve).filterNot(partitionBy.contains)
  }

  /** Root file holding a store's bloom columns, one per line. */
  val BloomRecord = "_bloom"

  private def bloomRecordPath(path: String) = new Path(path, BloomRecord)

  private def bloomRecordBytes(names: Seq[String]) =
    names.mkString("", "\n", "\n").getBytes("UTF-8")

  /** The recorded bloom columns; None for a store without a record (or
    * one whose first writer has created but not yet filled it). */
  private def readBloomRecord(path: String): Option[Seq[String]] = {
    val f = bloomRecordPath(path)
    val fs = f.getFileSystem(hadoopConf)
    if (!fs.exists(f)) None
    else {
      val in = fs.open(f)
      val names =
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
          .map(_.trim).filter(_.nonEmpty).toList
        finally in.close()
      Some(names).filter(_.nonEmpty)
    }
  }

  /** First `bloomFor` write: claim the record exclusively. A concurrent
    * first write that lost the race adopts the winner's record (and is
    * then checked against it like any later write). */
  private def claimBloomRecord(path: String, names: Seq[String]): Seq[String] = {
    val f = bloomRecordPath(path)
    try {
      val out = createExclusive(f.getFileSystem(hadoopConf), f)
      try out.write(bloomRecordBytes(names)) finally out.close()
      names
    } catch {
      case _: java.nio.file.FileAlreadyExistsException |
           _: org.apache.hadoop.fs.FileAlreadyExistsException =>
        Iterator.continually { Thread.sleep(10); readBloomRecord(path) }
          .take(500).collectFirst { case Some(r) => r }
          .getOrElse(throw new IllegalStateException(
            s"docstore: $path/$BloomRecord exists but stayed empty"))
    }
  }

  /** `ALTER TABLE … RENAME/DROP COLUMN` on the record: `edit` maps each
    * recorded name to its new name, or to None when the column is
    * gone. A record left empty is deleted, so a later `bloomFor` write
    * may record afresh. */
  def alterBloomColumns(path: String)(edit: String => Option[String]): Unit =
    readBloomRecord(path).foreach { names =>
      val next = names.flatMap(edit)
      val f = bloomRecordPath(path)
      val fs = f.getFileSystem(hadoopConf)
      if (next.isEmpty) fs.delete(f, false): Unit
      else if (next != names) {
        val out = fs.create(f, true)
        try out.write(bloomRecordBytes(next)) finally out.close()
      }
    }

  /** Append `df` to a private staging store, routed by `partitionBy`
    * and filtered on `bloomFor` — the owning store's [[bloomColumns]].
    * The upsert sink's publish is the one caller: its commit binds
    * deletion-vector fragments beside the new files, which the batch
    * write does not carry. */
  def writeStaged(df: DataFrame, staging: String, partitionBy: Seq[String],
      bloomFor: Seq[String], sortBy: Seq[String] = Nil,
      rowGroupBytes: Option[Long] = None): Unit =
    df.write.format("docstore").option("path", staging)
      .options(Seq("partitionBy" -> partitionBy, "sortBy" -> sortBy,
        "bloomFor" -> bloomFor).collect {
        case (k, cs) if cs.nonEmpty => k -> cs.mkString(",")
      }.toMap ++ rowGroupBytes.map(n => "rowGroupBytes" -> n.toString))
      .mode("append").save()

  /** Adaptive bloom candidates per column: one per power-of-two size
    * from the 1 MiB cap down to the 32 B floor of a split-block filter
    * (16 sizes). Parquet skips the ones too small for its 500-key
    * capacity step, so in practice the smallest filter is 1 KiB. */
  val BloomCandidates: Int = Integer.numberOfTrailingZeros(
    ParquetProperties.DEFAULT_MAX_BLOOM_FILTER_BYTES /
      BlockSplitBloomFilter.LOWER_BOUND_BYTES) + 1

  /** Streaming-read options, parsed once at the scan boundary:
    * admission control by files and/or whole-file bytes, the
    * historical tail-from entry point, and the rewrite-commit
    * posture. */
  final case class StreamOpts(
      maxFilesPerTrigger: Option[Int] = None,
      maxBytesPerTrigger: Option[Long] = None,
      startingVersion: Option[Long] = None,
      onRewrite: String = "skip",
      changeFeed: Boolean = false,
      filters: Option[String] = None)

  def streamOptsOf(options: CaseInsensitiveStringMap): StreamOpts = StreamOpts(
    Option(options.get("maxFilesPerTrigger")).map(_.trim.toInt),
    Option(options.get("maxBytesPerTrigger")).map(_.trim.toLong),
    Option(options.get("startingVersion")).map(_.trim.toLong),
    Option(options.get("onRewrite")).map(_.trim.toLowerCase).getOrElse("skip"),
    Option(options.get("changeFeed")).exists(_.trim.toBoolean),
    Option(options.get("filters")).map(_.trim).filter(_.nonEmpty))

  /** Parse the `filters` STREAMING read option — `col op literal [AND
    * …]` with ops `= != <> < <= > >=` plus `IS [NOT] NULL` — into V2
    * filters. Spark's V2 pushdown rule runs for BATCH relations only,
    * so a streaming scan always plans with an empty pushed set and the
    * manifest-stat file skipping the batch path gets for free never
    * engages; this option is the explicit channel (Kafka's
    * startingOffsets posture: source selection belongs to source
    * options). The parsed filters behave exactly like pushed ones —
    * file/partition PRUNING at admission and planning, plus exact
    * record-level evaluation — so the stream yields only matching
    * rows. Literals type through the table schema (dates/timestamps in
    * their SQL text forms); unknown columns and unparseable predicates
    * refuse loudly rather than silently scanning everything. */
  def parseFilterOption(s: String, schema: StructType): Array[Filter] = {
    val isNotNullRe = "(?i)^\\s*([A-Za-z_][A-Za-z0-9_]*)\\s+IS\\s+NOT\\s+NULL\\s*$".r
    val isNullRe = "(?i)^\\s*([A-Za-z_][A-Za-z0-9_]*)\\s+IS\\s+NULL\\s*$".r
    val cmpRe = "(?s)^\\s*([A-Za-z_][A-Za-z0-9_]*)\\s*(<=|>=|!=|<>|=|<|>)\\s*(.+?)\\s*$".r
    def checkCol(c: String): String = {
      require(schema.fieldNames.contains(c),
        s"docstore: filters option references unknown column '$c' — " +
          s"schema is ${schema.fieldNames.mkString("[", ",", "]")}")
      c
    }
    def lit(c: String, raw: String): Any = {
      val quoted = raw.length >= 2 && raw.startsWith("'") && raw.endsWith("'")
      val txt = if (quoted) raw.substring(1, raw.length - 1) else raw
      schema(c).dataType match {
        case IntegerType => txt.toInt
        case LongType => txt.toLong
        case DoubleType => txt.toDouble
        case FloatType => txt.toFloat
        case ShortType => txt.toShort
        case BooleanType => txt.toBoolean
        case DateType => java.sql.Date.valueOf(txt)
        case TimestampType | TimestampNTZType => java.sql.Timestamp.valueOf(txt)
        case _ =>
          require(quoted,
            s"docstore: filters option: string literal for '$c' must be " +
              s"single-quoted, got $raw")
          txt
      }
    }
    s.split("(?i)\\s+AND\\s+").map(_.trim).filter(_.nonEmpty).map {
      case isNotNullRe(c) => IsNotNull(checkCol(c))
      case isNullRe(c) => IsNull(checkCol(c))
      case cmpRe(c, op, raw) =>
        val v = lit(checkCol(c), raw)
        op match {
          case "=" => EqualTo(c, v)
          case "!=" | "<>" => Not(EqualTo(c, v))
          case "<" => LessThan(c, v)
          case "<=" => LessThanOrEqual(c, v)
          case ">" => GreaterThan(c, v)
          case ">=" => GreaterThanOrEqual(c, v)
        }
      case other => throw new IllegalArgumentException(
        s"docstore: cannot parse filters option predicate '$other' — " +
          "supported: col op literal (= != <> < <= > >=), col IS [NOT] NULL, " +
          "joined by AND")
    }
  }

  /** Publish staged files: rename each rel under `staging` to the same
    * rel under the store root. On a snapshot store a published file
    * stays invisible until a manifest swap names it. */
  def publish(path: String, staging: String, rels: Seq[String]): Unit = {
    val fs = new Path(path).getFileSystem(hadoopConf)
    rels.foreach { rel =>
      val dst = new Path(path, rel)
      fs.mkdirs(dst.getParent)
      require(fs.rename(new Path(staging, rel), dst),
        s"docstore: publish rename failed for $rel staged under $staging")
    }
  }

  /** Delete data file `f` and reclaim the partition directories the
    * delete leaves empty (the store root stays). */
  def retireFile(fs: FileSystem, f: Path): Unit = {
    fs.delete(f, false)
    var d = f.getParent
    while (d != null && d.getName.contains("=") &&
      fs.exists(d) && fs.listStatus(d).isEmpty) {
      fs.delete(d, false)
      d = d.getParent
    }
  }

  def fileLen(f: String): Long = {
    val p = new Path(f)
    p.getFileSystem(DocStore.hadoopConf).getFileStatus(p).getLen
  }

  /** The newest snapshot committed at or before `cutoffMs` — the one
    * timestamp→version mapping (manifest `#ts`, mtime fallback) the
    * catalog's TIMESTAMP AS OF and the path API's `timestampAsOf`
    * both resolve through. */
  def versionAtMillis(path: String, cutoffMs: Long): Option[Long] =
    snapshotVersions(path)
      .filter(v => readManifest(path, v).isDefined)
      .filter(v => commitTimeMs(path, v).exists(_ <= cutoffMs))
      .lastOption

  /** Path-API time travel: `timestampAsOf` accepts a SQL timestamp
    * ("2024-03-01 12:00:00[.fff]"), a bare date ("2024-03-01"), or
    * epoch MILLIS, in the JVM/session timezone — the same instant
    * semantics as the catalog's TIMESTAMP AS OF. */
  def versionAtTimestamp(path: String, ts: String): Long = {
    require(snapshotEnabled(path),
      s"docstore: timestampAsOf needs a snapshot store ($path has no $SnapshotDir/)")
    val cutoffMs =
      try java.sql.Timestamp.valueOf(ts).getTime
      catch {
        case _: IllegalArgumentException =>
          try java.sql.Date.valueOf(ts).getTime
          catch {
            case _: IllegalArgumentException =>
              try ts.toLong
              catch {
                case _: NumberFormatException =>
                  throw new IllegalArgumentException(
                    s"docstore: unparseable timestampAsOf '$ts' — use " +
                      "'yyyy-MM-dd[ HH:mm:ss[.fff]]' or epoch millis")
              }
          }
      }
    versionAtMillis(path, cutoffMs).getOrElse(
      throw new IllegalArgumentException(
        s"docstore: no snapshot of $path existed at $ts"))
  }

  /** Data files under `path` with partition values parsed from Hive
    * `k=v` directory segments, resolved through the Hadoop FileSystem
    * API so any supported filesystem works. `_`/`.`-prefixed names
    * (staging, markers) are invisible. A missing path is an empty
    * store, not an error — it's a valid write target.
    *
    * MIXED PARTITION LAYOUTS ARE AN ERROR: every consumer (schema
    * inference, partition pruning, key-grouped partition reporting)
    * derives the store's partition-key sequence from the FIRST listing
    * entry, so a store holding files at different partition depths or
    * key orders — possible, since `partitionBy` is a per-write sink
    * option — would silently drop partition columns or misprune for
    * ALL files depending on which entry sorts first. Validated here,
    * at the one choke point every listing flows through, mirroring
    * the schema-drift require in inferSchema. */
  def listFilesWithPartitions(path: String): Seq[(String, Seq[(String, String)])] =
    listFilesWithPartitions(path, None)

  /** The listing at `versionAsOf` (None = current), restricted to
    * `files` (absolute paths as listed) when given. */
  def listFilesWithPartitions(path: String, versionAsOf: Option[Long],
      files: Option[Set[String]] = None): Seq[(String, Seq[(String, String)])] = {
    val out = listFilesWithPartitionsUnchecked(path, versionAsOf)
      .filter(f => files.forall(_(f._1)))
    out.headOption.foreach { case (f0, pv0) =>
      val keys0 = pv0.map(_._1)
      // DECLARED partition evolution (a `#partspec` manifest line at
      // the read version) legitimizes mixed layouts: each file's own
      // path encodes its spec, readers union the columns. Without the
      // declaration, mixed layouts are still accidental drift — error.
      lazy val evolved = snapshotEnabled(path) &&
        versionAsOf.orElse(currentSnapshot(path).map(_._1))
          .exists(v => readManifestPartSpec(path, v).isDefined)
      out.foreach { case (f, pv) =>
        require(pv.map(_._1) == keys0 || evolved,
          s"docstore: mixed partition layouts — $f carries partition keys " +
            s"${pv.map(_._1).mkString("[", ",", "]")} but $f0 carries " +
            s"${keys0.mkString("[", ",", "]")}; a store must use one " +
            "partitionBy layout across all writes (declare PARTITION " +
            "EVOLUTION via DocStoreMaintenance.setPartitionSpec / CALL " +
            "docstore.system.set_partition_spec to mix layouts)")
      }
    }
    out
  }

  private def listFilesWithPartitionsUnchecked(
      path: String, versionAsOf: Option[Long]): Seq[(String, Seq[(String, String)])] = {
    val conf = DocStore.hadoopConf
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root)) {
      require(versionAsOf.isEmpty,
        s"docstore: versionAsOf=${versionAsOf.get} on a missing store $path")
      return Seq.empty
    }
    val st = fs.getFileStatus(root)
    if (!st.isDirectory) {
      require(versionAsOf.isEmpty,
        s"docstore: versionAsOf=${versionAsOf.get} on a single-file store $path " +
          "(snapshots exist only on snapshot-enabled store directories)")
      return Seq((path, Nil))
    }
    // snapshot mode: the manifest IS the listing — visibility moves at
    // manifest-commit granularity (atomic multi-file commits) and any
    // still-retained version is directly readable (time travel). The
    // directory walk serves only plain stores.
    versionAsOf match {
      case Some(v) =>
        return manifestListing(fs, root, snapshotAt(path, v)._2)
      case None =>
        if (fs.exists(new Path(root, SnapshotDir)))
          return manifestListing(fs, root,
            currentSnapshot(path).map(_._2).getOrElse(Nil))
    }
    physicalWalk(fs, root).map { case (p, pv) => (p.toString, pv) }
  }

  /** The directory walk over visible data files — the plain store's
    * listing, the snapshot bootstrap's base, and vacuum's ground truth
    * (a snapshot store's physical files minus the manifests' reach is
    * exactly the reclaimable set). */
  private[sources] def physicalWalk(
      fs: FileSystem, root: Path): Seq[(Path, Seq[(String, String)])] = {
    def walk(dir: Path, pv: Seq[(String, String)]): Seq[(Path, Seq[(String, String)])] =
      fs.listStatus(dir).toSeq.sortBy(_.getPath.getName).flatMap { s =>
        val n = s.getPath.getName
        if (n.startsWith("_") || n.startsWith(".")) Nil
        else if (s.isDirectory) {
          val kv = n.split("=", 2)
          if (kv.length == 2) walk(s.getPath, pv :+ (kv(0) -> unescapePathName(kv(1))))
          else walk(s.getPath, pv)
        } else if (s.isFile && n.endsWith(".parquet")) Seq((s.getPath, pv))
        else Nil
      }
    walk(root, Nil)
  }

  /** Manifest entries → the same (absolute path, partition values)
    * shape the directory walk produces: partition values parse from
    * the store-relative `k=v` path segments, absolute paths qualify
    * through the store's filesystem so both listing modes compare
    * equal. */
  /** Resolve store-relative manifest entries to the (absolute path,
    * partition values) listing shape — the snapshot stream's
    * pinned-version planning path. */
  def resolveRels(path: String, rels: Seq[String]): Seq[(String, Seq[(String, String)])] = {
    val root = new Path(path)
    manifestListing(root.getFileSystem(DocStore.hadoopConf), root, rels)
  }

  private def manifestListing(fs: FileSystem, root: Path,
      rels: Seq[String]): Seq[(String, Seq[(String, String)])] =
    rels.sorted.map { rel =>
      val pv = rel.split("/").dropRight(1).toSeq.flatMap { seg =>
        val kv = seg.split("=", 2)
        if (kv.length == 2) Some(kv(0) -> unescapePathName(kv(1))) else None
      }
      (fs.makeQualified(new Path(root, rel)).toString, pv)
    }

  // -------------------------------------------------------------------------
  // Snapshot manifests (opt-in): atomic multi-file commits + time travel
  // -------------------------------------------------------------------------

  /** A store is in SNAPSHOT MODE when `<path>/_snapshots/` exists. A
    * manifest `_snapshots/v<N>` lists the store-relative data files of
    * version N, one per line, with a trailing `#end <count>` sentinel;
    * the LATEST sentinel-complete manifest is the store's visible
    * state. Underscore prefix → invisible to the directory walk, so
    * plain consumers never trip over the metadata. This is the
    * metadata-log the directory commits' scaladoc defers durable
    * atomicity to: publish any number of files, retire any number,
    * swap ONE manifest — readers see the old set or the new set,
    * never a mix. */
  val SnapshotDir = "_snapshots"

  private def snapRoot(path: String) = new Path(path, SnapshotDir)
  private val manifestName = "^v(\\d+)$".r

  def snapshotEnabled(path: String): Boolean = {
    val d = snapRoot(path)
    d.getFileSystem(DocStore.hadoopConf).exists(d)
  }

  /** Claimed manifest versions, ascending (committed OR in-flight —
    * completeness is per-read via the sentinel). */
  def snapshotVersions(path: String): Seq[Long] = {
    val d = snapRoot(path)
    val fs = d.getFileSystem(DocStore.hadoopConf)
    if (!fs.exists(d)) Nil
    else fs.listStatus(d).toSeq
      .flatMap(s => manifestName.findFirstMatchIn(s.getPath.getName)
        .map(_.group(1).toLong)).sorted
  }

  /** Version v's relative file list — None when v is claimed but its
    * sentinel is missing (a writer mid-stream or dead mid-write);
    * readers then fall back to the previous version, so an exclusive
    * CREATE can claim a version atomically without making its content
    * write atomic too. A read that FAILS mid-write — the local
    * filesystem raises ChecksumException/EOF when the bytes move under
    * the reader — is the same state as a missing sentinel: not yet
    * committed, read None, re-read later. Without this, a contender
    * polling the in-flight head crashes the COMMITTER's retry loop on
    * a transient torn read (found by the 8-writer contention spec).
    *
    * ONLY the torn-read signatures map to None: ChecksumException /
    * EOFException (bytes moving under the reader) and
    * FileNotFoundException (claimed-then-removed race — verifiably
    * absent). Any OTHER IOException — a transient read failure on a
    * manifest that may well be COMMITTED — propagates: callers that
    * sweep stale claims or reap unreferenced files must never act on
    * "the read failed" as if it were "the sentinel is absent", or a
    * blip turns into committed-data loss. */
  def readManifest(path: String, v: Long): Option[Seq[String]] =
    snapState(path, v).map(_.entries)

  // ---------------------------------------------------------------------
  // Manifest-list resolution (O(delta) commit metadata)
  // ---------------------------------------------------------------------

  /** One operation recorded in an immutable DELTA MANIFEST — the unit
    * that makes commit metadata O(changes) instead of O(live files):
    * a version file references a CHAIN of these (`#mlist` lines) and
    * the snapshot's state is the fold. The Iceberg
    * manifest-list/manifest-file split and Delta's log-segment +
    * checkpoint design, re-expressed on this `#`-line format. */
  sealed trait MOp
  object MOp {
    /** Entry added, with its encoded `#stat` (None = stat unavailable). */
    final case class Add(rel: String, stat: Option[String]) extends MOp
    /** Entry retired — its stat and DV binding die with it. */
    final case class Retire(rel: String) extends MOp
    /** Deletion-vector binding set (or replaced) for a live entry. */
    final case class Dv(dataRel: String, dvRel: String) extends MOp
    /** Deletion-vector binding dropped while the entry stays live. */
    final case class DvDrop(dataRel: String) extends MOp
  }

  /** Fully-resolved snapshot state at one version: what every reader
    * actually wants, independent of whether the version file carries
    * its entries inline (legacy format) or as a delta-manifest chain. */
  final case class SnapState(
      entries: Seq[String],
      dvs: Map[String, String],
      statEnc: Map[String, String],
      schemaJson: Option[String],
      partSpecEnc: Option[String],
      chain: Seq[String])

  /** Parsed delta manifests by qualified path — manifest files are
    * immutable and UUID-named (never reused, even across store
    * re-creation), so positive parses cache forever; bounded by a
    * crude clear-on-overflow (fixture scale never hits it). */
  private val manifestOpsCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[MOp]]()

  /** Folded (entries, dvs, statEnc) per manifest CHAIN — a chain of
    * immutable manifests folds deterministically, so the result caches
    * by the joined chain key. Saves re-folding on the hot planning
    * path (currentSnapshot + dvMap + manifestStats per scan). */
  private val foldCache = new java.util.concurrent.ConcurrentHashMap[
    String, (Seq[String], Map[String, String], Map[String, String])]()

  /** Read + parse one immutable delta manifest. Unlike the version
    * file, a torn or missing manifest under a COMMITTED version is a
    * real integrity error (they are fully written before the version
    * claim): propagate, never silently degrade to "empty". */
  private def readDeltaManifest(path: String, name: String): Seq[MOp] = {
    val f = new Path(snapRoot(path), name)
    val fs = f.getFileSystem(DocStore.hadoopConf)
    val key = fs.makeQualified(f).toString
    val cached = manifestOpsCache.get(key)
    if (cached != null) return cached
    val bytes = new Array[Byte](fs.getFileStatus(f).getLen.toInt)
    val in = fs.open(f)
    try in.readFully(bytes) finally in.close()
    val lines = new String(bytes, "UTF-8").split("\n").toSeq
    val body = lines.filter(l => l.startsWith("#add ") || l.startsWith("#retire ") ||
      l.startsWith("#dv ") || l.startsWith("#dvdrop "))
    require(lines.contains(s"#mend ${body.length}"),
      s"docstore: delta manifest $name at $path is torn or incomplete — " +
        "a committed version references it, so this indicates corruption " +
        "or a concurrent vacuum of a version still being read")
    val ops: Seq[MOp] = body.map { l =>
      if (l.startsWith("#add ")) l.stripPrefix("#add ").split("\t", 2) match {
        case Array(rel, enc) => MOp.Add(rel, if (enc == "-") None else Some(enc))
        case Array(rel) => MOp.Add(rel, None)
      }
      else if (l.startsWith("#retire ")) MOp.Retire(l.stripPrefix("#retire "))
      else if (l.startsWith("#dvdrop ")) MOp.DvDrop(l.stripPrefix("#dvdrop "))
      else l.stripPrefix("#dv ").split("\t", 2) match {
        case Array(a, b) => MOp.Dv(a, b)
        case Array(a) => MOp.DvDrop(a) // unreachable by writer; safe fold
      }
    }
    if (manifestOpsCache.size > 8192) manifestOpsCache.clear()
    manifestOpsCache.put(key, ops)
    ops
  }

  /** Append `ops` as a new immutable delta manifest under
    * `_snapshots/`; returns its name. Written (and fsync'd via close)
    * BEFORE the version-file claim that references it, so a reader
    * that sees the version sees the manifest. */
  private def writeDeltaManifest(path: String, ops: Seq[MOp]): String = {
    val name = s"m-${java.util.UUID.randomUUID()}"
    val dst = new Path(snapRoot(path), name)
    val fs = dst.getFileSystem(DocStore.hadoopConf)
    fs.mkdirs(dst.getParent)
    val out = fs.create(dst, false)
    try out.write((s"# docstore delta manifest\n" +
      ops.map {
        case MOp.Add(rel, st) => s"#add $rel\t${st.getOrElse("-")}\n"
        case MOp.Retire(rel) => s"#retire $rel\n"
        case MOp.Dv(a, b) => s"#dv $a\t$b\n"
        case MOp.DvDrop(a) => s"#dvdrop $a\n"
      }.mkString + s"#mend ${ops.length}\n").getBytes("UTF-8"))
    finally out.close()
    name
  }

  /** Fold a manifest chain (oldest → newest) into resolved
    * (entries, dvs, statEnc), cached by chain identity. */
  private def foldChain(path: String, chain: Seq[String])
      : (Seq[String], Map[String, String], Map[String, String]) = {
    val fs = snapRoot(path).getFileSystem(DocStore.hadoopConf)
    val key = fs.makeQualified(snapRoot(path)).toString + "|" + chain.mkString(",")
    val cached = foldCache.get(key)
    if (cached != null) return cached
    val entries = mutable.LinkedHashSet.empty[String]
    val dvs = mutable.Map.empty[String, String]
    val stats = mutable.Map.empty[String, String]
    chain.foreach { name =>
      readDeltaManifest(path, name).foreach {
        case MOp.Add(rel, st) =>
          entries += rel
          st.fold(stats.remove(rel): Unit)(stats(rel) = _)
        case MOp.Retire(rel) =>
          entries -= rel; stats -= rel; dvs -= rel
        case MOp.Dv(a, b) => dvs(a) = b
        case MOp.DvDrop(a) => dvs -= a
      }
    }
    val res = (entries.toSeq.sorted, dvs.toMap, stats.toMap)
    if (foldCache.size > 1024) foldCache.clear()
    foldCache.put(key, res)
    res
  }

  /** Resolve version v's full snapshot state — None when v is claimed
    * but uncommitted (torn-read semantics identical to the legacy
    * single-file reader: only FileNotFound/EOF/Checksum map to None;
    * other IOExceptions propagate). Handles both formats: legacy
    * inline-entry version files and `#mlist` manifest-chain files. */
  def snapState(path: String, v: Long): Option[SnapState] = {
    val f = new Path(snapRoot(path), s"v$v")
    val fs = f.getFileSystem(DocStore.hadoopConf)
    val lines: Seq[String] =
      try {
        if (!fs.exists(f)) return None
        val bytes = new Array[Byte](fs.getFileStatus(f).getLen.toInt)
        val in = fs.open(f)
        try in.readFully(bytes) finally in.close()
        new String(bytes, "UTF-8").split("\n").toSeq
      } catch {
        case _: java.io.FileNotFoundException => return None
        case _: java.io.EOFException => return None
        case _: org.apache.hadoop.fs.ChecksumException => return None
      }
    val inline = lines.filter(l => l.nonEmpty && !l.startsWith("#"))
    if (!lines.contains(s"#end ${inline.length}")) return None
    val schemaJson = lines.find(_.startsWith("#schema ")).map(_.stripPrefix("#schema "))
    val partSpecEnc = lines.find(_.startsWith("#partspec"))
      .map(_.stripPrefix("#partspec").trim)
    val chain = lines.filter(_.startsWith("#mlist "))
      .map(_.stripPrefix("#mlist ").trim).filter(_.nonEmpty)
    if (chain.isEmpty) {
      // legacy format: entries inline, #dv/#stat lines in the version file
      val dvs = lines.filter(_.startsWith("#dv ")).flatMap { l =>
        l.stripPrefix("#dv ").split("\t", 2) match {
          case Array(a, b) => Some(a -> b)
          case _ => None
        }
      }.toMap
      val stats = lines.filter(_.startsWith("#stat ")).flatMap { l =>
        l.stripPrefix("#stat ").split("\t", 2) match {
          case Array(rel, enc) => Some(rel -> enc)
          case _ => None
        }
      }.toMap
      Some(SnapState(inline, dvs, stats, schemaJson, partSpecEnc, Nil))
    } else {
      val (entries, dvs, stats) = foldChain(path, chain)
      Some(SnapState(entries, dvs, stats, schemaJson, partSpecEnc, chain))
    }
  }

  /** Version v's deletion-vector bindings (`#dv <dataRel>\t<dvRel>`
    * manifest lines): data files whose deleted row POSITIONS live in a
    * `_deletes/` sidecar instead of having been rewritten — the
    * merge-on-read half of row-level operations (Delta deletion
    * vectors / Iceberg v2 position deletes, re-expressed on this
    * manifest format). Empty for uncommitted versions, pre-DV
    * manifests, and plain stores. Binding invariant (enforced at
    * commit): every `#dv` data file is an entry of the same manifest. */
  def readManifestDvs(path: String, v: Long): Map[String, String] =
    snapState(path, v).map(_.dvs).getOrElse(Map.empty)

  /** The deletion-vector bindings in force for a read of `path` at
    * `versionAsOf` (or the current snapshot) — empty on plain stores. */
  def dvMap(path: String, versionAsOf: Option[Long]): Map[String, String] =
    if (!snapshotEnabled(path)) Map.empty
    else versionAsOf.orElse(currentSnapshot(path).map(_._1)) match {
      case Some(v) => readManifestDvs(path, v)
      case None => Map.empty
    }

  /** Latest committed (version, relative files), None on a plain or
    * still-empty snapshot store. On a store with BRANCH REFS
    * (`_snapshots/refs/main` exists), the current snapshot is what
    * `main` points at — the write-audit-publish contract: branch
    * commits land in the global version chain but stay invisible to
    * default readers until a fast-forward moves `main`. */
  def currentSnapshot(path: String): Option[(Long, Seq[String])] =
    refHead(path, MainRef) match {
      case Some((_, v)) => readManifest(path, v).map(v -> _)
      case None =>
        snapshotVersions(path).reverseIterator
          .flatMap(v => readManifest(path, v).map(v -> _))
          .nextOption()
    }

  // ---------------------------------------------------------------------
  // Branch refs (write-audit-publish)
  // ---------------------------------------------------------------------

  /** The published branch every default read resolves and every
    * un-branched write advances, once refs exist at all. */
  val MainRef = "main"

  private def refsRoot(path: String) = new Path(snapRoot(path), "refs")
  private val refName = "^([A-Za-z0-9_\\-]+)\\.(\\d+)$".r

  def validRefName(name: String): Boolean =
    name.matches("[A-Za-z0-9_\\-]+")

  /** A ref is a NAMED POINTER to a committed version (Iceberg branch
    * refs / Delta named commits), stored as `refs/<name>.<seq>` files:
    * the head is the highest seq, and advancing is an EXCLUSIVE create
    * of seq+1 — a compare-and-swap on the same primitive the version
    * claim uses, so two writers advancing one branch serialize and the
    * loser retries against the winner's base. Returns (seq, version). */
  def refHead(path: String, name: String): Option[(Long, Long)] = {
    val d = refsRoot(path)
    val fs = d.getFileSystem(DocStore.hadoopConf)
    val seqs =
      try fs.listStatus(d).toSeq.flatMap(s =>
        refName.findFirstMatchIn(s.getPath.getName)
          .filter(_.group(1) == name).map(_.group(2).toLong))
      catch { case _: java.io.FileNotFoundException => return None }
    seqs.sorted.reverseIterator.flatMap { seq =>
      // the newest seq whose content is readable wins; an in-flight
      // writer's not-yet-visible content falls back one step (it holds
      // the SAME version its CAS is advancing from, so reads are never
      // wrong, at most one CAS behind)
      readRefFile(path, name, seq).map(v => (seq, v))
    }.nextOption()
  }

  private def readRefFile(path: String, name: String, seq: Long): Option[Long] = {
    val f = new Path(refsRoot(path), s"$name.$seq")
    val fs = f.getFileSystem(DocStore.hadoopConf)
    try {
      val bytes = new Array[Byte](fs.getFileStatus(f).getLen.toInt)
      val in = fs.open(f)
      try in.readFully(bytes) finally in.close()
      val s = new String(bytes, "UTF-8").trim
      if (s.matches("\\d+")) Some(s.toLong) else None
    } catch { case _: java.io.IOException => None }
  }

  /** Resolve a ref to its version or fail clearly. */
  def refVersion(path: String, name: String): Long =
    refHead(path, name).map(_._2).getOrElse(
      throw new IllegalArgumentException(
        s"docstore: no branch '$name' at $path — existing: " +
          listRefs(path).keys.toSeq.sorted.mkString("[", ",", "]")))

  /** All refs' head versions. */
  def listRefs(path: String): Map[String, Long] = {
    val d = refsRoot(path)
    val fs = d.getFileSystem(DocStore.hadoopConf)
    val names =
      try fs.listStatus(d).toSeq.flatMap(s =>
        refName.findFirstMatchIn(s.getPath.getName).map(_.group(1)))
      catch { case _: java.io.FileNotFoundException => return Map.empty }
    names.distinct.flatMap(n => refHead(path, n).map(h => n -> h._2)).toMap
  }

  /** Advance `name` from the head seq `prevSeq` (None = create at seq
    * 1) to `version` — atomic via exclusive create; false = lost the
    * race, re-read the head and retry against the winner's state. */
  def casRef(path: String, name: String, prevSeq: Option[Long], version: Long): Boolean = {
    require(validRefName(name),
      s"docstore: invalid branch name '$name' ([A-Za-z0-9_-]+ only)")
    val dst = new Path(refsRoot(path), s"$name.${prevSeq.getOrElse(0L) + 1}")
    val fs = dst.getFileSystem(DocStore.hadoopConf)
    fs.mkdirs(dst.getParent)
    try {
      val out = createExclusive(fs, dst)
      try out.write(version.toString.getBytes("UTF-8")) finally out.close()
      true
    } catch {
      case _: java.io.IOException if fs.exists(dst) => false
    }
  }

  // ---------------------------------------------------------------------
  // Snapshot tags (immutable named versions)
  // ---------------------------------------------------------------------

  private def tagsRoot(path: String) = new Path(snapRoot(path), "tags")

  /** A TAG is an IMMUTABLE named pointer to a committed version
    * (Iceberg tags / Delta named snapshots): one exclusive-created
    * file `_snapshots/tags/<name>` whose bytes are the version.
    * Unlike a branch ref a tag can never advance — create-once IS the
    * whole protocol (no CAS, no seq), so a published audit anchor
    * ("the corpus we trained run X on") cannot move out from under a
    * reader. Vacuum keeps tag-reachable versions alive at any
    * `keepVersions` setting; dropping the tag releases them. */
  def createTag(path: String, name: String, version: Long): Unit = {
    require(validRefName(name),
      s"docstore: invalid tag name '$name' ([A-Za-z0-9_-]+ only)")
    require(readManifest(path, version).isDefined,
      s"docstore: cannot tag version $version at $path — not a committed version")
    val dst = new Path(tagsRoot(path), name)
    val fs = dst.getFileSystem(DocStore.hadoopConf)
    fs.mkdirs(dst.getParent)
    try {
      val out = createExclusive(fs, dst)
      try out.write(version.toString.getBytes("UTF-8")) finally out.close()
    } catch {
      case _: java.io.IOException if fs.exists(dst) =>
        throw new IllegalStateException(
          s"docstore: tag '$name' already exists at $path — tags are " +
            "immutable; drop_tag first if you really mean to re-point it")
    }
  }

  /** All tags' versions; empty on untagged stores. */
  def listTags(path: String): Map[String, Long] = {
    val d = tagsRoot(path)
    val fs = d.getFileSystem(DocStore.hadoopConf)
    val stats =
      try fs.listStatus(d).toSeq.filter(_.isFile)
      catch { case _: java.io.FileNotFoundException => return Map.empty }
    stats.flatMap { s =>
      try {
        val bytes = new Array[Byte](s.getLen.toInt)
        val in = fs.open(s.getPath)
        try in.readFully(bytes) finally in.close()
        val v = new String(bytes, "UTF-8").trim
        if (v.matches("\\d+")) Some(s.getPath.getName -> v.toLong) else None
      } catch { case _: java.io.IOException => None }
    }.toMap
  }

  /** Resolve a tag to its version or fail clearly. */
  def tagVersion(path: String, name: String): Long =
    listTags(path).getOrElse(name,
      throw new IllegalArgumentException(
        s"docstore: no tag '$name' at $path — existing: " +
          listTags(path).keys.toSeq.sorted.mkString("[", ",", "]")))

  /** Remove a tag (its version becomes vacuum-expirable again);
    * false when the tag never existed. */
  def dropTag(path: String, name: String): Boolean = {
    val f = new Path(tagsRoot(path), name)
    val fs = f.getFileSystem(DocStore.hadoopConf)
    try fs.delete(f, false)
    catch { case _: java.io.FileNotFoundException => false }
  }

  /** The committed PARENT version recorded in v's `#parent` line — the
    * base the commit applied its update to. v-1 on pre-branch
    * manifests (linear lineage); None when the file is unreadable. */
  def commitParent(path: String, v: Long): Option[Long] = {
    val f = new Path(snapRoot(path), s"v$v")
    val fs = f.getFileSystem(DocStore.hadoopConf)
    try {
      val bytes = new Array[Byte](fs.getFileStatus(f).getLen.toInt)
      val in = fs.open(f)
      try in.readFully(bytes) finally in.close()
      new String(bytes, "UTF-8").split("\n")
        .find(_.startsWith("#parent ")).map(_.stripPrefix("#parent ").trim.toLong)
        .orElse(Some(v - 1))
    } catch { case _: java.io.IOException => None }
  }

  /** Is `ancestor` reachable from `v` by walking `#parent` pointers?
    * (0 is every lineage's root.) The fast-forward guard: `main` may
    * only move ALONG a branch's lineage, never across a divergence —
    * crossing would silently drop main's own commits. */
  def isAncestor(path: String, ancestor: Long, v: Long): Boolean = {
    if (ancestor == v) return true
    var cur = v
    var steps = 0
    while (cur > 0L && steps < 1000000) {
      cur = commitParent(path, cur).getOrElse(return false)
      if (cur == ancestor) return true
      steps += 1
    }
    ancestor == 0L && cur == 0L
  }

  def snapshotAt(path: String, v: Long): (Long, Seq[String]) =
    readManifest(path, v).map(v -> _).getOrElse(
      throw new IllegalArgumentException(
        s"docstore: no committed snapshot v$v at $path — retained versions: " +
          snapshotVersions(path).filter(readManifest(path, _).isDefined)
            .mkString("[", ",", "]")))

  /** OPTIMISTIC snapshot commit — the scheme every production table
    * format ships (Iceberg/Delta): apply `update` to the current
    * committed file set, claim the next version number by EXCLUSIVE
    * create (atomic on local filesystems and HDFS; an object store
    * backs the same contract with a conditional put), and on losing
    * the race recompute against the winner's snapshot and retry.
    * Concurrent committers serialize without locks and nobody's
    * update is lost. The very first commit bases on the directory
    * walk, so enabling snapshots on a populated plain store retains
    * its data as v1's content. A claimed-but-incomplete version from
    * a writer that died mid-write is swept once its claim file's
    * MODIFICATION-TIME age exceeds `staleClaimGraceMs` — wall-clock
    * age since the claim, NOT the contender's own retry count, so a
    * live writer delayed by GC or slow storage keeps its claim.
    * Returns the committed version.
    *
    * Two invariants close the lost-update windows a naive claim loop
    * has: (1) a committer NEVER claims past an uncommitted latest
    * version — if v(N) is claimed but incomplete, basing an update on
    * v(N-1) and claiming v(N+1) would silently exclude v(N)'s commit
    * from all later lineage once its (live, merely slow) writer
    * finishes; we wait for it to commit or age out instead. (2) the
    * claimant RE-READS its own manifest after close() and only
    * returns when the store's copy carries exactly its entry list —
    * on a local filesystem a contender's sweep can delete (and a
    * third committer re-claim) the version between our create and
    * close, and our close() still succeeds; without the read-back we
    * would report a version that holds someone else's content. */
  def commitSnapshot(path: String, staleClaimGraceMs: Long = 30000L,
      op: String = "append", branch: Option[String] = None,
      partSpec: Option[Seq[String]] = None)(
      update: Seq[String] => Seq[String]): Long =
    commitSnapshotWithDvs(path, staleClaimGraceMs, op, partSpec, branch) { (base, dvs) =>
      // plain entry-set commits carry existing DV bindings through
      // unchanged; bindings of retired entries are pruned by the core
      (update(base), dvs)
    }

  /** A version file references at most this many chained delta
    * manifests; the commit that would exceed it writes ONE
    * consolidated manifest instead (Delta's checkpoint cadence). Keeps
    * the read path O(chain ≤ 16) and amortizes the O(live files)
    * consolidation write to 1/16th of commits. */
  val ConsolidateChainLen = 16

  /** [[commitSnapshot]] with DELETION-VECTOR bindings in the update:
    * the closure sees (entries, dvByDataRel) of the base snapshot and
    * returns both for the new one. Bindings whose data file is not in
    * the returned entry list are dropped (a retired file's DV dies
    * with it); DV sidecar files themselves are immutable and live in
    * `_deletes/` — vacuum reclaims unreferenced ones. */
  def commitSnapshotWithDvs(path: String, staleClaimGraceMs: Long = 30000L,
      op: String = "append",
      // Some(cols) changes the store's partition ROUTING from this
      // version on (partition evolution); None carries the base's
      partSpec: Option[Seq[String]] = None,
      // Some(name) bases the update on that BRANCH's head and advances
      // its ref; None advances `main` once refs exist (default writes
      // stay on the published branch) and is the plain linear commit
      // on ref-less stores
      branch: Option[String] = None)(
      update: (Seq[String], Map[String, String]) => (Seq[String], Map[String, String])): Long = {
    val root = new Path(path)
    val conf = DocStore.hadoopConf
    val fs = root.getFileSystem(conf)
    fs.mkdirs(snapRoot(path))
    val rootQ = fs.makeQualified(root).toString
    val effBranch: Option[String] = branch.orElse(
      if (refHead(path, MainRef).isDefined) Some(MainRef) else None)
    val deadline = System.currentTimeMillis() + staleClaimGraceMs + 60000L
    var claimAttempts = 0
    // per-file stats computed at most once per commit, even across
    // optimistic retries (footers of files this commit didn't add are
    // carried in earlier chain manifests, never recomputed)
    val statCache = mutable.Map.empty[String, Option[String]]
    def computeStatOf(rel: String): Option[String] =
      statCache.getOrElseUpdate(rel,
        try Some(encodeStat(computeFileStat(new Path(root, rel).toString)))
        catch { case scala.util.control.NonFatal(_) => None })
    while (claimAttempts < 100 && System.currentTimeMillis() < deadline) {
      val head = snapshotVersions(path).lastOption
      val headCommitted = head.flatMap(v => snapState(path, v))
      // branch commits BASE on the ref's version, not the global head
      // (which may be another branch's work); claims still serialize
      // through the global chain, and a ref only ever points at a
      // committed version
      val refNow: Option[(Long, Long)] = effBranch.map { b =>
        refHead(path, b).getOrElse(throw new IllegalArgumentException(
          s"docstore: no branch '$b' at $path — create it first " +
            "(CALL docstore.system.create_branch)"))
      }
      val baseVersion: Option[Long] = refNow.map(_._2).orElse(head)
      val headState =
        if (refNow.isDefined) baseVersion.flatMap(v => snapState(path, v))
        else headCommitted
      if (refNow.isDefined && headState.isEmpty)
        throw new IllegalStateException(
          s"docstore: branch '${effBranch.get}' at $path points at " +
            s"v${baseVersion.get} which is not committed/retained")
      val headContent = headState.map(_.entries)
      if (head.isDefined && headCommitted.isEmpty) {
        // claimed-but-uncommitted head: wait (live writer) or sweep
        // (claim mtime past the grace window). Completeness is
        // re-checked immediately before the delete — the writer may
        // have finished between our first read and now.
        val claim = new Path(snapRoot(path), s"v${head.get}")
        def claimAgeMs: Long =
          try System.currentTimeMillis() - fs.getFileStatus(claim).getModificationTime
          catch { case _: java.io.FileNotFoundException => -1L } // already swept
        if (claimAgeMs > staleClaimGraceMs) {
          // Sweep TOCTOU defense: re-read BOTH age and completeness
          // immediately before the delete. A live writer's write bumps
          // the claim's mtime, so a writer that finished between our
          // first look and now fails the age re-check; one that closed
          // but whose mtime read races us fails the completeness
          // re-check. The residual window — writer's close AND
          // read-back verify both landing inside our two-syscall
          // check→delete gap — is closed from the COMMITTER's side
          // below (post-verify re-confirm when its claim aged past the
          // grace window).
          if (claimAgeMs > staleClaimGraceMs &&
            readManifest(path, head.get).isEmpty) fs.delete(claim, false): Unit
        } else Thread.sleep(25)
      } else {
        val base = headContent.getOrElse(
          physicalWalk(fs, root).map { case (p, _) =>
            fs.makeQualified(p).toString.stripPrefix(rootQ + "/")
          })
        val baseDvs = headState.map(_.dvs).getOrElse(Map.empty[String, String])
        val baseStats = headState.map(_.statEnc).getOrElse(Map.empty[String, String])
        val next = head.getOrElse(0L) + 1
        val (rawEntries, rawDvs) = update(base, baseDvs)
        val entries = rawEntries.distinct.sorted
        val entrySet = entries.toSet
        val dvs = rawDvs.filter { case (dataRel, _) => entrySet(dataRel) }
        // the commit's CHANGES — what actually gets written: O(delta)
        // per commit, never the live-file listing. Stats are computed
        // from the (commit-hot) footer only for files this commit
        // ADDS; carried stats ride earlier chain manifests untouched.
        // A file whose footer can't be read right now gets no stat —
        // every consumer falls back to footers per file.
        def statFor(rel: String): Option[String] =
          baseStats.get(rel).orElse(computeStatOf(rel))
        // the very first commit bases its UPDATE on the directory walk
        // but its recorded DELTA on the empty state — the walked files
        // must land as adds in v1's manifest
        val diffBase = if (headState.isEmpty) Nil else base
        val baseSet = diffBase.toSet
        val added = entries.filterNot(baseSet)
        val retired = diffBase.filterNot(entrySet).distinct.sorted
        val dvChanged = dvs.toSeq
          .filter { case (k, dv) => !baseDvs.get(k).contains(dv) }.sortBy(_._1)
        val dvDropped = baseDvs.keysIterator
          .filter(k => entrySet(k) && !dvs.contains(k)).toSeq.sorted
        val changes: Seq[MOp] =
          added.map(r => MOp.Add(r, statFor(r))) ++
            retired.map(MOp.Retire(_)) ++
            dvChanged.map { case (a, b) => MOp.Dv(a, b) } ++
            dvDropped.map(MOp.DvDrop(_))
        val baseChain = headState.map(_.chain).getOrElse(Nil)
        // a LEGACY base (inline-entry version file, e.g. hand-written
        // by an external tool) has no chain to extend — consolidate
        val baseIsLegacy = headState.exists(s =>
          s.chain.isEmpty && (s.entries.nonEmpty || s.dvs.nonEmpty))
        val chainNew: Seq[String] =
          if (changes.isEmpty && !baseIsLegacy) baseChain // identity commit: reuse
          else if (baseIsLegacy || baseChain.length + 1 > ConsolidateChainLen)
            // consolidated manifest: the full new state in one file,
            // backfilling stats missing from the carried set
            Seq(writeDeltaManifest(path,
              entries.map(r => MOp.Add(r, statFor(r))) ++
                dvs.toSeq.sortBy(_._1).map { case (a, b) => MOp.Dv(a, b) }))
          else baseChain :+ writeDeltaManifest(path, changes)
        val specEnc: Option[String] = partSpec.map(_.map(
          java.net.URLEncoder.encode(_, "UTF-8")).mkString(","))
          .orElse(headState.flatMap(_.partSpecEnc))
        // `#schema`: the reconciled data schema, carried forward and
        // re-reconciled only over the files this commit ADDS — schema
        // inference then never opens a footer. Unreconcilable content
        // (a hand-committed alien file) just omits the line.
        val baseSchema: Option[StructType] =
          headState.flatMap(_.schemaJson).flatMap { j =>
            try Some(org.apache.spark.sql.types.DataType
              .fromJson(j).asInstanceOf[StructType])
            catch { case scala.util.control.NonFatal(_) => None }
          }
        val schemaLine: Option[String] = {
          val newEntries = added
          val keptBase = diffBase.filter(entrySet)
          try {
            // base schema participates only while base FILES survive
            // (a truncating overwrite starts the schema line over)
            val baseParts =
              if (keptBase.isEmpty) Nil
              else baseSchema.map(s => Seq("<base>" -> s)).getOrElse(
                keptBase.map(r =>
                  r -> toStructType(fileSchema(new Path(root, r).toString))))
            val parts = baseParts ++ newEntries.map(r =>
              r -> toStructType(fileSchema(new Path(root, r).toString)))
            if (parts.isEmpty) None
            else Some(reconcileSchemas(parts).json)
          } catch { case scala.util.control.NonFatal(_) => None }
        }
        val dst = new Path(snapRoot(path), s"v$next")
        claimAttempts += 1
        val claimStartMs = System.currentTimeMillis()
        val claimed =
          try {
            val out = createExclusive(fs, dst)
            // `#ts` carries the commit wall-clock INSIDE the manifest
            // (TIMESTAMP AS OF resolves from it, so time travel
            // survives copy/rsync/restore — file mtimes don't); `#op`
            // classifies the commit (append / delete / merge /
            // overwrite / compact) so the change feed and other
            // manifest-diff consumers know HOW the file set changed,
            // not just what changed — a compaction rewrites bytes but
            // changes no data. Entries live in the `#mlist` chain —
            // the version file itself is O(headers + chain), so commit
            // metadata cost is independent of live-file count.
            try out.write((s"# docstore snapshot v$next\n" +
              s"#ts ${System.currentTimeMillis()}\n" +
              s"#op $op\n" +
              s"#parent ${baseVersion.getOrElse(0L)}\n" +
              schemaLine.map(j => s"#schema $j\n").getOrElse("") +
              specEnc.map(enc => s"#partspec $enc\n").getOrElse("") +
              chainNew.map(n => s"#mlist $n\n").mkString +
              s"#end 0\n").getBytes("UTF-8"))
            finally out.close()
            true
          } catch {
            case _: java.io.IOException if fs.exists(dst) => false // lost the race
          }
        if (claimed) {
          // the read-back can hit the same transient torn-read None a
          // contender's poll can — retry briefly before concluding the
          // claim was swept (a false negative here would re-apply the
          // update closure on top of its own committed result)
          var check = readManifest(path, next)
          var tries = 0
          while (check.isEmpty && tries < 5) {
            Thread.sleep(10)
            check = readManifest(path, next)
            tries += 1
          }
          if (check.contains(entries)) {
            // A contender may only sweep claims older than the grace
            // window — so when OUR claim aged past it before the
            // verify (a stalled write), a sweeper's delayed delete can
            // still land after our verify read. Wait out the sweeper's
            // check→delete gap and re-confirm; if swept, fall through
            // and re-claim rather than report a committed version that
            // no longer exists. Fast commits (the normal case) never
            // pay this. Residual window: a sweeper pausing longer than
            // this re-confirm delay between ITS completeness re-check
            // and its delete — two adjacent syscalls, so that needs a
            // multi-hundred-ms preemption exactly there.
            val durable =
              if (System.currentTimeMillis() - claimStartMs <= staleClaimGraceMs) true
              else { Thread.sleep(100); readManifest(path, next).contains(entries) }
            if (durable) {
              effBranch match {
                case None => return next
                case Some(b) =>
                  // branched commit becomes VISIBLE at the ref CAS, not
                  // the claim: losing this race orphans v$next (litter
                  // for the sweep — referenced by no ref) and retries
                  // the whole update against the advanced branch head
                  if (casRef(path, b, refNow.map(_._1), next)) return next
              }
            }
          }
        }
      }
    }
    throw new IllegalStateException(
      s"docstore: snapshot commit at $path gave up after $claimAttempts claim " +
        "attempts (lost races or an in-flight claim outlived the deadline)")
  }

  // -------------------------------------------------------------------------
  // Manifest-embedded file statistics (metadata-only planning)
  // -------------------------------------------------------------------------

  /** One column's commit-time statistics. `min`/`max` are normalized
    * longs (int widened, date → epoch days, timestamp → µs) present
    * only for integer-backed columns whose every row group carries
    * exact order stats; absent for an all-null column. `nulls` is
    * always exact when the entry exists at all. */
  final case class ColStat(min: Option[Long], max: Option[Long], nulls: Long,
      // v2 extensions (absent in pre-r18 stat lines): the column's
      // uncompressed byte size in this file (projected-size estimates
      // without a footer) and the WRITER-measured approximate distinct
      // count (HLL at write time, read from the file's footer entry
      // [[NdvFooterKey]]), surfaced to Spark's CBO as connector column
      // stats
      bytes: Option[Long] = None, ndv: Option[Long] = None)

  /** One data file's commit-time statistics: exact row count, total
    * uncompressed bytes, and per-column [[ColStat]] for every column
    * whose footer statistics were complete. Describes the PHYSICAL
    * file — a deletion vector only shrinks matches, so stat-based
    * file SKIPPING stays sound under DVs while counts become upper
    * bounds (aggregate answering already refuses under DVs). */
  final case class FileStat(rows: Long, bytes: Long, cols: Map[String, ColStat])

  /** Compute a file's manifest statistics from its footer — called
    * once at COMMIT time (the writer's own footer is cache-hot), so
    * every later read plans from the manifest instead of re-opening
    * footers: the Iceberg manifest-stats design, and the difference
    * between metadata-only planning and O(files) GETs on a cold
    * driver over a 100 TB store. */
  def computeFileStat(abs: String): FileStat = {
    val (schema, blocks, ndv) = footerOf(abs)
    val rows = blocks.map(_.getRowCount).sum
    val bytes = blocks.flatMap(_.getColumns.asScala.map(_.getTotalUncompressedSize)).sum
    val cols = schema.getFields.asScala.toSeq.filter(_.isPrimitive).flatMap { f =>
      val name = f.getName
      val norm: Long => Long = f.asPrimitiveType().getLogicalTypeAnnotation match {
        case t: TimestampLogicalTypeAnnotation => t.getUnit match {
          case TimeUnit.NANOS => v => Math.floorDiv(v, 1000L)
          case TimeUnit.MILLIS => v => Math.multiplyExact(v, 1000L)
          case _ => identity
        }
        case _ => identity
      }
      val perBlock = blocks.map { b =>
        b.getColumns.asScala.find(_.getPath.toDotString == name)
          .map(_.getStatistics).orNull match {
          case s: IntStatistics if !s.isEmpty && s.isNumNullsSet &&
            (s.hasNonNullValue || s.getNumNulls == b.getRowCount) =>
            Some((if (s.hasNonNullValue)
              Some((norm(s.getMin.toLong), norm(s.getMax.toLong))) else None,
              s.getNumNulls))
          case s: LongStatistics if !s.isEmpty && s.isNumNullsSet &&
            (s.hasNonNullValue || s.getNumNulls == b.getRowCount) =>
            Some((if (s.hasNonNullValue)
              Some((norm(s.getMin), norm(s.getMax))) else None, s.getNumNulls))
          case s if s != null && !s.isEmpty && s.isNumNullsSet =>
            // non-integer-backed flat column: exact null count only
            // (float NaN and truncated binary stats refuse ordering)
            Some((None, s.getNumNulls))
          case _ => None
        }
      }
      if (perBlock.exists(_.isEmpty)) None // incomplete anywhere → no entry
      else {
        val flat = perBlock.flatten
        val mms = flat.flatMap(_._1)
        val colBytes = blocks.flatMap(_.getColumns.asScala)
          .filter(_.getPath.toDotString == name)
          .map(_.getTotalUncompressedSize).sum
        Some(name -> ColStat(
          if (mms.isEmpty) None else Some(mms.map(_._1).min),
          if (mms.isEmpty) None else Some(mms.map(_._2).max),
          flat.map(_._2).sum,
          bytes = Some(colBytes),
          ndv = ndv.get(name)))
      }
    }.toMap
    FileStat(rows, bytes, cols)
  }

  private def encodeStat(st: FileStat): String = {
    def l(o: Option[Long]) = o.map(_.toString).getOrElse("-")
    val cols = st.cols.toSeq.sortBy(_._1).map { case (n, c) =>
      s"${java.net.URLEncoder.encode(n, "UTF-8")}=" +
        s"${l(c.min)}:${l(c.max)}:${c.nulls}:${l(c.bytes)}:${l(c.ndv)}"
    }.mkString(";")
    s"${st.rows}\t${st.bytes}\t$cols"
  }

  private def decodeStat(s: String): Option[FileStat] =
    s.split("\t", 3) match {
      case Array(rows, bytes, cols) =>
        def l(x: String) = if (x == "-") None else Some(x.toLong)
        try Some(FileStat(rows.toLong, bytes.toLong,
          cols.split(";").filter(_.nonEmpty).flatMap { c =>
            c.split("=", 2) match {
              // v2 lines carry :bytes:ndv; pre-r18 lines stop at nulls
              case Array(n, v) => v.split(":", 5) match {
                case Array(mn, mx, nl, bs, nd) =>
                  Some(java.net.URLDecoder.decode(n, "UTF-8") ->
                    ColStat(l(mn), l(mx), nl.toLong, l(bs), l(nd)))
                case Array(mn, mx, nl) =>
                  Some(java.net.URLDecoder.decode(n, "UTF-8") ->
                    ColStat(l(mn), l(mx), nl.toLong))
                case _ => None
              }
              case _ => None
            }
          }.toMap))
        catch { case _: NumberFormatException => None }
      case _ => None
    }

  /** Version v's `#stat <rel>\t<enc>` lines, decoded. Empty for
    * pre-stat manifests (consumers fall back to footers). */
  def readManifestStats(path: String, v: Long): Map[String, FileStat] =
    snapState(path, v).map(_.statEnc.flatMap { case (rel, enc) =>
      decodeStat(enc).map(rel -> _)
    }).getOrElse(Map.empty)

  /** The statistics in force for a read at `versionAsOf` (or the
    * current snapshot) — empty on plain stores. */
  def manifestStats(path: String, versionAsOf: Option[Long]): Map[String, FileStat] =
    if (!snapshotEnabled(path)) Map.empty
    else versionAsOf.orElse(currentSnapshot(path).map(_._1)) match {
      case Some(v) => readManifestStats(path, v)
      case None => Map.empty
    }

  /** Version v's `#schema <json>` line — the reconciled DATA schema
    * the commit computed, so schema inference on a snapshot store is
    * ONE manifest read instead of O(files) footer opens. None for
    * pre-schema manifests (fall back to footer reconciliation). */
  def readManifestSchema(path: String, v: Long): Option[StructType] =
    snapState(path, v).flatMap(_.schemaJson).flatMap { j =>
      try Some(org.apache.spark.sql.types.DataType
        .fromJson(j).asInstanceOf[StructType])
      catch { case scala.util.control.NonFatal(_) => None }
    }

  /** Version v's `#partspec` line — the partition ROUTING in force for
    * writes committed after v (partition EVOLUTION: year → year,month
    * as a store grows — each file keeps the layout it was written
    * under, encoded in its own path, so no rewrite ever happens; reads
    * union the specs and files lacking a partition column read it as
    * null). None for pre-spec manifests (routing falls back to the
    * write option / catalog declaration / head file's layout). */
  def readManifestPartSpec(path: String, v: Long): Option[Seq[String]] =
    snapState(path, v).flatMap(_.partSpecEnc).map(
      _.split(",").map(_.trim).filter(_.nonEmpty)
        .map(java.net.URLDecoder.decode(_, "UTF-8")).toSeq)

  /** The partition spec new writes route by — current snapshot's
    * `#partspec`, None on plain stores / pre-spec manifests. */
  def currentPartSpec(path: String): Option[Seq[String]] =
    if (!snapshotEnabled(path)) None
    else currentSnapshot(path).map(_._1).flatMap(readManifestPartSpec(path, _))

  /** Can a file with statistics `st` contain ANY row matching every
    * pushed data filter? False → the file is skipped without reading
    * its footer. Sound by construction: only a DEFINITELY-false
    * verdict skips (SQL three-valued — a NULL comparison never
    * matches, so range skipping is safe with nulls present); anything
    * unevaluable keeps the file. */
  def statsMayMatch(filters: Seq[Filter], st: FileStat,
      schema: StructType): Boolean = {
    def lit(c: String, v: Any): Option[Long] =
      if (!schema.fieldNames.contains(c)) None
      else schema(c).dataType match {
        case IntegerType | LongType => v match {
          case n: Number => Some(n.longValue())
          case _ => None
        }
        case DateType => v match {
          case d: java.sql.Date => Some(d.toLocalDate.toEpochDay)
          case d: java.time.LocalDate => Some(d.toEpochDay)
          case n: Number => Some(n.longValue())
          case _ => None
        }
        case TimestampType | TimestampNTZType =>
          try Some(tsMicros(v)) catch { case _: IllegalArgumentException => None }
        case _ => None
      }
    def may(f: Filter): Boolean = f match {
      case EqualTo(c, v) => st.cols.get(c) match {
        case Some(ColStat(Some(mn), Some(mx), _, _, _)) =>
          lit(c, v).forall(x => mn <= x && x <= mx)
        case Some(ColStat(None, None, _, _, _)) => lit(c, v).isEmpty // all-null
        case _ => true
      }
      case GreaterThan(c, v) => st.cols.get(c) match {
        case Some(ColStat(_, Some(mx), _, _, _)) => lit(c, v).forall(mx > _)
        case Some(ColStat(None, None, _, _, _)) => lit(c, v).isEmpty
        case _ => true
      }
      case GreaterThanOrEqual(c, v) => st.cols.get(c) match {
        case Some(ColStat(_, Some(mx), _, _, _)) => lit(c, v).forall(mx >= _)
        case Some(ColStat(None, None, _, _, _)) => lit(c, v).isEmpty
        case _ => true
      }
      case LessThan(c, v) => st.cols.get(c) match {
        case Some(ColStat(Some(mn), _, _, _, _)) => lit(c, v).forall(mn < _)
        case Some(ColStat(None, None, _, _, _)) => lit(c, v).isEmpty
        case _ => true
      }
      case LessThanOrEqual(c, v) => st.cols.get(c) match {
        case Some(ColStat(Some(mn), _, _, _, _)) => lit(c, v).forall(mn <= _)
        case Some(ColStat(None, None, _, _, _)) => lit(c, v).isEmpty
        case _ => true
      }
      case In(c, vs) => st.cols.get(c) match {
        case Some(ColStat(Some(mn), Some(mx), _, _, _)) =>
          vs.exists(v => lit(c, v).forall(x => mn <= x && x <= mx))
        case Some(ColStat(None, None, _, _, _)) => vs.exists(v => lit(c, v).isEmpty)
        case _ => true
      }
      case IsNull(c) => st.cols.get(c).forall(_.nulls > 0L)
      case IsNotNull(c) => st.cols.get(c).forall(_.nulls < st.rows)
      case And(a, b) => may(a) && may(b)
      case Or(a, b) => may(a) || may(b)
      case _ => true // Not(...) and anything else: keep conservatively
    }
    filters.forall(may)
  }

  // -------------------------------------------------------------------------
  // Deletion-vector sidecars (merge-on-read row-level operations)
  // -------------------------------------------------------------------------

  val DeletesDir = "_deletes"

  /** Write a deletion vector — the SORTED 0-based row positions of one
    * data file's deleted rows — as an immutable sidecar under
    * `_deletes/` (underscore → invisible to the directory walk), named
    * by UUID so concurrent committers never collide; returns the
    * store-relative path a `#dv` manifest line binds. Encoding:
    * "GDV1" magic, long count, then delta-varint positions — sorted
    * deltas are small, so a dense vector costs ~1-2 bytes/row instead
    * of 8 (a RoaringBitmap would do better still, but needs a dep this
    * build doesn't have; COMPACTION materializes large DVs away, which
    * bounds how big one can live). */
  def writeDv(path: String, positions: Array[Long]): String = {
    val rel = s"$DeletesDir/dv-${java.util.UUID.randomUUID()}.bin"
    writeDvFile(new Path(path, rel).toString, positions)
    rel
  }

  /** Commit a merge-on-read ROW DELTA in one snapshot: add `newRels`
    * (already renamed into the store), merge each data file's staged
    * DV FRAGMENTS (absolute paths, DV-encoded, with their position
    * counts) into its possibly pre-existing deletion vector, and
    * retire any file the merged vector fully covers. Shared by the
    * SQL row-level delta write and the streaming upsert sink.
    *
    * Scale contract: driver memory is bounded by ONE file's positions
    * at a time; the fully-dead check answers from manifest `#stat`
    * rows (footer fallback), with candidate-dead files CONFIRMED by
    * exact merged cardinality before retiring — an unexpected overlap
    * degrades to a conservative DV, never to data loss. A fresh file's
    * single fragment is promoted to the committed vector by pure
    * RENAME. `baselineDv` is the operation's read-snapshot bindings:
    * a concurrent change to any touched file's binding (or its
    * retirement) aborts as a write-write conflict. */
  def commitRowDelta(path: String, newRels: Seq[String],
      frags: Map[String, Seq[(String, Long)]],
      baselineDv: Map[String, String], op: String = "rowdelta"): Long = {
    val root = new Path(path)
    val fs = root.getFileSystem(DocStore.hadoopConf)
    // per-file physical row counts from the read snapshot's manifest
    // stats — zero footer reads on stat-carrying stores; a rel's stat
    // is immutable (it describes the physical file), so reading it
    // outside the optimistic retry loop is race-free
    val statRows: Map[String, Long] =
      manifestStats(path, None).map { case (r, s) => r -> s.rows }
    // each rel's merged DV is written (or its fragment promoted) at
    // most once even across optimistic commit retries: the merge input
    // is conflict-pinned to the baseline bindings, so the result can't
    // differ between attempts
    val dvWritten = mutable.Map.empty[String, String]
    commitSnapshotWithDvs(path, op = op) { (base, dvs) =>
      val baseSet = base.toSet
      val updated = frags.toSeq.sortBy(_._1).map { case (rel, fr) =>
        if (!baseSet(rel))
          throw new IllegalStateException(
            s"docstore: write-write conflict at $path — $rel was retired " +
              "by a concurrent commit after this operation read it; retry " +
              "against the current snapshot")
        if (dvs.get(rel) != baselineDv.get(rel))
          throw new IllegalStateException(
            s"docstore: write-write conflict at $path — $rel's deletion " +
              "vector changed under a concurrent row-level operation; " +
              "retry against the current snapshot")
        val existingRel = dvs.get(rel)
        val existingCount = existingRel
          .map(r => dvCardinality(new Path(path, r).toString))
          .getOrElse(0L)
        val fragCount = fr.map(_._2).sum
        val totalRows = statRows.getOrElse(rel,
          footerBlocks(new Path(root, rel).toString).map(_.getRowCount).sum)
        // ONE file's positions at most — never the whole delete
        def mergedPositions(): Array[Long] =
          (existingRel.map(r => readDv(new Path(path, r).toString))
            .getOrElse(Array.emptyLongArray) ++
            fr.flatMap(f => readDv(f._1)))
            .distinct.sorted
        if (existingCount + fragCount >= totalRows) {
          // candidate fully dead by counts (exact when disjoint);
          // confirm by exact merged cardinality before retiring —
          // an overlap falls back to a DV, never drops live rows
          val merged = mergedPositions()
          if (merged.length.toLong >= totalRows) (rel, None, true)
          else (rel, Some(dvWritten.getOrElseUpdate(rel,
            writeDv(path, merged))), false)
        } else if (existingRel.isEmpty && fr.size == 1) {
          // fresh file, one task: the staged fragment IS the DV —
          // promote by rename, no position ever decoded
          val dvRel = dvWritten.getOrElseUpdate(rel, {
            val name = s"$DeletesDir/dv-${java.util.UUID.randomUUID()}.bin"
            val dst = new Path(root, name)
            fs.mkdirs(dst.getParent)
            require(fs.rename(new Path(fr.head._1), dst),
              s"docstore: deletion-vector fragment promote failed for $rel")
            name
          })
          (rel, Some(dvRel), false)
        } else {
          (rel, Some(dvWritten.getOrElseUpdate(rel,
            writeDv(path, mergedPositions()))), false)
        }
      }
      val fullyDead = updated.collect { case (rel, _, true) => rel }.toSet
      val newDvs = updated.collect { case (rel, Some(dv), _) => rel -> dv }
      (base.filterNot(fullyDead) ++ newRels, dvs ++ newDvs)
    }
  }

  /** Write DV-encoded positions to an explicit absolute path
    * (exclusive create). Factored from [[writeDv]] so merge-on-read
    * TASKS stage per-file fragments under their write's staging dir —
    * the fragment format IS the DV format, which makes promoting a
    * single fresh fragment to the committed vector a pure rename. */
  def writeDvFile(abs: String, positions: Array[Long]): Unit = {
    require(positions.nonEmpty, "docstore: empty deletion vector")
    var i = 1
    while (i < positions.length) {
      require(positions(i) > positions(i - 1),
        "docstore: deletion-vector positions must be strictly increasing")
      i += 1
    }
    val dst = new Path(abs)
    val fs = dst.getFileSystem(DocStore.hadoopConf)
    fs.mkdirs(dst.getParent)
    val out = new java.io.DataOutputStream(
      new java.io.BufferedOutputStream(fs.create(dst, false)))
    try {
      out.writeInt(0x47445631) // "GDV1"
      out.writeLong(positions.length.toLong)
      var prev = -1L
      positions.foreach { p =>
        var d = p - prev // >= 1
        while ((d & ~0x7fL) != 0L) { out.writeByte(((d & 0x7f) | 0x80).toInt); d >>>= 7 }
        out.writeByte(d.toInt)
        prev = p
      }
    } finally out.close()
  }

  /** Read a deletion vector's sorted positions. */
  def readDv(abs: String): Array[Long] = {
    val p = new Path(abs)
    val fs = p.getFileSystem(DocStore.hadoopConf)
    val in = new java.io.DataInputStream(
      new java.io.BufferedInputStream(fs.open(p)))
    try {
      require(in.readInt() == 0x47445631, s"docstore: $abs is not a deletion vector")
      val n = in.readLong().toInt
      val out = new Array[Long](n)
      var prev = -1L
      var i = 0
      while (i < n) {
        var d = 0L; var shift = 0; var b = 0
        do { b = in.readUnsignedByte(); d |= (b & 0x7fL) << shift; shift += 7 }
        while ((b & 0x80) != 0)
        prev += d
        out(i) = prev
        i += 1
      }
      out
    } finally in.close()
  }

  /** A deletion vector's cardinality from its 12-byte header — the
    * cost of exact planning counts without decoding positions. */
  def dvCardinality(abs: String): Long = {
    val p = new Path(abs)
    val fs = p.getFileSystem(DocStore.hadoopConf)
    val in = new java.io.DataInputStream(fs.open(p))
    try {
      require(in.readInt() == 0x47445631, s"docstore: $abs is not a deletion vector")
      in.readLong()
    } finally in.close()
  }

  /** TRULY exclusive create for the claim file. HDFS `create(…,
    * overwrite=false)` is atomic and object stores back the same
    * contract with a conditional put — but Hadoop's LOCAL filesystems
    * implement it as exists-check-then-open, a check-then-act race:
    * two contenders can BOTH pass the check, and the later close
    * silently truncates the earlier writer's committed manifest — a
    * lost update the read-back verify cannot reliably catch (the
    * overwrite can land after the first writer's verify). On local
    * paths, claim through POSIX O_CREAT|O_EXCL instead (atomic at the
    * kernel; java.nio CREATE_NEW), found by the 8-writer contention
    * spec. The manifest then has no .crc sidecar — fine: the sentinel
    * + torn-read handling already cover consistency. */
  private def createExclusive(fs: FileSystem, dst: Path): java.io.OutputStream =
    fs match {
      case _: org.apache.hadoop.fs.LocalFileSystem |
           _: org.apache.hadoop.fs.RawLocalFileSystem =>
        val p = java.nio.file.Paths.get(dst.toUri.getPath)
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.newOutputStream(p,
          java.nio.file.StandardOpenOption.CREATE_NEW,
          java.nio.file.StandardOpenOption.WRITE)
      case other => other.create(dst, false)
    }

  /** Commit wall-clock of version `v`, preferring the manifest's own
    * `#ts` header (written at commit since r16) and falling back to
    * the manifest file's mtime for pre-existing stores. None when the
    * manifest vanished underneath us (concurrent vacuum) — callers
    * skip, they don't crash. */
  def commitTimeMs(path: String, v: Long): Option[Long] = {
    val f = new Path(snapRoot(path), s"v$v")
    val fs = f.getFileSystem(DocStore.hadoopConf)
    try {
      val st = fs.getFileStatus(f)
      val bytes = new Array[Byte](st.getLen.toInt)
      val in = fs.open(f)
      try in.readFully(bytes) finally in.close()
      new String(bytes, "UTF-8").split("\n")
        .find(_.startsWith("#ts ")).map(_.stripPrefix("#ts ").trim.toLong)
        .orElse(Some(st.getModificationTime))
    } catch { case _: java.io.IOException => None }
  }

  /** The `#op` classification of version `v`'s commit — "unknown" for
    * pre-r16 manifests (change-feed consumers treat unknown as a full
    * rewrite: churn over silence, never silent loss). */
  def commitOp(path: String, v: Long): String = {
    val f = new Path(snapRoot(path), s"v$v")
    val fs = f.getFileSystem(DocStore.hadoopConf)
    try {
      val bytes = new Array[Byte](fs.getFileStatus(f).getLen.toInt)
      val in = fs.open(f)
      try in.readFully(bytes) finally in.close()
      new String(bytes, "UTF-8").split("\n")
        .find(_.startsWith("#op ")).map(_.stripPrefix("#op ").trim)
        .getOrElse("unknown")
    } catch { case _: java.io.IOException => "unknown" }
  }

  /** Store-relative form of an absolute file path under `path`. */
  def relOf(path: String, abs: String): String = {
    val fs = new Path(path).getFileSystem(DocStore.hadoopConf)
    val rootQ = fs.makeQualified(new Path(path)).toString
    val absQ = fs.makeQualified(new Path(abs)).toString
    require(absQ.startsWith(rootQ + "/"),
      s"docstore: $abs is not under store root $path")
    absQ.stripPrefix(rootQ + "/")
  }

  def listFiles(path: String): Seq[String] =
    listFilesWithPartitions(path).map(_._1)

  /** Store schema = the file schema plus the partition columns
    * recovered from the directory layout. An empty store is a fresh
    * write target: the writing query brings the schema
    * (ACCEPT_ANY_SCHEMA), so it infers as empty. One footer per file —
    * the same O(files) metadata pass split planning does.
    *
    * PLAIN stores require one schema: drift across files is an ERROR
    * up front, not a silent misprojection through the first file's
    * schema. Drift is STRUCTURAL (converted Spark schemas): the
    * parquet root message name differs across writers (this sink vs
    * Spark's own) and physical timestamp units are normalized per
    * file by the reader, so neither is drift.
    *
    * SNAPSHOT stores EVOLVE: per-file schemas reconcile into the
    * table schema ([[reconcileSchemas]]) the way table formats
    * resolve the reference's inferred-then-frozen wart
    * (main.py:211-218) — SAFE changes only (add a nullable column;
    * widen int→bigint), anything else still errors. The files
    * themselves are the schema log (footers are authoritative and
    * immutable; manifests add atomic visibility), so catalog and
    * path reads can never disagree. */
  def inferStoreSchema(path: String): StructType = {
    val listing = listFilesWithPartitions(path)
    if (listing.isEmpty) new StructType()
    else {
      // snapshot stores carry the commit-reconciled schema IN the
      // manifest (`#schema`): one metadata read replaces O(files)
      // footer opens on a cold driver — pre-r17 manifests fall through
      // to the footer reconciliation below
      if (snapshotEnabled(path)) {
        val fromManifest = currentSnapshot(path).map(_._1)
          .flatMap(v => readManifestSchema(path, v))
        fromManifest match {
          case Some(ds) =>
            val partFields = DocStore.partColsOf(listing).map(k =>
              StructField(k, StringType, nullable = true))
            return StructType(ds.fields.toSeq ++ partFields)
          case None => ()
        }
      }
      val first = toStructType(fileSchema(listing.head._1))
      val dataSchema =
        if (snapshotEnabled(path))
          reconcileSchemas(listing.map { case (f, _) =>
            f -> toStructType(fileSchema(f)) })
        else {
          listing.tail.foreach { case (f, _) =>
            val s = toStructType(fileSchema(f))
            require(s == first,
              s"docstore: schema drift across store files — $f has\n$s\nbut ${listing.head._1} has\n$first" +
                "\n(snapshot-enabled stores support safe schema evolution; " +
                "plain stores require one schema)")
          }
          first
        }
      val partFields = DocStore.partColsOf(listing).map(k =>
        StructField(k, StringType, nullable = true))
      StructType(dataSchema.fields.toSeq ++ partFields)
    }
  }

  /** Reconcile per-file schemas into one table schema — first-seen
    * field order, later-added columns appended. SAFE changes only:
    * a column absent from some files reads as null there (so it
    * reconciles nullable); int and bigint for the same column widen
    * to bigint (old INT32 pages read as long). Any other type change
    * — including nested-type changes, which must match exactly — is
    * an unsafe evolution and errors with both file names. */
  private[sources] def reconcileSchemas(
      schemas: Seq[(String, StructType)]): StructType = {
    val merged = mutable.LinkedHashMap.empty[String, StructField]
    val seenIn = mutable.Map.empty[String, Int]
    val firstFile = mutable.Map.empty[String, String]
    schemas.foreach { case (file, s) =>
      s.fields.foreach { fld =>
        seenIn(fld.name) = seenIn.getOrElse(fld.name, 0) + 1
        merged.get(fld.name) match {
          case None =>
            merged(fld.name) = fld
            firstFile(fld.name) = file
          case Some(prev) =>
            val dt =
              if (prev.dataType == fld.dataType) prev.dataType
              else (prev.dataType, fld.dataType) match {
                case (IntegerType, LongType) | (LongType, IntegerType) => LongType
                case _ => throw new IllegalArgumentException(
                  s"docstore: UNSAFE schema change on column '${fld.name}' — " +
                    s"$file has ${fld.dataType.simpleString} but " +
                    s"${firstFile(fld.name)} has ${prev.dataType.simpleString}; " +
                    "snapshot stores evolve by ADDING nullable columns or " +
                    "WIDENING int->bigint only")
              }
            merged(fld.name) =
              prev.copy(dataType = dt, nullable = prev.nullable || fld.nullable)
        }
      }
    }
    val n = schemas.size
    StructType(merged.values.map { f =>
      if (seenIn(f.name) < n) f.copy(nullable = true) else f
    }.toSeq)
  }

  /** Planning-time partition pruning: drop files whose directory
    * values cannot satisfy the pushed partition predicates. Data
    * filters are ignored here (the reader applies them exactly). */
  /** Partition columns of a listing — the UNION across files in
    * first-seen order: partition EVOLUTION mixes layouts within one
    * store, and a file whose layout lacks a column holds only null for
    * it (the value lives nowhere else), so pruning and reads stay
    * exact per file. */
  def partColsOf(listing: Seq[(String, Seq[(String, String)])]): Seq[String] = {
    val seen = mutable.LinkedHashSet.empty[String]
    listing.foreach(_._2.foreach { case (k, _) => seen += k })
    seen.toSeq
  }

  def pruneListing(
      listing: Seq[(String, Seq[(String, String)])],
      pushed: Array[Filter]): Seq[(String, Seq[(String, String)])] = {
    val partCols = partColsOf(listing).toSet
    val partFilters = pushed.filter(f => isPartitionFilter(f, partCols))
    if (partFilters.isEmpty) listing
    else listing.filter { case (_, pv) =>
      val m = pv.toMap
      partFilters.forall(f => partKeeps(m, f))
    }
  }

  def isPartitionFilter(f: Filter, partCols: Set[String]): Boolean =
    f.references.nonEmpty && f.references.forall(partCols.contains)

  /** Reader factory shared by the batch scan and the micro-batch
    * stream: the reader materializes (required data columns) ∪
    * (filter-only data columns); partition columns come from each
    * split's directory values; filter-only columns are read for
    * evaluation but never returned. */
  /** Exact row-side evaluation of pushed DATA filters (the
    * [[pushable]] data subset) against a materialized row — used when
    * `_pos` is projected: parquet RECORD-level filtering silently
    * skips rows and would corrupt the position counter, so the reader
    * materializes every row of the (stats-surviving) row group, counts
    * it, and applies the same predicate semantics itself. Values
    * arrive Spark-internal (UTF8String, µs longs, day ints — the
    * converters normalize units); literals convert exactly like
    * [[toPredicate]]'s. Three-valued: None = NULL, and a NULL conjunct
    * drops the row — WHERE semantics, identical to the record filter
    * it replaces. */
  def evalFilter(f: Filter, colv: String => Any, schema: StructType): Option[Boolean] = {
    def cmp(c: String, v: Any): Option[Int] = Option(colv(c)).map { x =>
      schema(c).dataType match {
        case IntegerType => java.lang.Integer.compare(
          x.asInstanceOf[Int], v.asInstanceOf[Number].intValue())
        case LongType => java.lang.Long.compare(
          x.asInstanceOf[Long], v.asInstanceOf[Number].longValue())
        case FloatType => java.lang.Float.compare(
          x.asInstanceOf[Float], v.asInstanceOf[Number].floatValue())
        case DoubleType => java.lang.Double.compare(
          x.asInstanceOf[Double], v.asInstanceOf[Number].doubleValue())
        case StringType => x.asInstanceOf[UTF8String]
          .binaryCompare(UTF8String.fromString(v.toString))
        case DateType =>
          val days = v match {
            case d: java.sql.Date => d.toLocalDate.toEpochDay.toInt
            case d: java.time.LocalDate => d.toEpochDay.toInt
            case n: Number => n.intValue()
            case other => throw new IllegalArgumentException(s"date literal $other")
          }
          java.lang.Integer.compare(x.asInstanceOf[Int], days)
        case TimestampType | TimestampNTZType =>
          java.lang.Long.compare(x.asInstanceOf[Long], tsMicros(v))
        case BooleanType => java.lang.Boolean.compare(
          x.asInstanceOf[Boolean], v.asInstanceOf[Boolean])
        case other =>
          throw new IllegalArgumentException(s"docstore: row filter on $other")
      }
    }
    f match {
      case EqualTo(c, v) => cmp(c, v).map(_ == 0)
      case GreaterThan(c, v) => cmp(c, v).map(_ > 0)
      case GreaterThanOrEqual(c, v) => cmp(c, v).map(_ >= 0)
      case LessThan(c, v) => cmp(c, v).map(_ < 0)
      case LessThanOrEqual(c, v) => cmp(c, v).map(_ <= 0)
      case In(c, vs) =>
        if (colv(c) == null) None
        else Some(vs.exists(v => cmp(c, v).contains(0)))
      case IsNull(c) => Some(colv(c) == null)
      case IsNotNull(c) => Some(colv(c) != null)
      case And(l, r) =>
        (evalFilter(l, colv, schema), evalFilter(r, colv, schema)) match {
          case (Some(false), _) | (_, Some(false)) => Some(false)
          case (Some(true), Some(true)) => Some(true)
          case _ => None
        }
      case Or(l, r) =>
        (evalFilter(l, colv, schema), evalFilter(r, colv, schema)) match {
          case (Some(true), _) | (_, Some(true)) => Some(true)
          case (Some(false), Some(false)) => Some(false)
          case _ => None
        }
      case Not(i) => evalFilter(i, colv, schema).map(!_)
      case other =>
        throw new IllegalArgumentException(
          s"docstore: unpushable filter reached the reader: $other")
    }
  }

  /** The row groups that can contain a top-`k` row under a single-key
    * ordering, from per-group footer digests `(file, startPos, rows,
    * nulls, Option[(min, max)])`. The bound: find the tightest
    * threshold T such that the row groups ALONE guarantee ≥ k rows
    * ranking at-or-before T, then keep exactly the groups whose range
    * reaches T. Nulls count toward the guarantee on the end they sort
    * at (ASC NULLS FIRST: before every value; DESC NULLS LAST: after —
    * so they never help a DESC bound and a corpus with < k non-null
    * rows keeps everything). Returns None when no pruning is sound. */
  def topNKeepSet(
      stats: Seq[(String, Long, Long, Long, Option[(Long, Long)])],
      desc: Boolean,
      k: Int): Option[Set[(String, Long)]] = {
    // (file, pos, nonNullRows, min, max) for the groups with extrema
    val defined = stats.flatMap { case (f, pos, rows, nulls, mm) =>
      mm.map { case (mn, mx) => (f, pos, rows - nulls, mn, mx) }
    }
    if (desc) {
      val totalNonNull = defined.map(_._3).sum
      if (totalNonNull < k) return None // nulls enter the top-k: keep all
      // largest T with Σ_{min ≥ T} (rows − nulls) ≥ k
      var cum = 0L
      var t = Long.MinValue
      val it = defined.sortBy(-_._4).iterator
      while (cum < k && it.hasNext) {
        val g = it.next()
        cum += g._3
        t = g._4
      }
      Some(defined.collect { case (f, pos, _, _, mx) if mx >= t =>
        (f, pos) }.toSet)
    } else {
      val totalNulls = stats.map(_._4).sum
      if (totalNulls >= k)
        return Some(stats.collect { case (f, pos, _, nulls, _) if nulls > 0 =>
          (f, pos) }.toSet)
      // smallest T with totalNulls + Σ_{max ≤ T} (rows − nulls) ≥ k
      var cum = totalNulls
      var t = Long.MaxValue
      val it = defined.sortBy(_._5).iterator
      while (cum < k && it.hasNext) {
        val g = it.next()
        cum += g._3
        t = g._5
      }
      if (cum < k) return None // fewer than k rows in total: keep all
      Some(stats.collect {
        case (f, pos, _, nulls, mm) if nulls > 0 || mm.exists(_._1 <= t) =>
          (f, pos)
      }.toSet)
    }
  }

  /** Multi-key (lexicographic) variant of [[topNKeepSet]] from
    * per-group tuple bounds `(file, startPos, rows, mins, maxs)` —
    * every row's key tuple satisfies mins ≤ row ≤ maxs
    * lexicographically (each component bounded independently; a tie
    * on an earlier component defers to a bounded later one). Pushdown
    * verified zero nulls in every key column, so rows ≡ ranked rows:
    * find the tightest tuple threshold T guaranteed to cover ≥ k rows
    * from the groups' far bounds, keep exactly the groups whose near
    * bound reaches T. None when fewer than k rows exist (keep all). */
  def topNKeepSetMulti(
      stats: Seq[(String, Long, Long, Seq[Long], Seq[Long])],
      desc: Boolean,
      k: Int): Option[Set[(String, Long)]] = {
    import scala.math.Ordering.Implicits._
    if (stats.map(_._3).sum < k) return None
    var cum = 0L
    if (desc) {
      // largest T with Σ_{mins ≥ T} rows ≥ k — all of a group's rows
      // rank at-or-after its mins tuple under DESC
      var t: Seq[Long] = null
      val it = stats.sortBy(_._4).reverseIterator
      while (cum < k && it.hasNext) { val g = it.next(); cum += g._3; t = g._4 }
      Some(stats.collect { case (f, pos, _, _, maxs) if maxs >= t =>
        (f, pos) }.toSet)
    } else {
      // smallest T with Σ_{maxs ≤ T} rows ≥ k
      var t: Seq[Long] = null
      val it = stats.sortBy(_._5).iterator
      while (cum < k && it.hasNext) { val g = it.next(); cum += g._3; t = g._5 }
      Some(stats.collect { case (f, pos, _, mins, _) if mins <= t =>
        (f, pos) }.toSet)
    }
  }

  def readerFactory(
      listing: Seq[(String, Seq[(String, String)])],
      tableSchema: StructType,
      required: StructType,
      pushed: Array[Filter],
      renames: Map[String, Seq[String]] = Map.empty): DocStoreReaderFactory = {
    val partCols = partColsOf(listing).toSet
    val dataFilters = pushed.filterNot(f => isPartitionFilter(f, partCols))
    // metadata columns (`_file`, `_pos`, `_change_type`,
    // `_commit_version`) are reader-synthesized, never
    // parquet-projected — unless a DATA column of that name shadows
    val metaNames = Set("_file", "_pos", "_change_type", "_commit_version")
    val requiredData = required.fields.map(_.name).filterNot(partCols)
      .filterNot(n => metaNames(n) && !tableSchema.fieldNames.contains(n))
    val filterCols = dataFilters.flatMap(_.references).distinct
      .filterNot(c => requiredData.contains(c))
    DocStoreReaderFactory(requiredData ++ filterCols, required, tableSchema,
      dataFilters, renames)
  }

  /** Minimal JSON-string-array parser for [[DocStoreOffset]] round-trips
    * (names are plain paths; quote/backslash escapes honored). */
  def parseOffsetJson(json: String): Seq[String] = {
    val out = ArrayBuffer.empty[String]
    var i = 0
    val n = json.length
    while (i < n) {
      if (json.charAt(i) == '"') {
        val sb = new StringBuilder
        i += 1
        while (json.charAt(i) != '"') {
          if (json.charAt(i) == '\\') { sb.append(json.charAt(i + 1)); i += 2 }
          else { sb.append(json.charAt(i)); i += 1 }
        }
        i += 1
        out += sb.result()
      } else i += 1
    }
    out.toSeq
  }

  /** EXACT SQL evaluation of a filter against a file's partition
    * values, for the metadata-only DELETE: outer None = the filter
    * form isn't evaluable here (refuse the metadata path — unlike
    * [[pruneListing]]'s `partKeeps`, whose inclusive keep-on-unknown
    * default would OVER-DELETE); inner Option is SQL's three-valued
    * logic (None = NULL), so `NOT(year = '5')` over a null partition
    * stays NULL — not deleted — exactly like a row-level predicate.
    * Ordered comparisons compare as UTF8String BINARY order (UTF-8
    * byte / code-point order) — Spark's StringType comparison for
    * these columns (partition columns surface as StringType, so
    * pushed literals are strings). `java.lang.String.compareTo` would
    * differ on supplementary characters (UTF-16 code-unit order) and
    * could classify a file differently than the row-level semantics. */
  def partitionFilterEval(
      pv: Map[String, String], f: Filter): Option[Option[Boolean]] = {
    def v(c: String): Option[String] =
      pv.get(c).filter(_ != HiveDefaultPartition)
    def cmp(c: String, lit: Any, op: Int => Boolean): Option[Option[Boolean]] =
      if (!pv.contains(c)) None // not a partition column here
      else Some(v(c).map(x => op(UTF8String.fromString(x)
        .binaryCompare(UTF8String.fromString(partLit(lit))))))
    f match {
      case EqualTo(c, lit) => cmp(c, lit, _ == 0)
      case EqualNullSafe(c, null) => if (pv.contains(c)) Some(Some(v(c).isEmpty)) else None
      case EqualNullSafe(c, lit) =>
        if (pv.contains(c)) Some(Some(v(c).contains(partLit(lit)))) else None
      case GreaterThan(c, lit) => cmp(c, lit, _ > 0)
      case GreaterThanOrEqual(c, lit) => cmp(c, lit, _ >= 0)
      case LessThan(c, lit) => cmp(c, lit, _ < 0)
      case LessThanOrEqual(c, lit) => cmp(c, lit, _ <= 0)
      case In(c, vs) =>
        if (!pv.contains(c)) None
        else Some(v(c) match {
          case None => None
          case Some(x) =>
            if (vs.contains(null.asInstanceOf[Any]) && !vs.exists(y => y != null && partLit(y) == x)) None
            else Some(vs.exists(y => y != null && partLit(y) == x))
        })
      case IsNull(c) => if (pv.contains(c)) Some(Some(v(c).isEmpty)) else None
      case IsNotNull(c) => if (pv.contains(c)) Some(Some(v(c).nonEmpty)) else None
      case And(l, r) =>
        for (a <- partitionFilterEval(pv, l); b <- partitionFilterEval(pv, r))
          yield (a, b) match {
            case (Some(false), _) | (_, Some(false)) => Some(false)
            case (Some(true), Some(true)) => Some(true)
            case _ => None
          }
      case Or(l, r) =>
        for (a <- partitionFilterEval(pv, l); b <- partitionFilterEval(pv, r))
          yield (a, b) match {
            case (Some(true), _) | (_, Some(true)) => Some(true)
            case (Some(false), Some(false)) => Some(false)
            case _ => None
          }
      case Not(inner) => partitionFilterEval(pv, inner).map(_.map(!_))
      case AlwaysTrue() => Some(Some(true))
      case AlwaysFalse() => Some(Some(false))
      case _ => None
    }
  }

  private def partKeeps(pv: Map[String, String], f: Filter): Boolean = f match {
    case EqualTo(c, v) => pv.get(c).contains(partLit(v))
    case In(c, vs) => vs.exists(v => pv.get(c).contains(partLit(v)))
    case IsNotNull(c) => pv.get(c).exists(_ != HiveDefaultPartition)
    case And(l, r) => partKeeps(pv, l) && partKeeps(pv, r)
    case Or(l, r) => partKeeps(pv, l) || partKeeps(pv, r)
    case _ => true
  }

  private def partLit(v: Any): String = v match {
    case u: UTF8String => u.toString
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case other => String.valueOf(other)
  }

  /** Per-JVM footer cache: planning touches a file's footer from up to
    * four places (schema inference + drift check, aggregate-pushdown
    * verification, statistics estimation, split planning) — without
    * this a query over an N-file store pays ~4×N footer fetches on the
    * driver. Keyed by (path, length, mtime): a replaced file (same
    * name, new bytes) misses the stale entry; the staged-commit sink
    * never reuses names anyway. Bounded: cleared wholesale past 8192
    * entries (footers are small; this is a planning cache, not state). */
  private val footerCache = new java.util.concurrent.ConcurrentHashMap[
    String, (MessageType, Seq[BlockMetaData], Map[String, Long])]()

  /** Footer consultations since JVM start — cache hits INCLUDED: a hit
    * still means planning depended on a footer, which is exactly what
    * manifest-embedded statistics exist to avoid. Tests diff this
    * around a plan to prove metadata-only planning (a pruned file's
    * footer is never opened). */
  val footerConsults = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Per-path consult log, enabled by tests to prove a specific file's
    * footer was never opened during a metadata-only plan. */
  @volatile var footerLogEnabled = false
  val footerConsultLog = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  private lazy val footerReadOptions =
    HadoopReadOptions.builder(DocStore.hadoopConf).build()

  /** (schema, row groups, the [[NdvFooterKey]] estimates) of a file. */
  private def footerOf(file: String): (MessageType, Seq[BlockMetaData], Map[String, Long]) = {
    footerConsults.incrementAndGet()
    if (footerLogEnabled) footerConsultLog.add(file): Unit
    val p = new Path(file)
    val fs = p.getFileSystem(DocStore.hadoopConf)
    val st = fs.getFileStatus(p)
    val key = s"$file:${st.getLen}:${st.getModificationTime}"
    if (footerCache.size() > 8192) footerCache.clear()
    footerCache.computeIfAbsent(key, _ => {
      // explicit options: the one-argument open builds its defaults
      // from a fresh Configuration, parsing Hadoop's XML on every miss
      val r = ParquetFileReader.open(
        HadoopInputFile.fromPath(p, DocStore.hadoopConf), footerReadOptions)
      try {
        val f = r.getFooter
        val meta = f.getFileMetaData
        (meta.getSchema, f.getBlocks.asScala.toSeq,
          Option(meta.getKeyValueMetaData.get(NdvFooterKey)).toSeq
            .flatMap(_.split(";")).map(_.split("=", 2)).collect {
              case Array(n, v) => java.net.URLDecoder.decode(n, "UTF-8") -> v.toLong
            }.toMap)
      } finally r.close()
    })
  }

  def fileSchema(file: String): MessageType = footerOf(file)._1

  /** Full row-group metadata (counts + column statistics) — what the
    * aggregate-pushdown scan answers queries from. */
  def footerBlocks(file: String): Seq[BlockMetaData] = footerOf(file)._2

  /** Narrowest primitive column of a file schema — the cheapest column
    * to drive row counts when the projection is empty. (A schema with
    * ONLY nested columns falls back to its first field — correct,
    * just not cheap; such stores are rare.) */
  def narrowest(schema: MessageType): Type = {
    def width(t: Type): Int = t.asPrimitiveType().getPrimitiveTypeName match {
      case PrimitiveTypeName.BOOLEAN => 1
      case PrimitiveTypeName.INT32 | PrimitiveTypeName.FLOAT => 4
      case PrimitiveTypeName.INT64 | PrimitiveTypeName.DOUBLE => 8
      case _ => 16
    }
    val prims = schema.getFields.asScala.filter(_.isPrimitive)
    if (prims.isEmpty) schema.getFields.asScala.head else prims.minBy(width)
  }

  // ---- parquet schema → Spark schema (recursive) ----

  /** File-source nullability contract: like Spark's own readers, every
    * field read from files is reported nullable (files come and go; a
    * REQUIRED column in today's files proves nothing about tomorrow's),
    * recursively through structs/arrays/maps. */
  def toStructType(schema: MessageType): StructType =
    nullify(StructType(structFields(schema))).asInstanceOf[StructType]

  private def nullify(dt: DataType): DataType = dt match {
    case st: StructType =>
      StructType(st.fields.map(f =>
        f.copy(dataType = nullify(f.dataType), nullable = true)))
    case at: ArrayType => ArrayType(nullify(at.elementType), containsNull = true)
    case mt: MapType =>
      MapType(nullify(mt.keyType), nullify(mt.valueType), valueContainsNull = true)
    case other => other
  }

  private def structFields(g: GroupType): Seq[StructField] =
    g.getFields.asScala.toSeq.map { t =>
      StructField(t.getName, sparkType(t),
        nullable = !t.isRepetition(Type.Repetition.REQUIRED) &&
          !t.isRepetition(Type.Repetition.REPEATED))
    }

  /** Parquet type → Catalyst type: primitives as before; LIST groups
    * (standard 3-level `group (LIST) { repeated group { element } }`
    * and 2-level `group (LIST) { repeated element }`), MAP groups,
    * legacy bare repeated fields, and plain groups as structs —
    * recursively, matching Spark's own parquet schema converter on
    * the fixture shapes. */
  private def sparkType(t: Type): DataType = t match {
    case p: PrimitiveType =>
      val base = catalystType(p)
      if (p.isRepetition(Type.Repetition.REPEATED)) ArrayType(base, containsNull = false)
      else base
    case g: GroupType => g.getLogicalTypeAnnotation match {
      case _: ListLogicalTypeAnnotation =>
        g.getType(0) match {
          case rg: GroupType if rg.isRepetition(Type.Repetition.REPEATED) && rg.getFieldCount == 1 =>
            val e = rg.getType(0)
            ArrayType(sparkType(e), containsNull = !e.isRepetition(Type.Repetition.REQUIRED))
          case e: PrimitiveType => // 2-level: repeated element directly
            ArrayType(catalystType(e), containsNull = false)
          case rg: GroupType => // 2-level repeated group element
            ArrayType(StructType(structFields(rg)), containsNull = false)
        }
      case _: MapLogicalTypeAnnotation =>
        val kv = g.getType(0).asGroupType()
        MapType(sparkType(kv.getType(0)), sparkType(kv.getType(1)),
          valueContainsNull = !kv.getType(1).isRepetition(Type.Repetition.REQUIRED))
      case _ if g.isRepetition(Type.Repetition.REPEATED) =>
        ArrayType(StructType(structFields(g)), containsNull = false)
      case _ => StructType(structFields(g))
    }
  }

  private def catalystType(p: PrimitiveType): DataType = {
    val ann = p.getLogicalTypeAnnotation
    p.getPrimitiveTypeName match {
      case PrimitiveTypeName.BOOLEAN => BooleanType
      case PrimitiveTypeName.INT32 => ann match {
        case _: DateLogicalTypeAnnotation => DateType
        case _ => IntegerType
      }
      case PrimitiveTypeName.INT64 => ann match {
        case t: TimestampLogicalTypeAnnotation =>
          // µs is Spark's native precision whatever the store holds;
          // isAdjustedToUTC=false maps to NTZ exactly like Spark's own
          // parquet reader under inferTimestampNTZ
          if (t.isAdjustedToUTC) TimestampType else TimestampNTZType
        case _ => LongType
      }
      case PrimitiveTypeName.FLOAT => FloatType
      case PrimitiveTypeName.DOUBLE => DoubleType
      case PrimitiveTypeName.BINARY => ann match {
        case _: StringLogicalTypeAnnotation => StringType
        case _ => BinaryType
      }
      case other =>
        throw new IllegalArgumentException(
          s"docstore: unsupported parquet type $other for ${p.getName}")
    }
  }

  // ---- nested schema pruning ----

  /** Project a file type down to the required Spark type: plain
    * structs keep only the required subfields (in required order, so
    * group positions align with the Spark struct); LIST elements and
    * MAP values prune recursively; primitives and anything
    * unrecognized pass through whole. This is what makes
    * `SELECT s.x FROM store` read ONE leaf column of a wide document,
    * not the whole subtree. */
  def projectType(ft: Type, dt: DataType): Type = (ft, dt) match {
    case (g: GroupType, st: StructType)
        if g.getLogicalTypeAnnotation == null &&
          !g.isRepetition(Type.Repetition.REPEATED) =>
      val b = PTypes.buildGroup(g.getRepetition)
      st.fields.foreach(f => b.addField(projectType(g.getType(f.name), f.dataType)))
      b.named(g.getName)
    case (g: GroupType, ArrayType(et, _))
        if g.getLogicalTypeAnnotation.isInstanceOf[ListLogicalTypeAnnotation] =>
      g.getType(0) match {
        case rg: GroupType if rg.isRepetition(Type.Repetition.REPEATED) && rg.getFieldCount == 1 =>
          val b = PTypes.buildGroup(g.getRepetition)
            .as(LogicalTypeAnnotation.listType())
          val rep = PTypes.repeatedGroup()
            .addField(projectType(rg.getType(0), et))
            .named(rg.getName)
          b.addField(rep).named(g.getName)
        case _ => ft
      }
    case (g: GroupType, MapType(kt, vt, _))
        if g.getLogicalTypeAnnotation.isInstanceOf[MapLogicalTypeAnnotation] =>
      val kv = g.getType(0).asGroupType()
      val b = PTypes.buildGroup(g.getRepetition)
        .as(LogicalTypeAnnotation.mapType())
      val rep = PTypes.repeatedGroup()
        .addField(projectType(kv.getType(0), kt))
        .addField(projectType(kv.getType(1), vt))
        .named(kv.getName)
      b.addField(rep).named(g.getName)
    case (g: GroupType, ArrayType(st: StructType, _))
        if g.isRepetition(Type.Repetition.REPEATED) =>
      val b = PTypes.repeatedGroup()
      st.fields.foreach(f => b.addField(projectType(g.getType(f.name), f.dataType)))
      b.named(g.getName)
    case _ => ft
  }

  // ---- materialized Group → InternalRow (recursive) ----

  /** Value extractor for a primitive at (group, fieldIndex,
    * occurrence), normalizing timestamps to µs. */
  private def primAt(p: PrimitiveType): (Group, Int, Int) => Any = {
    val ann = p.getLogicalTypeAnnotation
    p.getPrimitiveTypeName match {
      case PrimitiveTypeName.BOOLEAN => (g, f, o) => g.getBoolean(f, o)
      case PrimitiveTypeName.INT32 => (g, f, o) => g.getInteger(f, o)
      case PrimitiveTypeName.INT64 => ann match {
        case t: TimestampLogicalTypeAnnotation => t.getUnit match {
          case TimeUnit.NANOS => (g, f, o) => Math.floorDiv(g.getLong(f, o), 1000L)
          case TimeUnit.MILLIS => (g, f, o) => Math.multiplyExact(g.getLong(f, o), 1000L)
          case _ => (g, f, o) => g.getLong(f, o)
        }
        case _ => (g, f, o) => g.getLong(f, o)
      }
      case PrimitiveTypeName.FLOAT => (g, f, o) => g.getFloat(f, o)
      case PrimitiveTypeName.DOUBLE => (g, f, o) => g.getDouble(f, o)
      case PrimitiveTypeName.BINARY => ann match {
        case _: StringLogicalTypeAnnotation =>
          (g, f, o) => UTF8String.fromBytes(g.getBinary(f, o).getBytes)
        case _ => (g, f, o) => g.getBinary(f, o).getBytes
      }
      case other =>
        throw new IllegalArgumentException(s"docstore: unreadable type $other")
    }
  }

  /** Converter from field `i` of a materialized Group to the catalyst
    * internal value — recursive over structs, lists (2- and 3-level)
    * and maps. The projected group's subfields are in required-struct
    * order (see [[projectType]]), so positional binding is exact. */
  def converter(t: Type, dt: DataType, i: Int): Group => Any = (t, dt) match {
    // SAFE WIDENING (snapshot-store schema evolution): a file written
    // before an int column was widened to bigint carries INT32; the
    // table reads it as long
    case (p: PrimitiveType, LongType)
        if p.getPrimitiveTypeName == PrimitiveTypeName.INT32 &&
          !p.isRepetition(Type.Repetition.REPEATED) &&
          p.getLogicalTypeAnnotation == null =>
      g => g.getInteger(i, 0).toLong
    case (p: PrimitiveType, ArrayType(_, _)) if p.isRepetition(Type.Repetition.REPEATED) =>
      val acc = primAt(p)
      g => {
        val n = g.getFieldRepetitionCount(i)
        val arr = new Array[Any](n)
        var j = 0
        while (j < n) { arr(j) = acc(g, i, j); j += 1 }
        new GenericArrayData(arr)
      }
    case (p: PrimitiveType, _) =>
      val acc = primAt(p)
      g => acc(g, i, 0)
    case (gt: GroupType, ArrayType(et, _))
        if gt.getLogicalTypeAnnotation.isInstanceOf[ListLogicalTypeAnnotation] =>
      gt.getType(0) match {
        case rg: GroupType if rg.isRepetition(Type.Repetition.REPEATED) && rg.getFieldCount == 1 =>
          // standard 3-level list: repeated wrapper group per element
          val elemConv = converter(rg.getType(0), et, 0)
          g => {
            val lg = g.getGroup(i, 0)
            val n = lg.getFieldRepetitionCount(0)
            val arr = new Array[Any](n)
            var j = 0
            while (j < n) {
              val eg = lg.getGroup(0, j)
              arr(j) = if (eg.getFieldRepetitionCount(0) == 0) null else elemConv(eg)
              j += 1
            }
            new GenericArrayData(arr)
          }
        case e: PrimitiveType =>
          // 2-level list: repeated element directly under the LIST group
          val acc = primAt(e)
          g => {
            val lg = g.getGroup(i, 0)
            val n = lg.getFieldRepetitionCount(0)
            val arr = new Array[Any](n)
            var j = 0
            while (j < n) { arr(j) = acc(lg, 0, j); j += 1 }
            new GenericArrayData(arr)
          }
        case rg: GroupType =>
          val rowConv = structRow(rg, et.asInstanceOf[StructType])
          g => {
            val lg = g.getGroup(i, 0)
            val n = lg.getFieldRepetitionCount(0)
            val arr = new Array[Any](n)
            var j = 0
            while (j < n) { arr(j) = rowConv(lg.getGroup(0, j)); j += 1 }
            new GenericArrayData(arr)
          }
      }
    case (gt: GroupType, MapType(kt, vt, _))
        if gt.getLogicalTypeAnnotation.isInstanceOf[MapLogicalTypeAnnotation] =>
      val kv = gt.getType(0).asGroupType()
      val kConv = converter(kv.getType(0), kt, 0)
      val vConv = converter(kv.getType(1), vt, 1)
      g => {
        val mg = g.getGroup(i, 0)
        val n = mg.getFieldRepetitionCount(0)
        val ks = new Array[Any](n)
        val vs = new Array[Any](n)
        var j = 0
        while (j < n) {
          val kvg = mg.getGroup(0, j)
          ks(j) = kConv(kvg)
          vs(j) = if (kvg.getFieldRepetitionCount(1) == 0) null else vConv(kvg)
          j += 1
        }
        new ArrayBasedMapData(new GenericArrayData(ks), new GenericArrayData(vs))
      }
    case (gt: GroupType, ArrayType(st: StructType, _))
        if gt.isRepetition(Type.Repetition.REPEATED) =>
      // legacy bare repeated group = array<struct>
      val rowConv = structRow(gt, st)
      g => {
        val n = g.getFieldRepetitionCount(i)
        val arr = new Array[Any](n)
        var j = 0
        while (j < n) { arr(j) = rowConv(g.getGroup(i, j)); j += 1 }
        new GenericArrayData(arr)
      }
    case (gt: GroupType, st: StructType) =>
      val rowConv = structRow(gt, st)
      g => rowConv(g.getGroup(i, 0))
    case (other, odt) =>
      throw new IllegalArgumentException(
        s"docstore: cannot convert $other to $odt")
  }

  private def structRow(gt: GroupType, st: StructType): Group => InternalRow = {
    val subs = st.fields.indices.toArray.map { j =>
      converter(gt.getType(j), st.fields(j).dataType, j)
    }
    sub => {
      val row = new GenericInternalRow(subs.length)
      var j = 0
      while (j < subs.length) {
        row.update(j,
          if (sub.getFieldRepetitionCount(j) == 0) null else subs(j)(sub))
        j += 1
      }
      row
    }
  }

  // ---- Spark schema → parquet schema + InternalRow → Group (write) ----

  def toMessageType(schema: StructType): MessageType = {
    val b = PTypes.buildMessage()
    schema.fields.foreach(f => b.addField(parquetType(f.name, f.dataType, f.nullable)))
    b.named("docstore_schema")
  }

  private def parquetType(name: String, dt: DataType, nullable: Boolean): Type = {
    val rep =
      if (nullable) Type.Repetition.OPTIONAL else Type.Repetition.REQUIRED
    dt match {
      case BooleanType => PTypes.primitive(PrimitiveTypeName.BOOLEAN, rep).named(name)
      case IntegerType => PTypes.primitive(PrimitiveTypeName.INT32, rep).named(name)
      case LongType => PTypes.primitive(PrimitiveTypeName.INT64, rep).named(name)
      case FloatType => PTypes.primitive(PrimitiveTypeName.FLOAT, rep).named(name)
      case DoubleType => PTypes.primitive(PrimitiveTypeName.DOUBLE, rep).named(name)
      case StringType => PTypes.primitive(PrimitiveTypeName.BINARY, rep)
        .as(LogicalTypeAnnotation.stringType()).named(name)
      case BinaryType => PTypes.primitive(PrimitiveTypeName.BINARY, rep).named(name)
      case DateType => PTypes.primitive(PrimitiveTypeName.INT32, rep)
        .as(LogicalTypeAnnotation.dateType()).named(name)
      case TimestampType => PTypes.primitive(PrimitiveTypeName.INT64, rep)
        .as(LogicalTypeAnnotation.timestampType(true, TimeUnit.MICROS)).named(name)
      case TimestampNTZType => PTypes.primitive(PrimitiveTypeName.INT64, rep)
        .as(LogicalTypeAnnotation.timestampType(false, TimeUnit.MICROS)).named(name)
      case ArrayType(et, containsNull) =>
        PTypes.buildGroup(rep).as(LogicalTypeAnnotation.listType())
          .addField(PTypes.repeatedGroup()
            .addField(parquetType("element", et, containsNull))
            .named("list"))
          .named(name)
      case MapType(kt, vt, valueContainsNull) =>
        PTypes.buildGroup(rep).as(LogicalTypeAnnotation.mapType())
          .addField(PTypes.repeatedGroup()
            .addField(parquetType("key", kt, nullable = false))
            .addField(parquetType("value", vt, valueContainsNull))
            .named("key_value"))
          .named(name)
      case st: StructType =>
        val gb = PTypes.buildGroup(rep)
        st.fields.foreach(f => gb.addField(parquetType(f.name, f.dataType, f.nullable)))
        gb.named(name)
      case other =>
        throw new IllegalArgumentException(s"docstore: unwritable type $other for $name")
    }
  }

  /** Add the non-null value at `src(ord)` to field `i` of `g`,
    * recursing into arrays (standard 3-level layout) and structs. */
  def addValue(g: Group, i: Int, dt: DataType, src: SpecializedGetters, ord: Int): Unit =
    dt match {
      case BooleanType => g.add(i, src.getBoolean(ord))
      case IntegerType | DateType => g.add(i, src.getInt(ord))
      case LongType | TimestampType | TimestampNTZType => g.add(i, src.getLong(ord))
      case FloatType => g.add(i, src.getFloat(ord))
      case DoubleType => g.add(i, src.getDouble(ord))
      case StringType => g.add(i, Binary.fromString(src.getUTF8String(ord).toString))
      case BinaryType => g.add(i, Binary.fromConstantByteArray(src.getBinary(ord)))
      case ArrayType(et, _) =>
        val lg = g.addGroup(i)
        val arr = src.getArray(ord)
        var j = 0
        while (j < arr.numElements()) {
          val eg = lg.addGroup(0)
          if (!arr.isNullAt(j)) addValue(eg, 0, et, arr, j)
          j += 1
        }
      case MapType(kt, vt, _) =>
        val mg = g.addGroup(i)
        val m = src.getMap(ord)
        val ks = m.keyArray()
        val vs = m.valueArray()
        var j = 0
        while (j < m.numElements()) {
          val kvg = mg.addGroup(0)
          addValue(kvg, 0, kt, ks, j)
          if (!vs.isNullAt(j)) addValue(kvg, 1, vt, vs, j)
          j += 1
        }
      case st: StructType =>
        val sg = g.addGroup(i)
        val sub = src.getStruct(ord, st.length)
        var j = 0
        while (j < st.length) {
          if (!sub.isNullAt(j)) addValue(sg, j, st.fields(j).dataType, sub, j)
          j += 1
        }
      case other =>
        throw new IllegalArgumentException(s"docstore: unwritable type $other")
    }

  /** Hive-layout partition directory value for a row's column —
    * path-escaped, so a value containing '/', '=', '%' or other
    * filesystem-significant characters round-trips instead of
    * silently splitting into nested directories. */
  /** Inverse of [[partitionValueString]]'s canonical text forms: a
    * directory value parsed into the catalyst-internal representation
    * of `dt`. Path-based reads surface partition columns as STRING
    * (untyped Hive layout); a CATALOG table's declared partition type
    * reaches the reader through the table schema, and this cast is
    * what makes `PARTITIONED BY (year INT)` read back as an int —
    * exactly what Spark's own file sources do with partition values. */
  def partitionValueCast(raw: String, dt: DataType): Any = dt match {
    case StringType => UTF8String.fromString(raw)
    case IntegerType => raw.toInt
    case LongType => raw.toLong
    case BooleanType => raw.toBoolean
    case DateType => java.time.LocalDate.parse(raw).toEpochDay.toInt
    case other =>
      throw new IllegalArgumentException(
        s"docstore: unsupported partition column type $other")
  }

  def partitionValueString(row: InternalRow, i: Int, dt: DataType): String =
    if (row.isNullAt(i)) HiveDefaultPartition
    else escapePathName(dt match {
      case StringType => row.getUTF8String(i).toString
      case IntegerType => row.getInt(i).toString
      case LongType => row.getLong(i).toString
      case BooleanType => row.getBoolean(i).toString
      case DateType => java.time.LocalDate.ofEpochDay(row.getInt(i).toLong).toString
      case other =>
        throw new IllegalArgumentException(
          s"docstore: unsupported partition column type $other")
    })

  /** Hive-compatible %XX escaping for partition directory values (the
    * same character set Spark's catalog escapes), inverted by
    * [[unescapePathName]] at listing time. */
  private val pathEscapeChars: Set[Char] =
    "\"#%'*/:=?\\{[]^".toSet

  def escapePathName(s: String): String = {
    val sb = new StringBuilder
    s.foreach { c =>
      if (c < ' ' || pathEscapeChars(c)) sb.append(f"%%${c.toInt}%02X")
      else sb.append(c)
    }
    if (sb.isEmpty) "__EMPTY__" else sb.result()
  }

  def unescapePathName(s: String): String = {
    if (s == "__EMPTY__") return ""
    def hex(c: Char) = (c >= '0' && c <= '9') ||
      (c >= 'A' && c <= 'F') || (c >= 'a' && c <= 'f')
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      // a '%XX' triple decodes; a stray '%' (foreign layout) passes through
      if (c == '%' && i + 2 < s.length && hex(s.charAt(i + 1)) && hex(s.charAt(i + 2))) {
        sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
        i += 3
      } else { sb.append(c); i += 1 }
    }
    sb.result()
  }

  // ---- aggregate pushdown specs ----

  sealed trait AggSpec extends Serializable { def name: String }
  case object CountStarSpec extends AggSpec { val name = "count(*)" }
  final case class CountColSpec(col: String) extends AggSpec { def name = s"count($col)" }
  final case class MinSpec(col: String) extends AggSpec { def name = s"min($col)" }
  final case class MaxSpec(col: String) extends AggSpec { def name = s"max($col)" }

  /** A flat (single-segment) column reference, or None. */
  def flatRef(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
    e match {
      case nr: NamedReference if nr.fieldNames.length == 1 => Some(nr.fieldNames()(0))
      case _ => None
    }

  // ---- filter pushability ----

  /** Can the server evaluate this filter exactly? Either a pure
    * PARTITION-column predicate (equality/IN/IsNotNull on the `k=v`
    * directory values — applied by planning-time split pruning) or a
    * pure DATA-column predicate (comparison/IN/IsNotNull/IsNull on a
    * flat column of a supported type with non-null literals — applied
    * record-exactly by FilterApi). A predicate mixing the two domains
    * stays residual. */
  def pushable(f: Filter, schema: StructType, partCols: Set[String]): Boolean = {
    val refs = f.references
    if (refs.exists(partCols.contains))
      refs.forall(partCols.contains) && partPushable(f)
    else dataPushable(f, schema)
  }

  private def partPushable(f: Filter): Boolean = f match {
    case EqualTo(_, v) => v != null
    case In(_, vs) => vs.nonEmpty && vs.forall(_ != null)
    case IsNotNull(_) => true
    case And(l, r) => partPushable(l) && partPushable(r)
    case Or(l, r) => partPushable(l) && partPushable(r)
    case _ => false
  }

  private def dataPushable(f: Filter, schema: StructType): Boolean = f match {
    case EqualTo(c, v) => cmpOk(c, v, schema)
    case GreaterThan(c, v) => ordOk(c, v, schema)
    case GreaterThanOrEqual(c, v) => ordOk(c, v, schema)
    case LessThan(c, v) => ordOk(c, v, schema)
    case LessThanOrEqual(c, v) => ordOk(c, v, schema)
    case In(c, vs) => vs.nonEmpty && vs.forall(v => cmpOk(c, v, schema))
    case IsNotNull(c) => colOk(c, schema)
    case IsNull(c) => colOk(c, schema)
    case And(l, r) => dataPushable(l, schema) && dataPushable(r, schema)
    case Or(l, r) => dataPushable(l, schema) && dataPushable(r, schema)
    case Not(child) => dataPushable(child, schema) && notOk(child)
    case _ => false
  }

  /** NOT over nulls is where SQL and record-filters diverge:
    * `NOT (a = v)` must DROP rows where a IS NULL (SQL: NULL), but
    * parquet's notEq(a, v) KEEPS them. Only Not(IsNull)/Not(IsNotNull)
    * translate exactly; everything else under NOT stays residual. */
  private def notOk(f: Filter): Boolean = f match {
    case IsNull(_) | IsNotNull(_) => true
    case _ => false
  }

  private def colOk(c: String, schema: StructType): Boolean =
    !c.contains(".") && schema.fieldNames.contains(c) &&
      (schema(c).dataType match {
        case BooleanType | IntegerType | LongType | FloatType | DoubleType |
             StringType | DateType | TimestampType | TimestampNTZType => true
        case _ => false
      })

  private def cmpOk(c: String, v: Any, schema: StructType): Boolean =
    v != null && colOk(c, schema) && (schema(c).dataType match {
      case BooleanType => v.isInstanceOf[java.lang.Boolean]
      case _ => true
    })

  /** Ordered comparisons: like [[cmpOk]] but boolean columns are
    * excluded — parquet's FilterApi has no gt/lt over booleans, so a
    * pushed `boolCol > false` would fail at reader creation instead of
    * staying residual. */
  private def ordOk(c: String, v: Any, schema: StructType): Boolean =
    cmpOk(c, v, schema) && schema(c).dataType != BooleanType

  /** Spark filters → one parquet FilterPredicate, bound to the FILE's
    * physical types (a timestamp predicate on a NANOS column converts
    * the literal to nanos, etc.), so the server evaluates in its own
    * storage domain with zero precision loss. */
  def toPredicate(
      filters: Array[Filter],
      fileSchema: MessageType): Option[FilterPredicate] =
    filters.flatMap(f => one(f, fileSchema)).toSeq
      .reduceOption(FilterApi.and)

  private def one(f: Filter, fs: MessageType): Option[FilterPredicate] = {
    def prim(c: String): PrimitiveType = fs.getType(Seq(c): _*).asPrimitiveType()
    f match {
      case EqualTo(c, v) => Some(mk(prim(c), v, "eq"))
      case GreaterThan(c, v) => Some(mk(prim(c), v, "gt"))
      case GreaterThanOrEqual(c, v) => Some(mk(prim(c), v, "gtEq"))
      case LessThan(c, v) => Some(mk(prim(c), v, "lt"))
      case LessThanOrEqual(c, v) => Some(mk(prim(c), v, "ltEq"))
      case In(c, vs) => Some(inPred(prim(c), vs))
      case IsNull(c) => Some(nullPred(prim(c), isNull = true))
      case IsNotNull(c) => Some(nullPred(prim(c), isNull = false))
      case And(l, r) =>
        for (a <- one(l, fs); b <- one(r, fs)) yield FilterApi.and(a, b)
      case Or(l, r) =>
        for (a <- one(l, fs); b <- one(r, fs)) yield FilterApi.or(a, b)
      case Not(IsNull(c)) => Some(nullPred(prim(c), isNull = false))
      case Not(IsNotNull(c)) => Some(nullPred(prim(c), isNull = true))
      case _ => None
    }
  }

  private def nullPred(p: PrimitiveType, isNull: Boolean): FilterPredicate = {
    val n = p.getName
    p.getPrimitiveTypeName match {
      case PrimitiveTypeName.BOOLEAN =>
        if (isNull) FilterApi.eq(FilterApi.booleanColumn(n), null.asInstanceOf[java.lang.Boolean])
        else FilterApi.notEq(FilterApi.booleanColumn(n), null.asInstanceOf[java.lang.Boolean])
      case PrimitiveTypeName.INT32 =>
        if (isNull) FilterApi.eq(FilterApi.intColumn(n), null.asInstanceOf[java.lang.Integer])
        else FilterApi.notEq(FilterApi.intColumn(n), null.asInstanceOf[java.lang.Integer])
      case PrimitiveTypeName.INT64 =>
        if (isNull) FilterApi.eq(FilterApi.longColumn(n), null.asInstanceOf[java.lang.Long])
        else FilterApi.notEq(FilterApi.longColumn(n), null.asInstanceOf[java.lang.Long])
      case PrimitiveTypeName.FLOAT =>
        if (isNull) FilterApi.eq(FilterApi.floatColumn(n), null.asInstanceOf[java.lang.Float])
        else FilterApi.notEq(FilterApi.floatColumn(n), null.asInstanceOf[java.lang.Float])
      case PrimitiveTypeName.DOUBLE =>
        if (isNull) FilterApi.eq(FilterApi.doubleColumn(n), null.asInstanceOf[java.lang.Double])
        else FilterApi.notEq(FilterApi.doubleColumn(n), null.asInstanceOf[java.lang.Double])
      case PrimitiveTypeName.BINARY =>
        if (isNull) FilterApi.eq(FilterApi.binaryColumn(n), null.asInstanceOf[Binary])
        else FilterApi.notEq(FilterApi.binaryColumn(n), null.asInstanceOf[Binary])
      case other =>
        throw new IllegalArgumentException(s"docstore: null check on $other")
    }
  }

  /** `c IN (vs)` as one parquet `In` node, not an OR tree of `eq`s:
    * every filter level (statistics, dictionary, bloom, column index,
    * record) evaluates it as one node, the record level with one hash
    * lookup per row. Literals convert to the column's physical domain
    * as in [[mk]]. A MILLIS timestamp column keeps the OR of [[mk]]
    * equalities, which maps a sub-millisecond literal to the empty
    * set. */
  private def inPred(p: PrimitiveType, vs: Array[Any]): FilterPredicate = {
    val n = p.getName
    def set[T](xs: Array[T]): java.util.Set[T] = new java.util.HashSet[T](xs.toSeq.asJava)
    p.getPrimitiveTypeName match {
      case PrimitiveTypeName.BOOLEAN =>
        FilterApi.in(FilterApi.booleanColumn(n),
          set(vs.map(v => java.lang.Boolean.valueOf(v.asInstanceOf[Boolean]))))
      case PrimitiveTypeName.INT32 =>
        FilterApi.in(FilterApi.intColumn(n), set(vs.map(int32Value(p, _))))
      case PrimitiveTypeName.INT64 => p.getLogicalTypeAnnotation match {
        case t: TimestampLogicalTypeAnnotation if t.getUnit == TimeUnit.MILLIS =>
          vs.map(mk(p, _, "eq")).reduce(FilterApi.or)
        case _ => FilterApi.in(FilterApi.longColumn(n), set(vs.map(int64Value(p, _))))
      }
      case PrimitiveTypeName.FLOAT =>
        FilterApi.in(FilterApi.floatColumn(n),
          set(vs.map(v => java.lang.Float.valueOf(v.asInstanceOf[Number].floatValue()))))
      case PrimitiveTypeName.DOUBLE =>
        FilterApi.in(FilterApi.doubleColumn(n),
          set(vs.map(v => java.lang.Double.valueOf(v.asInstanceOf[Number].doubleValue()))))
      case PrimitiveTypeName.BINARY =>
        FilterApi.in(FilterApi.binaryColumn(n), set(vs.map(v => Binary.fromString(v.toString))))
      case other =>
        throw new IllegalArgumentException(s"docstore: IN on $other")
    }
  }

  /** One comparison, with the literal converted to the column's
    * physical domain. `op` ∈ {eq, gt, gtEq, lt, ltEq}. */
  private def mk(p: PrimitiveType, v: Any, op: String): FilterPredicate = {
    val n = p.getName
    p.getPrimitiveTypeName match {
      case PrimitiveTypeName.BOOLEAN =>
        val c = FilterApi.booleanColumn(n)
        val b = java.lang.Boolean.valueOf(v.asInstanceOf[Boolean])
        op match {
          case "eq" => FilterApi.eq(c, b)
          case other => throw new IllegalArgumentException(s"bool $other")
        }
      case PrimitiveTypeName.INT32 =>
        cmp32(FilterApi.intColumn(n), int32Value(p, v), op)
      case PrimitiveTypeName.INT64 =>
        p.getLogicalTypeAnnotation match {
          case t: TimestampLogicalTypeAnnotation if t.getUnit == TimeUnit.MILLIS =>
            millisCmp(n, tsMicros(v), op)
          case _ => cmp64(FilterApi.longColumn(n), int64Value(p, v), op)
        }
      case PrimitiveTypeName.FLOAT =>
        cmpF(FilterApi.floatColumn(n),
          java.lang.Float.valueOf(v.asInstanceOf[Number].floatValue()), op)
      case PrimitiveTypeName.DOUBLE =>
        cmpD(FilterApi.doubleColumn(n),
          java.lang.Double.valueOf(v.asInstanceOf[Number].doubleValue()), op)
      case PrimitiveTypeName.BINARY =>
        cmpB(FilterApi.binaryColumn(n), Binary.fromString(v.toString), op)
      case other =>
        throw new IllegalArgumentException(s"docstore: comparison on $other")
    }
  }

  /** A µs literal against a MILLIS-stored column: the exact predicate
    * depends on the op's rounding direction. For stored value m (ms)
    * and literal x (µs): m·1000 > x ⟺ m > ⌊x/1000⌋; m·1000 ≥ x ⟺
    * m ≥ ⌈x/1000⌉; m·1000 < x ⟺ m < ⌈x/1000⌉; m·1000 ≤ x ⟺
    * m ≤ ⌊x/1000⌋; and equality is the conjunction m ≥ ⌈⌉ ∧ m ≤ ⌊⌋ —
    * which collapses to eq when x is ms-aligned and to the empty set
    * for a sub-millisecond literal (no ms-grain value can equal it).
    * floorDiv/the +999 ceiling are exact for negative epochs too. */
  private def millisCmp(n: String, micros: Long, op: String): FilterPredicate = {
    val c = FilterApi.longColumn(n)
    val fl = Long.box(Math.floorDiv(micros, 1000L))
    val ce = Long.box(Math.floorDiv(Math.addExact(micros, 999L), 1000L))
    op match {
      case "eq" =>
        if (fl == ce) FilterApi.eq(c, fl)
        else FilterApi.and(FilterApi.gtEq(c, ce), FilterApi.ltEq(c, fl))
      case "gt" => FilterApi.gt(c, fl)
      case "gtEq" => FilterApi.gtEq(c, ce)
      case "lt" => FilterApi.lt(c, ce)
      case "ltEq" => FilterApi.ltEq(c, fl)
    }
  }

  private def int32Value(p: PrimitiveType, v: Any): java.lang.Integer =
    p.getLogicalTypeAnnotation match {
      case _: DateLogicalTypeAnnotation => v match {
        case d: java.sql.Date => Int.box(d.toLocalDate.toEpochDay.toInt)
        case d: java.time.LocalDate => Int.box(d.toEpochDay.toInt)
        case n: Number => Int.box(n.intValue())
        case other => throw new IllegalArgumentException(s"date literal $other")
      }
      case _ => Int.box(v.asInstanceOf[Number].intValue())
    }

  private def int64Value(p: PrimitiveType, v: Any): java.lang.Long =
    p.getLogicalTypeAnnotation match {
      case t: TimestampLogicalTypeAnnotation =>
        val micros = tsMicros(v)
        Long.box(t.getUnit match {
          case TimeUnit.NANOS => Math.multiplyExact(micros, 1000L)
          // MILLIS is handled op-aware in millisCmp, never here
          case _ => micros
        })
      case _ => Long.box(v.asInstanceOf[Number].longValue())
    }

  /** Timestamp literal → epoch µs; NTZ literals (LocalDateTime) pin to
    * UTC, matching the µs-since-epoch the fixtures store. */
  private def tsMicros(v: Any): Long = v match {
    case t: java.sql.Timestamp =>
      val i = t.toInstant
      Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L),
        (i.getNano / 1000).toLong)
    case i: java.time.Instant =>
      Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L),
        (i.getNano / 1000).toLong)
    case l: java.time.LocalDateTime => tsMicros(l.toInstant(java.time.ZoneOffset.UTC))
    case n: Number => n.longValue()
    case other => throw new IllegalArgumentException(s"timestamp literal $other")
  }

  private def cmp32(c: Operators.IntColumn, v: java.lang.Integer, op: String) =
    op match {
      case "eq" => FilterApi.eq(c, v)
      case "gt" => FilterApi.gt(c, v)
      case "gtEq" => FilterApi.gtEq(c, v)
      case "lt" => FilterApi.lt(c, v)
      case "ltEq" => FilterApi.ltEq(c, v)
    }
  private def cmp64(c: Operators.LongColumn, v: java.lang.Long, op: String) =
    op match {
      case "eq" => FilterApi.eq(c, v)
      case "gt" => FilterApi.gt(c, v)
      case "gtEq" => FilterApi.gtEq(c, v)
      case "lt" => FilterApi.lt(c, v)
      case "ltEq" => FilterApi.ltEq(c, v)
    }
  private def cmpF(c: Operators.FloatColumn, v: java.lang.Float, op: String) =
    op match {
      case "eq" => FilterApi.eq(c, v)
      case "gt" => FilterApi.gt(c, v)
      case "gtEq" => FilterApi.gtEq(c, v)
      case "lt" => FilterApi.lt(c, v)
      case "ltEq" => FilterApi.ltEq(c, v)
    }
  private def cmpD(c: Operators.DoubleColumn, v: java.lang.Double, op: String) =
    op match {
      case "eq" => FilterApi.eq(c, v)
      case "gt" => FilterApi.gt(c, v)
      case "gtEq" => FilterApi.gtEq(c, v)
      case "lt" => FilterApi.lt(c, v)
      case "ltEq" => FilterApi.ltEq(c, v)
    }
  private def cmpB(c: Operators.BinaryColumn, v: Binary, op: String) =
    op match {
      case "eq" => FilterApi.eq(c, v)
      case "gt" => FilterApi.gt(c, v)
      case "gtEq" => FilterApi.gtEq(c, v)
      case "lt" => FilterApi.lt(c, v)
      case "ltEq" => FilterApi.ltEq(c, v)
    }
}

/** [[TableSource]] routed through the docstore connector: the same
  * `<table>.parquet` fixture layout as [[ParquetDirSource]], but every
  * read crosses the DataSource V2 boundary — filters and projections
  * reach the connector's scan builder exactly as they would reach the
  * Mongo connector in production. Timestamp normalization (ns → µs)
  * happens inside the connector, so no session flag is needed. */
final case class DocStoreTableSource(dir: String) extends TableSource {
  override def read(spark: SparkSession, table: String): DataFrame =
    spark.read.format("docstore")
      .option("path", s"$dir/$table.parquet")
      .load()

  override def list(spark: SparkSession): Seq[String] =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".parquet"))
      .map(_.getName.stripSuffix(".parquet"))
      .sorted
}
