package graft.etl

import graft.{Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reference-parity data-plane operators as declared queries: the
  * date-range pushdown filter (reference main.py:288-293), the derived
  * year/month/day partition columns (main.py:92-100), the `"unknown"`
  * partition fallback (main.py:110) and plain projection/rename
  * (main.py:107). The write side (A8/A12) is exercised by
  * [[graft.etl.Export]] + its ScalaTest round-trip, since a sink is a
  * side effect, not a DataFrame-returning query. */
object EtlQueries {

  /** Set-if-unset registration of a docstore SQL catalog on the shared
    * session. Idempotent by construction: Spark instantiates a catalog
    * once on first reference and caches it, and every caller passes
    * the same (name → root) mapping, so concurrent Verify threads
    * can't observe different bindings — unlike a plan-shape conf this
    * only ADDS a name-resolution root, it never reshapes other
    * queries' plans. */
  /** Register (or reuse) a DocStoreCatalog rooted at `root` and return
    * the catalog name to address it by. Catalog confs are
    * session-sticky, so when `name` is already bound to a DIFFERENT
    * root (one session running fixtures from two parent dirs) the
    * binding must not silently serve the first root's tables — a
    * root-keyed sibling (`name_<hash>`) is registered instead and the
    * caller addresses THAT. */
  private def ensureCatalog(s: org.apache.spark.sql.SparkSession,
      name: String, root: String): String = synchronized {
    def rootOf(n: String) = s.conf.getOption(s"spark.sql.catalog.$n.root")
    val cat =
      if (s.conf.getOption(s"spark.sql.catalog.$name").isEmpty ||
        rootOf(name).contains(root)) name
      else name + "_" + java.lang.Integer.toHexString(root.hashCode)
    if (s.conf.getOption(s"spark.sql.catalog.$cat").isEmpty) {
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.DocStoreCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
    }
    cat
  }

  /** A per-fixture-dir SQL namespace under the process-scratch catalog
    * root (identifier-safe spelling of the dir). */
  private def nsOf(dir: String): String =
    "ns_" + dir.replaceAll("[^A-Za-z0-9]", "_")

  /** The mutable-store catalog (DDL/DML targets live under a
    * process-scratch root); returns the catalog name. */
  private def mutableCatalog(s: org.apache.spark.sql.SparkSession): String = {
    val root = graft.Scratch.once("graftds_catalog_root") { d =>
      new java.io.File(d).mkdirs(): Unit
    }
    ensureCatalog(s, "graftds", root)
  }

  /** Filesystem path of a catalog table (`<root>/<ns>/<table>`) for
    * the maintenance/change-feed APIs that address stores by path. */
  private def pathOfTable(s: org.apache.spark.sql.SparkSession,
      cat: String, ns: String, table: String): String =
    s"${s.conf.get(s"spark.sql.catalog.$cat.root")}/$ns/$table"

  private def ensureNamespace(s: org.apache.spark.sql.SparkSession,
      cat: String, ns: String): Unit =
    try s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.$ns")
    catch { // IF NOT EXISTS check-then-act can race under Verify's pool
      case _: org.apache.spark.sql.catalyst.analysis.NamespaceAlreadyExistsException => ()
    }

  def defs: Seq[Q] = Seq(
    Q(
      "etl_connector_pushdown",
      "The reference's defining behavior exercised through a REAL " +
        "DataSource V2 connector boundary (graft.sources.DocStoreSource " +
        "— the in-repo stand-in for the Mongo connector's scan " +
        "contract): orders are read via `format(\"docstore\")`, the " +
        "inclusive date range (reference main.py:288-299, $gte/$lte) " +
        "and the 3-column projection cross SupportsPushDownFilters / " +
        "SupportsPushDownRequiredColumns into the connector, and the " +
        "\"server\" (parquet row-group stats + exact record-level " +
        "FilterApi predicates) drops out-of-range rows before they " +
        "reach Spark — the plan has NO post-scan Filter node at all " +
        "(DocStoreSpec pins pushed-filter content, pruned schema, and " +
        "the absence of a residual Filter). Result: per-status order " +
        "counts and exact-cents totals inside the range.",
      (s, dir) => {
        val o = graft.sources.DocStoreTableSource(dir).read(s, "orders")
        o.filter(col("o_orderdate") >= lit("1996-01-01 00:00:00") &&
            col("o_orderdate") <= lit("1997-06-30 23:59:59"))
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n_orders"),
            round(sum(round(col("o_totalprice") * 100).cast("bigint")).cast("bigint") / 1e2, 2)
              .as("total"))
          .orderBy("o_orderstatus")
      },
      Some("""SELECT o_orderstatus, count(*) AS n_orders,
          round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 1e2, 2) AS total
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate <= TIMESTAMP '1997-06-30 23:59:59'
        GROUP BY 1 ORDER BY o_orderstatus""")),

    Q(
      "etl_connector_projection",
      "Column pruning + IN-list pushdown through the same DSv2 " +
        "connector: documents read via `format(\"docstore\")` with a " +
        "3-language IN filter; the connector receives the In filter " +
        "(evaluated server-side as an OR-of-equals over the binary " +
        "column) and a 2-column projection — the reader materializes " +
        "ONLY lang and n_chars from the store, the Mongo-projection " +
        "analogue. Aggregate: per-language doc count and exact " +
        "character volume.",
      (s, dir) => {
        val d = graft.sources.DocStoreTableSource(dir).read(s, "documents")
        d.filter(col("lang").isin("en", "de", "fr"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("chars"))
          .orderBy("lang")
      },
      Some("""SELECT lang, count(*) AS n_docs,
          CAST(sum(n_chars) AS BIGINT) AS chars
        FROM documents
        WHERE lang IN ('en', 'de', 'fr')
        GROUP BY 1 ORDER BY lang""")),

    Q(
      "etl_connector_nested",
      "NESTED columns through the DSv2 connector boundary — the " +
        "reference's data model is nested Mongo documents passed " +
        "through whole (main.py:129; subdocuments/arrays → Arrow " +
        "struct/list): embeddings' array<float> column is read via " +
        "`format(\"docstore\")` (standard 3-level parquet LIST groups " +
        "→ InternalRow arrays inside the connector), then aggregated " +
        "per label with order-independent exact stats (count, min/max " +
        "of the first component, min/max dimension) so any element " +
        "loss, reorder, or null corruption through the nested read " +
        "path is a hash mismatch. DocStoreSpec additionally pins " +
        "nested-pruned projections and residual filters over nested " +
        "paths.",
      (s, dir) => {
        val e = graft.sources.DocStoreTableSource(dir).read(s, "embeddings")
        e.groupBy("label")
          .agg(count(lit(1)).as("n_vecs"),
            round(min(element_at(col("embedding"), 1)).cast("double"), 6).as("min_e0"),
            round(max(element_at(col("embedding"), 1)).cast("double"), 6).as("max_e0"),
            min(size(col("embedding"))).as("min_dim"),
            max(size(col("embedding"))).as("max_dim"))
          .orderBy("label")
      },
      Some("""SELECT label, count(*) AS n_vecs,
          round(CAST(min(embedding[1]) AS DOUBLE), 6) AS min_e0,
          round(CAST(max(embedding[1]) AS DOUBLE), 6) AS max_e0,
          CAST(min(len(embedding)) AS INT) AS min_dim,
          CAST(max(len(embedding)) AS INT) AS max_dim
        FROM embeddings GROUP BY 1 ORDER BY label""")),

    Q(
      "etl_connector_count",
      "Aggregate pushdown through the connector (A13's count the way " +
        "a real document store answers countDocuments): the ungrouped " +
        "count/min/max cross SupportsPushDownAggregates and are " +
        "answered from row-group FOOTER STATISTICS — row counts, " +
        "min/max live in the metadata, so the scan reads ZERO data " +
        "pages (DocStoreSpec pins the metadata-only read schema and " +
        "the PushedAggregation marker). At 100 TB this is the " +
        "difference between a free catalog lookup and a full store " +
        "scan. Timestamps compare as epoch µs so both engines hash " +
        "identically.",
      (s, dir) => {
        val o = graft.sources.DocStoreTableSource(dir).read(s, "orders")
        o.agg(count(lit(1)).as("n"),
            min(col("o_orderkey")).as("min_key"),
            max(col("o_orderkey")).as("max_key"))
          .select(col("n"), col("min_key"), col("max_key"))
      },
      Some("""SELECT count(*) AS n, min(o_orderkey) AS min_key,
          max(o_orderkey) AS max_key FROM orders""")),

    Q(
      "etl_connector_join",
      "Cost-based join planning ACROSS the connector boundary: both " +
        "orders and customer are read via `format(\"docstore\")` with " +
        "NO broadcast hint — the connector's SupportsReportStatistics " +
        "(row counts + projected-column uncompressed bytes straight " +
        "from parquet footers) tells Catalyst the pruned customer " +
        "side is small, and JoinSelection picks BroadcastHashJoin on " +
        "its own (DocStoreSpec pins the plan). Without footer stats a " +
        "DSv2 scan reports the conf-default infinite size and this " +
        "join would shuffle BOTH sides — the 100 TB failure mode for " +
        "every connector-read dimension table. Result: per-segment " +
        "order counts and exact-cents totals.",
      (s, dir) => {
        val src = graft.sources.DocStoreTableSource(dir)
        val o = src.read(s, "orders").select("o_custkey", "o_totalprice")
        val c = src.read(s, "customer").select("c_custkey", "c_mktsegment")
        o.join(c, col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_mktsegment").as("segment"))
          .agg(count(lit(1)).as("n_orders"),
            round(sum(round(col("o_totalprice") * 100).cast("bigint")).cast("bigint") / 1e2, 2)
              .as("total"))
          .orderBy("segment")
      },
      Some("""SELECT c_mktsegment AS segment, count(*) AS n_orders,
          round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 1e2, 2) AS total
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1 ORDER BY segment""")),

    Q(
      "etl_connector_sink",
      "The full ETL round trip through the DSv2 boundary (A12 joined " +
        "up with A4/A5): orders flow through the connector's " +
        "STAGED-COMMIT partitioned zstd parquet sink (tasks write " +
        "under _staging-<queryId>, only the job commit publishes — a " +
        "failed job leaves the store untouched), routed into Hive " +
        "o_year=<YYYY> directories exactly like the reference's " +
        "year=<YYYY> layout (main.py:92-100), then read BACK through " +
        "the same connector with the partition column recovered from " +
        "directory names, and aggregated per year. The oracle computes " +
        "the same aggregate straight from the source table, so any " +
        "row, value, or partition-routing corruption through the " +
        "write/commit/list/read path is a hash mismatch.",
      (s, dir) => {
        val store = graft.Scratch.once(s"etl_docstore_sink:$dir") { p =>
          Tables.t(s, dir, "orders")
            .withColumn("o_year", year(col("o_orderdate")).cast("int"))
            .select("o_orderkey", "o_custkey", "o_totalprice", "o_year")
            .write.format("docstore").option("path", p)
            .option("partitionBy", "o_year").mode("overwrite").save()
        }
        s.read.format("docstore").option("path", store).load()
          .groupBy(col("o_year").cast("int").as("o_year"))
          .agg(count(lit(1)).as("n_orders"),
            round(sum(round(col("o_totalprice") * 100).cast("bigint")).cast("bigint") / 1e2, 2)
              .as("total"),
            countDistinct(col("o_custkey")).as("n_custs"))
          .orderBy("o_year")
      },
      Some("""SELECT CAST(year(o_orderdate) AS INT) AS o_year,
          count(*) AS n_orders,
          round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 1e2, 2) AS total,
          count(DISTINCT o_custkey) AS n_custs
        FROM orders GROUP BY 1 ORDER BY o_year""")),

    Q(
      "etl_connector_sink_clustered",
      "CLUSTERED sink write (RequiresDistributionAndOrdering — the " +
        "100 TB small-files defense): the sink asks Spark to cluster " +
        "the write by the partition column and sort within tasks by " +
        "(o_year, o_orderdate), so a partitioned commit produces ONE " +
        "file per partition value instead of files-per-partition-per-" +
        "task (the explosion A12's rotation exists to manage, and " +
        "which etl_compaction_plan could only repair after the fact), " +
        "and the sortBy gives row groups disjoint o_orderdate ranges " +
        "— a read-back date range prunes row groups via the same " +
        "FilterApi statistics path as any pushed filter (DocStoreSpec " +
        "pins one-file-per-partition and the sorted layout). The " +
        "read-back filters Q4-1995 orders per year; the oracle " +
        "computes the same from the source table, so clustering and " +
        "sorting must be pure layout — never a row or value change.",
      (s, dir) => {
        val store = graft.Scratch.once(s"etl_docstore_sink_clustered:$dir") { p =>
          Tables.t(s, dir, "orders")
            .withColumn("o_year", year(col("o_orderdate")).cast("int"))
            .select("o_orderkey", "o_orderdate", "o_totalprice", "o_year")
            .write.format("docstore").option("path", p)
            .option("partitionBy", "o_year").option("sortBy", "o_orderdate")
            .option("rowGroupBytes", "65536")
            .mode("overwrite").save()
        }
        s.read.format("docstore").option("path", store).load()
          .filter(col("o_orderdate") >= lit("1995-10-01").cast("date") &&
            col("o_orderdate") <= lit("1995-12-31").cast("date"))
          .groupBy(col("o_year").cast("int").as("o_year"))
          .agg(count(lit(1)).as("n_orders"),
            round(sum(round(col("o_totalprice") * 100).cast("bigint")).cast("bigint") / 1e2, 2)
              .as("total"))
          .orderBy("o_year")
      },
      Some("""SELECT CAST(year(o_orderdate) AS INT) AS o_year,
          count(*) AS n_orders,
          round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 1e2, 2) AS total
        FROM orders
        WHERE o_orderdate BETWEEN DATE '1995-10-01' AND DATE '1995-12-31'
        GROUP BY 1 ORDER BY o_year""")),

    Q(
      "etl_connector_group_pushdown",
      "GROUPED aggregate pushdown through the connector: GROUP BY " +
        "over the store's PARTITION column crosses " +
        "SupportsPushDownAggregates with grouping expressions — the " +
        "group values come from the Hive k=v directory layout and the " +
        "count/min/max from row-group footer statistics, so a " +
        "`GROUP BY year` over a 100 TB partitioned store reads ZERO " +
        "data pages (DocStoreSpec pins the PushedGroupBy marker and " +
        "the metadata-only schema). Pushdown is partial: the scan " +
        "emits one footer-row per file and Spark merges per group, so " +
        "multi-file partitions stay exact. The oracle recomputes the " +
        "same per-year counts and key extrema from the source table.",
      (s, dir) => {
        val store = graft.Scratch.once(s"etl_docstore_sink:$dir") { p =>
          Tables.t(s, dir, "orders")
            .withColumn("o_year", year(col("o_orderdate")).cast("int"))
            .select("o_orderkey", "o_custkey", "o_totalprice", "o_year")
            .write.format("docstore").option("path", p)
            .option("partitionBy", "o_year").mode("overwrite").save()
        }
        s.read.format("docstore").option("path", store).load()
          .groupBy("o_year")
          .agg(count(lit(1)).as("n_orders"),
            min(col("o_orderkey")).as("min_key"),
            max(col("o_orderkey")).as("max_key"))
          .select(col("o_year").cast("int").as("o_year"), col("n_orders"),
            col("min_key"), col("max_key"))
          .orderBy("o_year")
      },
      Some("""SELECT CAST(year(o_orderdate) AS INT) AS o_year,
          count(*) AS n_orders, min(o_orderkey) AS min_key,
          max(o_orderkey) AS max_key
        FROM orders GROUP BY 1 ORDER BY o_year""")),

    Q(
      "etl_connector_stream_sink",
      "The docstore→docstore STREAMING pipeline: the connector's " +
        "micro-batch read (file-set offsets) drains a partitioned " +
        "store into the connector's STREAMING sink — per-epoch staged " +
        "commits with an idempotence marker, so a retried micro-batch " +
        "can never double-publish (exactly-once; DocStoreSpec pins the " +
        "re-commit no-op and the incremental second drain). The oracle " +
        "recomputes the per-year aggregates straight from the source " +
        "table, so any row dropped or duplicated across the " +
        "read-offset/write-epoch machinery is a hash mismatch. At " +
        "100 TB this is continuous ingestion between stores with " +
        "bounded batches (maxFilesPerTrigger) and atomic publication.",
      (s, dir) => {
        val dst = graft.Scratch.once(s"etl_docstore_stream_dst:$dir") { p =>
          val src = graft.Scratch.once(s"etl_docstore_sink:$dir") { q =>
            Tables.t(s, dir, "orders")
              .withColumn("o_year", year(col("o_orderdate")).cast("int"))
              .select("o_orderkey", "o_custkey", "o_totalprice", "o_year")
              .write.format("docstore").option("path", q)
              .option("partitionBy", "o_year").mode("overwrite").save()
          }
          s.readStream.format("docstore").option("path", src).load()
            .writeStream.format("docstore").option("path", p)
            .option("checkpointLocation", s"$p/_cp")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start().awaitTermination()
        }
        s.read.format("docstore").option("path", dst).load()
          .groupBy(col("o_year").cast("int").as("o_year"))
          .agg(count(lit(1)).as("n_orders"),
            round(sum(round(col("o_totalprice") * 100).cast("bigint")).cast("bigint") / 1e2, 2)
              .as("total"),
            countDistinct(col("o_custkey")).as("n_custs"))
          .orderBy("o_year")
      },
      Some("""SELECT CAST(year(o_orderdate) AS INT) AS o_year,
          count(*) AS n_orders,
          round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 1e2, 2) AS total,
          count(DISTINCT o_custkey) AS n_custs
        FROM orders GROUP BY 1 ORDER BY o_year""")),

    Q(
      "etl_connector_topn",
      "TOP-N PUSHDOWN through the connector (SupportsPushDownTopN, " +
        "partial): `ORDER BY o_orderkey DESC LIMIT 10` over a store " +
        "whose sink clustered row groups by the sort key " +
        "(sortBy + bounded rowGroupBytes — reference A12's layout " +
        "work, main.py:112-118). Footer min/max give an exact " +
        "k-covering threshold, so split planning skips every row " +
        "group that provably cannot hold a top-10 row: `ORDER BY ts " +
        "DESC LIMIT 100` over a 100 TB time-clustered store plans a " +
        "handful of tasks instead of one per row group. Always " +
        "partial — Spark keeps TakeOrderedAndProject, so the pushdown " +
        "can only shrink the scan (DocStoreSpec pins the pruned split " +
        "count and the refusal under data filters / non-integer sort " +
        "keys).",
      (s, dir) => {
        val store = graft.Scratch.once(s"etl_connector_topn:$dir") { p =>
          Tables.t(s, dir, "orders")
            .select(col("o_orderkey"), col("o_totalprice"))
            .write.format("docstore").option("path", p)
            .option("sortBy", "o_orderkey")
            .option("rowGroupBytes", "16384")
            .mode("overwrite").save()
        }
        s.read.format("docstore").option("path", store).load()
          .orderBy(col("o_orderkey").desc)
          .limit(10)
          .select(col("o_orderkey"), col("o_totalprice"))
      },
      Some("""SELECT o_orderkey, o_totalprice FROM orders
        ORDER BY o_orderkey DESC LIMIT 10""")),

    Q(
      "etl_connector_topn_multi",
      "MULTI-COLUMN TOP-N PUSHDOWN: `ORDER BY o_custkey, o_orderkey " +
        "LIMIT 12` — a lexicographic PREFIX of the sink's sortBy, the " +
        "natural query over a clustered store (ORDER BY (year, ts) on " +
        "a time-clustered feed). Per-column footer extrema bound " +
        "every row's key TUPLE ([mins…] ≤ row ≤ [maxs…] " +
        "lexicographically), giving the same exact k-covering " +
        "threshold as the single-key path; accepted only when all " +
        "keys sort one direction and every row group is null-free in " +
        "every key (footers can't order null tuples — DocStoreSpec " +
        "pins both refusals and the pruned split count). The key " +
        "tuple is unique (o_orderkey), so the oracle's top-12 is " +
        "deterministic and any over-pruned row group is a hash " +
        "mismatch.",
      (s, dir) => {
        val store = graft.Scratch.once(s"etl_connector_topn_multi:$dir") { p =>
          Tables.t(s, dir, "orders")
            .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
            .write.format("docstore").option("path", p)
            .option("sortBy", "o_custkey,o_orderkey")
            .option("rowGroupBytes", "16384")
            .mode("overwrite").save()
        }
        s.read.format("docstore").option("path", store).load()
          .orderBy(col("o_custkey"), col("o_orderkey"))
          .limit(12)
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      },
      Some("""SELECT o_custkey, o_orderkey, o_totalprice FROM orders
        ORDER BY o_custkey, o_orderkey LIMIT 12""")),

    Q(
      "etl_connector_file_lineage",
      "METADATA COLUMNS (SupportsMetadataColumns): every row exposes " +
        "its source file (`_file`) and 0-based row position within it " +
        "(`_pos`) — the lineage every CDC/debugging/audit workflow " +
        "selects, at zero I/O cost (the path is split-constant; the " +
        "position is the split's footer-derived first-row index plus " +
        "a counter). Hidden per the DSv2 contract: unreferenced, they " +
        "leave every existing plan byte-identical. The clustered sink " +
        "writes ONE file per partition, so per-partition lineage is " +
        "fully checkable against the source table: n_files ≡ 1 and " +
        "the position span ≡ the row count — any missed, repeated, or " +
        "misattributed row breaks the identity.",
      (s, dir) => {
        val store = graft.Scratch.once(s"etl_connector_lineage:$dir") { p =>
          Tables.t(s, dir, "orders")
            .select(col("o_orderkey"),
              year(col("o_orderdate")).as("o_year"))
            .write.format("docstore").option("path", p)
            .option("partitionBy", "o_year").mode("overwrite").save()
        }
        s.read.format("docstore").option("path", store).load()
          .select(col("o_year"), col("_file"), col("_pos"))
          .groupBy("o_year")
          .agg(count(lit(1)).as("n_rows"),
            countDistinct(col("_file")).as("n_files"),
            (max(col("_pos")) - min(col("_pos")) + 1).as("pos_span"))
          .orderBy("o_year")
      },
      Some("""SELECT CAST(year(o_orderdate) AS VARCHAR) AS o_year,
          count(*) AS n_rows, CAST(1 AS BIGINT) AS n_files,
          count(*) AS pos_span
        FROM orders GROUP BY 1 ORDER BY o_year""")),

    Q(
      "etl_connector_retention",
      "TTL retention ENFORCED through the connector: a catalog table " +
        "partitioned by (string-typed) order year takes `DELETE FROM … " +
        "WHERE o_year < '1995'` — an ORDERED partition predicate, so " +
        "SupportsDelete answers it metadata-only (UTF8String-binary " +
        "comparison on the directory values, exactly Spark's row " +
        "semantics) and drops whole expired partitions at O(files) " +
        "cost with zero rows read or rewritten — the production " +
        "retention sweep etl_retention_sweep only PLANS. The boundary " +
        "partition (o_year = 1995) must survive untouched and " +
        "surviving files must keep their exact paths (DocStoreSpec " +
        "pins both, plus the refusal when the year column is " +
        "INT-typed — ordered directory-text comparison is exact only " +
        "for strings). The oracle recomputes the surviving per-year " +
        "aggregates from the source table.",
      (s, dir) => {
        val cat = mutableCatalog(s)
        val ns = nsOf(dir)
        graft.Scratch.once(s"etl_connector_retention:$dir") { _ =>
          ensureNamespace(s, cat, ns)
          s.sql(s"""CREATE TABLE $cat.$ns.orders_ttl
            (o_orderkey BIGINT, o_totalprice DOUBLE, o_year STRING)
            USING docstore PARTITIONED BY (o_year)""")
          Tables.t(s, dir, "orders")
            .select(col("o_orderkey"), col("o_totalprice"),
              year(col("o_orderdate")).cast("string").as("o_year"))
            .writeTo(s"$cat.$ns.orders_ttl").append()
          s.sql(s"DELETE FROM $cat.$ns.orders_ttl WHERE o_year < '1995'")
        }
        s.table(s"$cat.$ns.orders_ttl")
          .groupBy("o_year")
          .agg(count(lit(1)).as("n_orders"),
            round(sum(round(col("o_totalprice") * 100).cast("bigint")).cast("bigint") / 1e2, 2)
              .as("total"))
          .orderBy("o_year")
      },
      Some("""SELECT CAST(year(o_orderdate) AS VARCHAR) AS o_year,
          count(*) AS n_orders,
          round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 1e2, 2) AS total
        FROM orders WHERE year(o_orderdate) >= 1995
        GROUP BY 1 ORDER BY o_year""")),

    Q(
      "etl_connector_stream_state",
      "STATEFUL streaming through the docstore pipeline: the " +
        "connector's micro-batch read feeds a WATERMARKED windowed " +
        "aggregation (per-day event counts by type, 35-day watermark) " +
        "whose append-mode output lands in the connector's streaming " +
        "sink — the reference's A4→A12 as a continuous incremental " +
        "job with STATE, not passthrough. The watermark exceeds the " +
        "corpus span, so no arrival order of source files can drop a " +
        "row as late (file-set offsets admit files in path order, not " +
        "event time); a sentinel row far past the corpus then advances " +
        "the watermark so every real window finalizes and emits " +
        "EXACTLY ONCE. The oracle recomputes the windows from the raw " +
        "events table — any state row lost, duplicated, or " +
        "double-emitted across the offset/epoch machinery is a hash " +
        "mismatch (DocStoreSpec additionally pins kill-and-restart " +
        "state recovery mid-backlog).",
      (s, dir) => {
        val base = graft.Scratch.once(s"etl_connector_stream_state:$dir") { p =>
          val src = s"$p/src"
          val dst = s"$p/dst"
          val ev = Tables.t(s, dir, "events").select(col("ts"), col("event_type"))
          // four append commits → four source files → several batches
          Seq(1 to 8, 9 to 16, 17 to 24, 25 to 31).foreach { days =>
            ev.filter(dayofmonth(col("ts")).between(days.head, days.last))
              .coalesce(1)
              .write.format("docstore").option("path", src)
              .mode("append").save()
          }
          def drain(): Unit =
            s.readStream.format("docstore").option("path", src).load()
              // event-time must be TIMESTAMP; the store surfaces NTZ
              // (sessions run UTC, so the cast is value-identical)
              .withColumn("ts", col("ts").cast("timestamp"))
              .withWatermark("ts", "35 days")
              .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
              .agg(count(lit(1)).as("n"))
              .select(col("w.start").as("day"), col("event_type"), col("n"))
              .writeStream.format("docstore").option("path", dst)
              .option("checkpointLocation", s"$p/_cp")
              .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
              .start().awaitTermination()
          drain() // builds state; nothing finalizes below the watermark
          // sentinel: advances the watermark past every real window.
          // Built under ev's EXACT schema (timestamp flavor and
          // nullability) — the store rejects schema drift across files.
          val tsVal: Any = ev.schema("ts").dataType match {
            case org.apache.spark.sql.types.TimestampNTZType =>
              java.time.LocalDateTime.of(2024, 12, 1, 0, 0)
            case _ => java.sql.Timestamp.valueOf("2024-12-01 00:00:00")
          }
          s.createDataFrame(
              java.util.Arrays.asList(org.apache.spark.sql.Row(tsVal, "sentinel")),
              ev.schema)
            .write.format("docstore").option("path", src).mode("append").save()
          drain() // every real window emits exactly once
        }
        s.read.format("docstore").option("path", s"$base/dst").load()
          .orderBy("day", "event_type")
      },
      Some("""SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
          event_type, count(*) AS n
        FROM events GROUP BY 1, 2 ORDER BY 1, 2""")),

    Q(
      "etl_connector_stream_rewrite",
      "REWRITE-SAFE continuous ingestion: the snapshot stream's " +
        "offsets are MANIFEST VERSIONS, and each commit is classified " +
        "by its manifest diff — appends stream, rewrites (compaction, " +
        "copy-on-write) are SKIPPED because their outputs republish " +
        "already-emitted rows under new file names. The scenario is " +
        "the one that used to double-ingest: drain generation 1, " +
        "COMPACT the store (every emitted row rewritten into new " +
        "files), append generation 2, drain again from the same " +
        "checkpoint. The oracle aggregates the same rows straight " +
        "from the source table, so a single row duplicated by the " +
        "rewrite commit (or lost by a recovery replan against the " +
        "live listing) is a hash mismatch. DocStoreSpec additionally " +
        "pins kill-and-recover ACROSS a compaction (recovery reads " +
        "the offset's pinned snapshot) and the onRewrite=fail and " +
        "plain-store append-only-contract postures.",
      (s, dir) => {
        val base = graft.Scratch.once(s"etl_docstore_stream_rw:$dir") { p =>
          val store = s"$p/store"
          val o = Tables.t(s, dir, "orders")
            .withColumn("o_year", year(col("o_orderdate")).cast("int"))
            .select("o_orderkey", "o_totalprice", "o_year")
          def drain(): Unit =
            s.readStream.format("docstore").option("path", store).load()
              .writeStream.format("parquet")
              .option("path", s"$p/out").option("checkpointLocation", s"$p/cp")
              .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
              .start().awaitTermination()
          // generation 1: two snapshot commits (the compactor needs ≥2
          // small files per partition bin)
          o.filter(col("o_orderkey") % 4 === 0)
            .write.format("docstore").option("path", store)
            .option("snapshots", "true").mode("append").save()
          o.filter(col("o_orderkey") % 4 === 1)
            .write.format("docstore").option("path", store).mode("append").save()
          drain()
          // the rewrite commit: every emitted row under new file names
          graft.sources.DocStoreMaintenance.compact(
            s, store, smallerThan = Long.MaxValue): Unit
          // generation 2 appends; the drain tails ACROSS the rewrite
          o.filter(col("o_orderkey") % 4 >= 2)
            .write.format("docstore").option("path", store).mode("append").save()
          drain()
        }
        s.read.parquet(s"$base/out")
          .groupBy("o_year")
          .agg(count(lit(1)).as("n_orders"),
            round(sum(round(col("o_totalprice") * 100).cast("bigint")).cast("bigint") / 1e2, 2)
              .as("total"))
          .orderBy("o_year")
      },
      Some("""SELECT CAST(year(o_orderdate) AS INT) AS o_year,
          count(*) AS n_orders,
          round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 1e2, 2) AS total
        FROM orders GROUP BY 1 ORDER BY o_year""")),

    Q(
      "etl_connector_schema_evolution",
      "SCHEMA EVOLUTION through snapshot manifests — the reference's " +
        "inferred-then-frozen wart (main.py:211-218, SURVEY §1.2) " +
        "resolved the way table formats resolve it: generation 1 " +
        "lands orders WITHOUT o_orderpriority, generation 2 adds the " +
        "column via a mergeSchema write (validated SAFE at plan " +
        "time: add-nullable-column / widen-int-to-bigint only; " +
        "anything else fails before staging a byte). The read " +
        "reconciles per-file schemas against the store schema — old " +
        "files surface the added column as NULL, exactly DuckDB's " +
        "union_by_name=true semantics, which the oracle mirrors with " +
        "a CASE on the generation predicate. A wrong null-fill, a " +
        "dropped generation, or a misprojected column is a hash " +
        "mismatch.",
      (s, dir) => {
        val store = graft.Scratch.once(s"etl_docstore_evolve:$dir") { p =>
          val o = Tables.t(s, dir, "orders")
          o.filter(year(col("o_orderdate")) < 1995)
            .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate"))
            .write.format("docstore").option("path", p)
            .option("snapshots", "true").mode("append").save()
          o.filter(year(col("o_orderdate")) >= 1995)
            .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate"),
              col("o_orderpriority"))
            .write.format("docstore").option("path", p)
            .option("mergeSchema", "true").mode("append").save()
        }
        s.read.format("docstore").option("path", store).load()
          .groupBy(year(col("o_orderdate")).cast("int").as("o_year"),
            coalesce(col("o_orderpriority"), lit("<pre-evolution>")).as("prio"))
          .agg(count(lit(1)).as("n_orders"),
            round(sum(round(col("o_totalprice") * 100).cast("bigint")).cast("bigint") / 1e2, 2)
              .as("total"))
          .orderBy("o_year", "prio")
      },
      Some("""SELECT CAST(year(o_orderdate) AS INT) AS o_year,
          CASE WHEN year(o_orderdate) >= 1995 THEN o_orderpriority
               ELSE '<pre-evolution>' END AS prio,
          count(*) AS n_orders,
          round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 1e2, 2) AS total
        FROM orders GROUP BY 1, 2 ORDER BY 1, 2""")),

    Q(
      "etl_connector_compact",
      "Small-file COMPACTION as an atomic snapshot commit: four drip " +
        "appends (the streaming-ingest pattern) leave four files per " +
        "year partition; DocStoreMaintenance.compact bin-packs each " +
        "partition's files through ONE clustered docstore write (one " +
        "output file per partition by the sink's required " +
        "distribution) and commits publish+retire as a SINGLE manifest " +
        "swap — readers see the old file set or the new one, never a " +
        "mix, and the pre-compaction version stays time-travelable " +
        "until vacuum. The read-back checks both the data (per-year " +
        "counts and exact-cents revenue must survive the rewrite " +
        "byte-for-byte) and the layout: countDistinct(_file) ≡ 1 per " +
        "partition proves the bin-pack actually happened. At 100 TB " +
        "this is the maintenance job that keeps a streaming-fed store " +
        "scannable — thousands of row-group-sized files per partition " +
        "otherwise pay per-file open/footer cost on every query.",
      (s, dir) => {
        val store = graft.Scratch.once(s"etl_connector_compact:$dir") { p =>
          val orders = Tables.t(s, dir, "orders")
            .select(col("o_orderkey"), col("o_totalprice"),
              year(col("o_orderdate")).cast("string").as("o_year"))
          (0 until 4).foreach { i =>
            orders.filter(pmod(col("o_orderkey"), lit(4)) === i)
              .write.format("docstore").option("path", p)
              .option("partitionBy", "o_year")
              .option("snapshots", "true")
              .mode("append").save()
          }
          graft.sources.DocStoreMaintenance.compact(s, p,
            smallerThan = Long.MaxValue, sortBy = Seq("o_orderkey")): Unit
        }
        s.read.format("docstore").option("path", store).load()
          .groupBy("o_year")
          .agg(count(lit(1)).as("n_orders"),
            round(sum(round(col("o_totalprice") * 100).cast("bigint")).cast("bigint") / 1e2, 2)
              .as("total"),
            countDistinct(col("_file")).as("n_files"))
          .orderBy("o_year")
      },
      Some("""SELECT CAST(year(o_orderdate) AS VARCHAR) AS o_year,
          count(*) AS n_orders,
          round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 1e2, 2) AS total,
          CAST(1 AS BIGINT) AS n_files
        FROM orders GROUP BY 1 ORDER BY o_year""")),

    Q(
      "etl_connector_bloom_lookup",
      "Parquet BLOOM FILTERS through the sink (`bloomFor`): point " +
        "lookups on an UNSORTED high-cardinality key are the case " +
        "zone maps cannot serve — with the store sorted by price, " +
        "every row group's o_orderkey min/max straddles any probe, so " +
        "`WHERE o_orderkey = x` over a 100 TB store reads every data " +
        "page. A per-row-group bloom bitset turns that into a footer " +
        "check: parquet-mr's own RowGroupFilter consults it on the " +
        "connector's existing FilterCompat read path (DocStoreSpec " +
        "proves the skip A/B with every other pruning tier disabled). " +
        "Each filter is sized to its row group's keys (~10 bits per " +
        "key at 1 % fpp, capped at 1 MiB), so the 16 KB row groups " +
        "here (~1k keys each) carry 2 KiB filters, not 1 MiB each. " +
        "The write records o_orderkey in the store's `_bloom` file, " +
        "so later appends, MERGEs, upserts and compactions keep the " +
        "filter without naming it again. " +
        "The lookup itself is oracle-exact.",
      (s, dir) => {
        val store = graft.Scratch.once(s"etl_connector_bloom:$dir") { p =>
          Tables.t(s, dir, "orders")
            .select(col("o_orderkey"), col("o_totalprice"))
            .write.format("docstore").option("path", p)
            .option("sortBy", "o_totalprice") // decorrelate the key
            .option("rowGroupBytes", "16384")
            .option("bloomFor", "o_orderkey")
            .mode("overwrite").save()
        }
        s.read.format("docstore").option("path", store).load()
          .filter(col("o_orderkey").isin(7L, 4711L, 29986L))
          .select(col("o_orderkey"), col("o_totalprice"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_totalprice FROM orders
        WHERE o_orderkey IN (7, 4711, 29986) ORDER BY o_orderkey""")),

    Q(
      "etl_connector_time_travel",
      "TIME TRAVEL over snapshot manifests: a store written with " +
        "`snapshots=true` records every commit as an immutable " +
        "manifest version (`_snapshots/v<N>`, claimed by exclusive " +
        "create — the optimistic-concurrency scheme of every " +
        "production table format), so `versionAsOf` reads ANY retained " +
        "version at zero copy cost: the manifest IS the listing. Here " +
        "v1 holds the pre-1995 orders, v2 appends the rest; the query " +
        "reads BOTH versions of the same store and the oracle " +
        "recomputes each from the raw table — a wrong file set at " +
        "either version is a hash mismatch. This is the audit/" +
        "reproducibility primitive a 100 TB training pipeline needs: " +
        "re-run last week's job against last week's table, exactly.",
      (s, dir) => {
        val store = graft.Scratch.once(s"etl_connector_time_travel:$dir") { p =>
          val orders = Tables.t(s, dir, "orders")
            .select(col("o_orderkey"), col("o_totalprice"),
              year(col("o_orderdate")).as("o_year"))
          orders.filter(col("o_year") < 1995)
            .write.format("docstore").option("path", p)
            .option("snapshots", "true").mode("append").save() // v1
          orders.filter(col("o_year") >= 1995)
            .write.format("docstore").option("path", p)
            .mode("append").save() // v2
        }
        def snapAgg(df: org.apache.spark.sql.DataFrame, label: String) =
          df.agg(count(lit(1)).as("n_orders"),
            round(sum(round(col("o_totalprice") * 100).cast("bigint")).cast("bigint") / 1e2, 2)
              .as("total"))
            .withColumn("snap", lit(label))
        snapAgg(s.read.format("docstore").option("path", store)
            .option("versionAsOf", "1").load(), "v1")
          .unionByName(snapAgg(
            s.read.format("docstore").option("path", store).load(), "current"))
          .orderBy("snap")
      },
      Some("""SELECT * FROM (
          SELECT 'v1' AS snap, count(*) AS n_orders,
            round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 1e2, 2) AS total
          FROM orders WHERE year(o_orderdate) < 1995
          UNION ALL
          SELECT 'current' AS snap, count(*) AS n_orders,
            round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 1e2, 2) AS total
          FROM orders
        ) ORDER BY snap""")),

    Q(
      "etl_catalog_sql",
      "SQL-catalog resolution (the reference's two-level db→collection " +
        "namespace, main.py:251,277-281, as a Spark V2 TableCatalog): " +
        "the fixture store resolves BY NAME — `graftfix.<sf>.orders` — " +
        "through graft.sources.DocStoreCatalog, planning the same " +
        "DocStoreScan a path read plans (DocStoreCatalogSpec pins V2 " +
        "relation resolution, listings, DDL round-trips). Pure SQL " +
        "text end to end: per-priority order counts and exact-cents " +
        "revenue. In production the catalog entry points at the real " +
        "document store; every query written against the name keeps " +
        "working unchanged.",
      (s, dir) => {
        val parent = new java.io.File(dir).getParent
        val ns = new java.io.File(dir).getName
        val cat = ensureCatalog(s, "graftfix", parent)
        s.sql(s"""SELECT o_orderpriority AS priority, count(*) AS n,
            round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 1e2, 2) AS total
          FROM $cat.`$ns`.orders
          WHERE o_orderstatus = 'F'
          GROUP BY 1 ORDER BY 1""")
      },
      Some("""SELECT o_orderpriority AS priority, count(*) AS n,
          round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 1e2, 2) AS total
        FROM orders WHERE o_orderstatus = 'F'
        GROUP BY 1 ORDER BY 1""")),

    Q(
      "etl_catalog_evolution",
      "SQL-NATIVE SCHEMA EVOLUTION (the DDL face of " +
        "etl_connector_schema_evolution): a catalog table is created " +
        "narrow (o_orderkey INT), loads generation 1, then `ALTER " +
        "TABLE … ADD COLUMNS (o_orderpriority STRING)` and `ALTER " +
        "COLUMN o_orderkey TYPE BIGINT` evolve it — the change lands " +
        "in the table marker, existing INT32 pages widen at the " +
        "reader, the added column reads null from generation-1 files " +
        "— and generation 2 writes the evolved schema. Unsafe changes " +
        "(non-widening type change, DROP COLUMN, populated-plain-" +
        "store ALTER) refuse with clear errors " +
        "(DocStoreCatalogSpec). The oracle recomputes from the source " +
        "table with the generation predicate as a CASE; the summed " +
        "keys prove the widen (a misread INT32 page corrupts the " +
        "sum), the null-bucket counts prove the fill.",
      (s, dir) => {
        val cat = mutableCatalog(s)
        val ns = nsOf(dir)
        graft.Scratch.once(s"etl_catalog_evolution:$dir") { _ =>
          ensureNamespace(s, cat, ns)
          s.sql(s"""CREATE TABLE $cat.$ns.orders_evo
            (o_orderkey INT, o_totalprice DOUBLE) USING docstore""")
          val o = Tables.t(s, dir, "orders")
            .withColumn("o_year", year(col("o_orderdate")))
          // generation 1, narrow schema, snapshot mode (ALTER on a
          // populated plain store refuses by design)
          o.filter(col("o_year") < 1995)
            .select(col("o_orderkey").cast("int"), col("o_totalprice"))
            .writeTo(s"$cat.$ns.orders_evo")
            .option("snapshots", "true").append()
          s.sql(s"ALTER TABLE $cat.$ns.orders_evo ADD COLUMNS (o_orderpriority STRING)")
          s.sql(s"ALTER TABLE $cat.$ns.orders_evo ALTER COLUMN o_orderkey TYPE BIGINT")
          // generation 2 writes the evolved (bigint, wide) schema
          o.filter(col("o_year") >= 1995)
            .select(col("o_orderkey").cast("bigint"), col("o_totalprice"),
              col("o_orderpriority"))
            .writeTo(s"$cat.$ns.orders_evo").append()
        }
        s.sql(s"""SELECT coalesce(o_orderpriority, '<gen1>') AS prio,
            count(*) AS n_orders,
            sum(o_orderkey) AS key_sum,
            round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 1e2, 2) AS total
          FROM $cat.$ns.orders_evo GROUP BY 1 ORDER BY 1""")
      },
      Some("""SELECT CASE WHEN year(o_orderdate) >= 1995
              THEN o_orderpriority ELSE '<gen1>' END AS prio,
          count(*) AS n_orders,
          CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
          round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 1e2, 2) AS total
        FROM orders GROUP BY 1 ORDER BY 1""")),

    Q(
      "etl_connector_cdf",
      "CHANGE DATA FEED over snapshot manifests: each commit's " +
        "manifest diff says WHICH files changed and its `#op` header " +
        "says WHY — appends emit their rows as `insert`, " +
        "metadata-only DELETEs emit the retired (still-retained) " +
        "rows as `delete`, and COMPACTION EMITS NOTHING (bytes moved, " +
        "no row changed — Delta's dataChange=false distinction, which " +
        "is what keeps an incremental consumer from reprocessing the " +
        "table every time maintenance runs). The scenario commits " +
        "two append generations, a partition DELETE of 1995, and a " +
        "compaction; DocStoreChanges.changes(0, current) then feeds " +
        "the whole history through one aggregation. The oracle " +
        "recomputes inserts (= all rows) and deletes (= the 1995 " +
        "rows) from the source table — a compaction leaking into the " +
        "feed, a lost delete, or a misattached partition value is a " +
        "hash mismatch. This is the incremental-ETL driver pattern " +
        "that replaces the reference's full re-extract on a date " +
        "window (main.py:288-299).",
      (s, dir) => {
        val cat = mutableCatalog(s)
        val ns = nsOf(dir)
        val store = graft.Scratch.once(s"etl_connector_cdf:$dir") { _ =>
          ensureNamespace(s, cat, ns)
          s.sql(s"""CREATE TABLE $cat.$ns.orders_cdf
            (o_orderkey BIGINT, o_totalprice DOUBLE, o_year INT)
            USING docstore PARTITIONED BY (o_year)""")
          val o = Tables.t(s, dir, "orders")
            .select(col("o_orderkey"), col("o_totalprice"),
              year(col("o_orderdate")).as("o_year"))
          o.filter(col("o_orderkey") % 2 === 0)
            .writeTo(s"$cat.$ns.orders_cdf")
            .option("snapshots", "true").append() // v1
          o.filter(col("o_orderkey") % 2 =!= 0)
            .writeTo(s"$cat.$ns.orders_cdf").append() // v2
          s.sql(s"DELETE FROM $cat.$ns.orders_cdf WHERE o_year = 1995") // v3
          graft.sources.DocStoreMaintenance.compact(s, pathOfTable(s, cat, ns, "orders_cdf"),
            smallerThan = Long.MaxValue): Unit // v4, invisible to the feed
        }
        val path = pathOfTable(s, cat, ns, "orders_cdf")
        graft.sources.DocStoreChanges.changes(s, path, 0L,
          graft.sources.DocStore.currentSnapshot(path).map(_._1).getOrElse(0L))
          .groupBy(col("_change_type").as("change_type"),
            col("o_year").cast("int").as("o_year"))
          .agg(count(lit(1)).as("n"),
            round(sum(round(col("o_totalprice") * 100).cast("bigint")).cast("bigint") / 1e2, 2)
              .as("total"))
          .orderBy("change_type", "o_year")
      },
      Some("""WITH y AS (SELECT CAST(year(o_orderdate) AS INT) AS o_year,
            o_totalprice FROM orders)
        SELECT * FROM (
          SELECT 'insert' AS change_type, o_year, count(*) AS n,
            round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 1e2, 2) AS total
          FROM y GROUP BY 2
          UNION ALL
          SELECT 'delete' AS change_type, o_year, count(*) AS n,
            round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 1e2, 2) AS total
          FROM y WHERE o_year = 1995 GROUP BY 2
        ) ORDER BY change_type, o_year""")),

    Q(
      "etl_connector_history",
      "COMMIT HISTORY as a queryable DataFrame (the `DESCRIBE " +
        "HISTORY` every table format ships), derived from what the " +
        "manifests already record — version, `#op` classification, " +
        "and the manifest-diff file counts; commit timestamps ride " +
        "along but are excluded here (wall-clock is not " +
        "oracle-replayable). Reuses etl_connector_cdf's store, so the " +
        "expected history IS that scenario's commit sequence: two " +
        "appends, a partition DELETE that retires files without " +
        "adding any, and a compaction that both adds and retires — " +
        "the oracle pins the sequence as literals. At 100 TB this is " +
        "the audit query that answers 'what changed, when, by what " +
        "kind of operation' without reading a data byte.",
      (s, dir) => {
        val cat = mutableCatalog(s)
        val ns = nsOf(dir)
        // same Scratch key as etl_connector_cdf: build once, audit here
        graft.Scratch.once(s"etl_connector_cdf:$dir") { _ =>
          ensureNamespace(s, cat, ns)
          s.sql(s"""CREATE TABLE $cat.$ns.orders_cdf
            (o_orderkey BIGINT, o_totalprice DOUBLE, o_year INT)
            USING docstore PARTITIONED BY (o_year)""")
          val o = Tables.t(s, dir, "orders")
            .select(col("o_orderkey"), col("o_totalprice"),
              year(col("o_orderdate")).as("o_year"))
          o.filter(col("o_orderkey") % 2 === 0)
            .writeTo(s"$cat.$ns.orders_cdf")
            .option("snapshots", "true").append() // v1
          o.filter(col("o_orderkey") % 2 =!= 0)
            .writeTo(s"$cat.$ns.orders_cdf").append() // v2
          s.sql(s"DELETE FROM $cat.$ns.orders_cdf WHERE o_year = 1995") // v3
          graft.sources.DocStoreMaintenance.compact(s, pathOfTable(s, cat, ns, "orders_cdf"),
            smallerThan = Long.MaxValue): Unit // v4
        }
        graft.sources.DocStoreMaintenance
          .history(s, pathOfTable(s, cat, ns, "orders_cdf"))
          .select(col("version"), col("op"),
            (col("n_added") > 0).as("added"),
            (col("n_retired") > 0).as("retired"))
          .orderBy("version")
      },
      Some("""SELECT * FROM (VALUES
          (CAST(1 AS BIGINT), 'append',  true,  false),
          (CAST(2 AS BIGINT), 'append',  true,  false),
          (CAST(3 AS BIGINT), 'delete',  false, true),
          (CAST(4 AS BIGINT), 'compact', true,  true))
        AS t(version, op, added, retired) ORDER BY version""")),

    Q(
      "etl_connector_stream_cdf",
      "STREAMING change feed: `readStream … changeFeed=true` tails " +
        "classified changes continuously — the incremental consumer " +
        "that keeps a downstream table in sync without re-extracts. " +
        "The scenario interleaves the stream with every commit kind: " +
        "drain after generation 1, then a partition DELETE of 1995 " +
        "(emits gen-1's 1995 rows as deletes), generation 2 (which " +
        "re-adds 1995 rows — inserted AFTER the delete, so they stay), " +
        "and a compaction (emits NOTHING), then drain again from the " +
        "same checkpoint. The oracle derives the exact expected change " +
        "set from the source table: inserts = both generations, " +
        "deletes = generation 1's 1995 slice only. A compaction row " +
        "leaking into the feed, a delete lost across the checkpoint, " +
        "or a version misattribution is a hash mismatch.",
      (s, dir) => {
        val cat = mutableCatalog(s)
        val ns = nsOf(dir)
        val base = graft.Scratch.once(s"etl_connector_stream_cdf:$dir") { p =>
          ensureNamespace(s, cat, ns)
          s.sql(s"""CREATE TABLE $cat.$ns.orders_scdf
            (o_orderkey BIGINT, o_totalprice DOUBLE, o_year INT)
            USING docstore PARTITIONED BY (o_year)""")
          val store = pathOfTable(s, cat, ns, "orders_scdf")
          val o = Tables.t(s, dir, "orders")
            .select(col("o_orderkey"), col("o_totalprice"),
              year(col("o_orderdate")).as("o_year"))
          def drain(): Unit =
            s.readStream.format("docstore").option("path", store)
              .option("changeFeed", "true").load()
              .writeStream.format("parquet")
              .option("path", s"$p/out").option("checkpointLocation", s"$p/cp")
              .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
              .start().awaitTermination()
          o.filter(col("o_orderkey") % 2 === 0)
            .writeTo(s"$cat.$ns.orders_scdf")
            .option("snapshots", "true").append() // v1
          drain()
          s.sql(s"DELETE FROM $cat.$ns.orders_scdf WHERE o_year = 1995") // v2
          o.filter(col("o_orderkey") % 2 =!= 0)
            .writeTo(s"$cat.$ns.orders_scdf").append() // v3
          graft.sources.DocStoreMaintenance.compact(s, store,
            smallerThan = Long.MaxValue): Unit // v4: silent to the feed
          drain()
        }
        s.read.parquet(s"$base/out")
          .groupBy(col("_change_type").as("change_type"),
            col("o_year").cast("int").as("o_year"))
          .agg(count(lit(1)).as("n"),
            round(sum(round(col("o_totalprice") * 100).cast("bigint")).cast("bigint") / 1e2, 2)
              .as("total"))
          .orderBy("change_type", "o_year")
      },
      Some("""WITH y AS (SELECT o_orderkey,
            CAST(year(o_orderdate) AS INT) AS o_year, o_totalprice
          FROM orders)
        SELECT * FROM (
          SELECT 'insert' AS change_type, o_year, count(*) AS n,
            round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 1e2, 2) AS total
          FROM y GROUP BY 2
          UNION ALL
          SELECT 'delete' AS change_type, o_year, count(*) AS n,
            round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 1e2, 2) AS total
          FROM y WHERE o_year = 1995 AND o_orderkey % 2 = 0 GROUP BY 2
        ) ORDER BY change_type, o_year""")),

    Q(
      "etl_connector_stream_upsert",
      "STREAMING UPSERT sink — the CDC loop closed natively: " +
        "`writeStream.format(\"docstore\").option(\"mode\",\"upsert\")" +
        ".option(\"keys\",\"o_orderkey\")` applies a source store's " +
        "change feed to a TARGET store as per-epoch merge-on-read " +
        "commits (Delta's `foreachBatch MERGE` shape, without the " +
        "foreachBatch). The scenario runs inserts, a merge-on-read " +
        "UPDATE (delete+insert at one version), and a MoR DELETE on " +
        "the source, tailing the feed into the target across TWO " +
        "drains of one checkpoint — restart-safe incremental " +
        "convergence. Deletes land as executor-written DV fragments " +
        "(no position crosses the driver), inserts as new files, one " +
        "rowdelta snapshot per epoch. The oracle recomputes the " +
        "source's final state from the orders table; any lost delete, " +
        "double-applied epoch, or stale row in the target is a hash " +
        "mismatch.",
      (s, dir) => {
        val cat = mutableCatalog(s)
        val ns = nsOf(dir)
        val base = graft.Scratch.once(s"etl_connector_stream_upsert:$dir") { p =>
          ensureNamespace(s, cat, ns)
          s.sql(s"""CREATE TABLE $cat.$ns.orders_ups
            (o_orderkey BIGINT, o_totalprice DOUBLE, o_year INT)
            USING docstore TBLPROPERTIES ('rowlevel'='mor')""")
          val src = pathOfTable(s, cat, ns, "orders_ups")
          val target = s"$p/target"
          val o = Tables.t(s, dir, "orders")
            .select(col("o_orderkey"), col("o_totalprice"),
              year(col("o_orderdate")).as("o_year"))
          def drain(): Unit =
            s.readStream.format("docstore").option("path", src)
              .option("changeFeed", "true").option("startingVersion", "1").load()
              .writeStream.format("docstore").option("path", target)
              .option("mode", "upsert").option("keys", "o_orderkey")
              .option("checkpointLocation", s"$p/cp")
              .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
              .start().awaitTermination()
          o.filter(col("o_orderkey") % 2 === 0)
            .writeTo(s"$cat.$ns.orders_ups")
            .option("snapshots", "true").append() // v1: inserts
          s.sql(s"""UPDATE $cat.$ns.orders_ups
            SET o_totalprice = o_totalprice + 1
            WHERE o_orderkey % 10 = 0""") // v2: MoR delete+insert
          drain()
          s.sql(s"DELETE FROM $cat.$ns.orders_ups WHERE o_orderkey % 14 = 0") // v3
          drain() // same checkpoint: only v3's deletes apply
        }
        s.read.format("docstore").option("path", s"$base/target").load()
          .groupBy(col("o_year").cast("int").as("o_year"))
          .agg(count(lit(1)).as("n"),
            round(sum(round(col("o_totalprice") * 100).cast("bigint")).cast("bigint") / 1e2, 2)
              .as("total"))
          .orderBy("o_year")
      },
      Some("""WITH final AS (
          SELECT CAST(year(o_orderdate) AS INT) AS o_year,
            CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 1
                 ELSE o_totalprice END AS p
          FROM orders
          WHERE o_orderkey % 2 = 0 AND o_orderkey % 14 <> 0)
        SELECT o_year, count(*) AS n,
          round(CAST(sum(CAST(round(p * 100) AS BIGINT)) AS BIGINT) / 1e2, 2) AS total
        FROM final GROUP BY 1 ORDER BY 1""")),

    Q(
      "etl_connector_stream_filtered",
      "STREAMING FILTER PUSHDOWN via the `filters` read option: " +
        "Spark's V2 pushdown rule runs for batch relations only, so a " +
        "streaming scan normally plans with an empty filter set and " +
        "reads every admitted file; `option(\"filters\", \"o_orderkey " +
        ">= N\")` is the explicit channel (Kafka's source-option " +
        "posture) — manifest-stat file skipping at admission (pruned " +
        "files never enter an offset, consume no trigger budget, and " +
        "no batch plans them — footer-log-proven in " +
        "ManifestStatsSpec) plus exact record-level evaluation on " +
        "boundary files. The scenario writes three commits with " +
        "disjoint o_orderkey ranges and tails the store with a " +
        "threshold filter; the oracle recomputes the matching rows " +
        "from orders.",
      (s, dir) => {
        val base = graft.Scratch.once(s"etl_connector_stream_filtered:$dir") { p =>
          val store = s"$p/store"
          val o = Tables.t(s, dir, "orders")
            .select(col("o_orderkey"), col("o_totalprice"),
              year(col("o_orderdate")).as("o_year"))
          // scale-invariant tercile thresholds (keys are dense 0..N-1
          // in the fixtures; a fixed cut would go empty at small SFs)
          val t = (o.agg(max(col("o_orderkey"))).head.getLong(0) + 1) / 3
          // three commits with DISJOINT key ranges → per-file stats
          // make two of them provably unmatchable for the filter
          Seq(
            col("o_orderkey") < t,
            col("o_orderkey") >= t && col("o_orderkey") < 2 * t,
            col("o_orderkey") >= 2 * t
          ).foreach { slice =>
            o.filter(slice).coalesce(1)
              .write.format("docstore").option("path", store)
              .option("snapshots", "true").mode("append").save()
          }
          s.readStream.format("docstore").option("path", store)
            .option("filters", s"o_orderkey >= ${2 * t}").load()
            .writeStream.format("parquet").option("path", s"$p/out")
            .option("checkpointLocation", s"$p/cp")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start().awaitTermination()
        }
        s.read.parquet(s"$base/out")
          .groupBy(col("o_year").cast("int").as("o_year"))
          .agg(count(lit(1)).as("n"),
            round(sum(round(col("o_totalprice") * 100).cast("bigint")).cast("bigint") / 1e2, 2)
              .as("total"))
          .orderBy("o_year")
      },
      Some("""SELECT CAST(year(o_orderdate) AS INT) AS o_year, count(*) AS n,
          round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 1e2, 2) AS total
        FROM orders
        WHERE o_orderkey >= 2 * ((SELECT (max(o_orderkey) + 1) // 3 FROM orders))
        GROUP BY 1 ORDER BY 1""")),

    Q(
      "etl_connector_branch_wap",
      "WRITE-AUDIT-PUBLISH via branch refs: `CALL docstore.system." +
        "create_branch` pins the published view (`main`), a load lands " +
        "on the branch (`option(\"branch\",\"audit\")` — committed to " +
        "the global chain, invisible to default readers), the audit " +
        "gate reads the branch, and `fast_forward` publishes " +
        "atomically (a ref CAS — refused across lineage divergence). " +
        "The Iceberg WAP / Delta branch pattern: at 100 TB a bad load " +
        "is a ref that never fast-forwards, not a rollback. The query " +
        "emits the main-view aggregate BEFORE publish (evens only), " +
        "the audited branch view (all rows), and the main view AFTER " +
        "publish — each recomputed exactly by the oracle; a branch " +
        "row leaking into pre-publish main or a lost row at publish " +
        "is a hash mismatch.",
      (s, dir) => {
        val cat = mutableCatalog(s)
        val ns = nsOf(dir)
        val base = graft.Scratch.once(s"etl_connector_branch_wap:$dir") { p =>
          ensureNamespace(s, cat, ns)
          s.sql(s"""CREATE TABLE $cat.$ns.orders_wap
            (o_orderkey BIGINT, o_totalprice DOUBLE) USING docstore""")
          val store = pathOfTable(s, cat, ns, "orders_wap")
          val o = Tables.t(s, dir, "orders")
            .select(col("o_orderkey"), col("o_totalprice"))
          o.filter(col("o_orderkey") % 2 === 0)
            .writeTo(s"$cat.$ns.orders_wap")
            .option("snapshots", "true").append() // v1: the published base
          s.sql(s"CALL $cat.system.create_branch(table => '$ns.orders_wap', " +
            "branch => 'audit')")
          o.filter(col("o_orderkey") % 2 =!= 0)
            .write.format("docstore").option("path", store)
            .option("branch", "audit").mode("append").save()
          def agg(df: org.apache.spark.sql.DataFrame, phase: String) =
            df.agg(count(lit(1)).as("n"),
              round(sum(round(col("o_totalprice") * 100).cast("bigint")).cast("bigint") / 1e2, 2)
                .as("total"))
              .select(lit(phase).as("phase"), col("n"), col("total"))
          // audit gate: pre-publish main view + branch view, captured
          // BEFORE the fast-forward moves main
          agg(s.table(s"$cat.$ns.orders_wap"), "main_before")
            .unionByName(agg(s.read.format("docstore").option("path", store)
              .option("branch", "audit").load(), "audit"))
            .write.mode("overwrite").parquet(s"$p/phases")
          s.sql(s"CALL $cat.system.fast_forward(table => '$ns.orders_wap', " +
            "branch => 'audit')")
        }
        val store = pathOfTable(s, mutableCatalog(s), nsOf(dir), "orders_wap")
        val after = s.read.format("docstore").option("path", store).load()
          .agg(count(lit(1)).as("n"),
            round(sum(round(col("o_totalprice") * 100).cast("bigint")).cast("bigint") / 1e2, 2)
              .as("total"))
          .select(lit("main_after").as("phase"), col("n"), col("total"))
        s.read.parquet(s"$base/phases").unionByName(after)
          .orderBy("phase")
      },
      Some("""WITH m AS (SELECT o_orderkey, o_totalprice FROM orders),
          agg AS (
            SELECT 'main_before' AS phase, count(*) AS n,
              round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 1e2, 2) AS total
            FROM m WHERE o_orderkey % 2 = 0
            UNION ALL
            SELECT 'audit', count(*),
              round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 1e2, 2)
            FROM m
            UNION ALL
            SELECT 'main_after', count(*),
              round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 1e2, 2)
            FROM m)
        SELECT phase, n, total FROM agg ORDER BY phase""")),

    Q(
      "etl_connector_meta_tables",
      "METADATA TABLES + snapshot TAGS: the table format's state read " +
        "AS TABLES — `SELECT … FROM docstore.db.t.{files,partitions," +
        "history,refs}`, the Iceberg metadata-table idiom. A MoR table " +
        "partitioned by order year takes one clustered load, a " +
        "row-level DELETE (deletion vector on exactly the 1995 file), " +
        "a `CALL create_tag` (immutable audit anchor vacuum must " +
        "honor) and a branch. The query then audits the format FROM " +
        "ITS OWN METADATA: per-partition live/deleted rowcounts, the " +
        "file+DV census, the commit log's op sequence, and the ref " +
        "listing — every row recomputed independently by the oracle " +
        "from the source table, so a wrong stat line, a lost DV " +
        "binding, or a mispointed ref is a hash mismatch, not a " +
        "dashboard curiosity. Rows/bytes/DV cardinalities answer from " +
        "manifest `#stat` lines and 12-byte DV headers (zero parquet " +
        "footers — spec-proven), and materialization distributes over " +
        "chunked input partitions: at a million files this audit is " +
        "an ordinary aggregation, not a driver collapse.",
      (s, dir) => {
        val cat = mutableCatalog(s)
        val ns = nsOf(dir)
        graft.Scratch.once(s"etl_connector_meta_tables:$dir") { _ =>
          ensureNamespace(s, cat, ns)
          s.sql(s"""CREATE TABLE $cat.$ns.orders_meta
            (o_orderkey BIGINT, o_totalprice DOUBLE, o_year INT)
            USING docstore PARTITIONED BY (o_year)
            TBLPROPERTIES ('rowlevel' = 'mor')""")
          Tables.t(s, dir, "orders")
            .select(col("o_orderkey"), col("o_totalprice"),
              year(col("o_orderdate")).as("o_year"))
            .coalesce(1)
            .writeTo(s"$cat.$ns.orders_meta").append() // v2: one file/partition
          s.sql(s"DELETE FROM $cat.$ns.orders_meta " +
            "WHERE o_orderkey % 10 = 0 AND o_year = 1995") // v3: DV, 1995 only
          s.sql(s"CALL $cat.system.create_tag(table => '$ns.orders_meta', " +
            "tag => 'audit')")
          s.sql(s"CALL $cat.system.create_branch(table => '$ns.orders_meta', " +
            "branch => 'wip')")
        }
        val t = s"$cat.$ns.orders_meta"
        s.sql(s"SELECT concat('part:', partition) AS item, rows AS a, dv_rows AS b FROM $t.partitions")
          .unionByName(s.sql(
            s"""SELECT 'files' AS item, count(*) AS a,
                 sum(CASE WHEN dv_file IS NOT NULL THEN 1L ELSE 0L END) AS b
               FROM $t.files"""))
          .unionByName(s.sql(
            s"SELECT concat('hist:v', version, ':', op) AS item, n_files AS a, n_dvs AS b FROM $t.history"))
          .unionByName(s.sql(
            s"SELECT concat('ref:', type, ':', name) AS item, version AS a, 0L AS b FROM $t.refs"))
          .orderBy("item")
      },
      Some("""WITH y AS (SELECT CAST(year(o_orderdate) AS INT) AS yr, o_orderkey FROM orders),
          ny AS (SELECT count(DISTINCT yr) AS n FROM y)
        SELECT item, a, b FROM (
          SELECT 'part:o_year=' || yr AS item, count(*) AS a,
            CAST(sum(CASE WHEN yr = 1995 AND o_orderkey % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b
          FROM y GROUP BY yr
          UNION ALL SELECT 'files', (SELECT n FROM ny), 1
          UNION ALL SELECT 'hist:v1:append', 0, 0
          UNION ALL SELECT 'hist:v2:append', (SELECT n FROM ny), 0
          UNION ALL SELECT 'hist:v3:rowdelta', (SELECT n FROM ny), 1
          UNION ALL SELECT 'ref:branch:main', 3, 0
          UNION ALL SELECT 'ref:branch:wip', 3, 0
          UNION ALL SELECT 'ref:tag:audit', 3, 0
        ) ORDER BY item""")),

    Q(
      "etl_connector_delete",
      "DELETE pushed to the connector as a METADATA-ONLY operation: a " +
        "catalog table Hive-partitioned by order year takes `DELETE " +
        "FROM … WHERE o_year = 1995` — every conjunct is an exactly-" +
        "evaluable partition predicate, so SupportsDelete drops the " +
        "matching files (and reclaims their directories) without " +
        "reading or rewriting a single row; at 100 TB that's a " +
        "retention sweep at O(files-matched) metadata cost. Non-" +
        "partition predicates instead take the copy-on-write rewrite " +
        "(etl_connector_merge, DocStoreCatalogSpec). The oracle " +
        "recomputes the surviving per-year aggregates from the source " +
        "table.",
      (s, dir) => {
        val cat = mutableCatalog(s)
        val ns = nsOf(dir)
        graft.Scratch.once(s"etl_connector_delete:$dir") { _ =>
          ensureNamespace(s, cat, ns)
          s.sql(s"""CREATE TABLE $cat.$ns.orders_del
            (o_orderkey BIGINT, o_totalprice DOUBLE, o_year INT)
            USING docstore PARTITIONED BY (o_year)""")
          Tables.t(s, dir, "orders")
            .select(col("o_orderkey"), col("o_totalprice"),
              year(col("o_orderdate")).as("o_year"))
            .writeTo(s"$cat.$ns.orders_del").append()
          s.sql(s"DELETE FROM $cat.$ns.orders_del WHERE o_year = 1995")
        }
        s.table(s"$cat.$ns.orders_del")
          .groupBy("o_year")
          .agg(count(lit(1)).as("n_orders"),
            round(sum(round(col("o_totalprice") * 100).cast("bigint")).cast("bigint") / 1e2, 2)
              .as("total"))
          .orderBy("o_year")
      },
      Some("""SELECT CAST(year(o_orderdate) AS INT) AS o_year,
          count(*) AS n_orders,
          round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 1e2, 2) AS total
        FROM orders WHERE year(o_orderdate) <> 1995
        GROUP BY 1 ORDER BY o_year""")),

    Q(
      "etl_connector_merge",
      "The SCD2 merge executed AS `MERGE INTO` through the connector — " +
        "the oracle-checked twin of etl_scd2_merge, but the merge " +
        "itself crosses the DSv2 row-level-operation boundary " +
        "(SupportsRowLevelOperations, group-based COPY-ON-WRITE): " +
        "Spark reads the affected rows through the operation's scan, " +
        "computes closed/kept/new rows, stages replacements under " +
        "_staging-<queryId>, and one commit atomically retires the " +
        "replaced files — a reader planned at ANY earlier point sees " +
        "the complete pre-merge store (DocStoreCatalogSpec pins the " +
        "invisibility). The classic NULL-merge-key trick yields both " +
        "an UPDATE (close the open row) and an INSERT (new current " +
        "row) per changed key in ONE statement. The oracle recomputes " +
        "the expected dimension straight from the source table, so " +
        "any row lost or duplicated by the rewrite is a hash " +
        "mismatch.",
      (s, dir) => {
        val cat = mutableCatalog(s)
        val ns = nsOf(dir)
        graft.Scratch.once(s"etl_connector_merge:$dir") { _ =>
          ensureNamespace(s, cat, ns)
          s.sql(s"""CREATE TABLE $cat.$ns.scd_customer
            (c_custkey BIGINT, segment STRING, valid_from DATE,
             valid_to DATE, is_current BOOLEAN) USING docstore""")
          Tables.t(s, dir, "customer")
            .select(col("c_custkey"), col("c_mktsegment").as("segment"),
              lit("2020-01-01").cast("date").as("valid_from"),
              lit(null).cast("date").as("valid_to"),
              lit(true).as("is_current"))
            .writeTo(s"$cat.$ns.scd_customer").append()
          s.sql(s"""CREATE TABLE $cat.$ns.scd_changes
            (c_custkey BIGINT, new_segment STRING) USING docstore""")
          Tables.t(s, dir, "customer")
            .filter(col("c_custkey") % 7 === 0)
            .select(col("c_custkey"), lit("MIGRATED").as("new_segment"))
            .writeTo(s"$cat.$ns.scd_changes").append()
          s.sql(s"""MERGE INTO $cat.$ns.scd_customer t
            USING (
              SELECT c_custkey AS mk, c_custkey, new_segment
              FROM $cat.$ns.scd_changes
              UNION ALL
              SELECT CAST(NULL AS BIGINT) AS mk, c_custkey, new_segment
              FROM $cat.$ns.scd_changes
            ) s
            ON t.c_custkey = s.mk AND t.is_current
            WHEN MATCHED THEN UPDATE SET
              valid_to = DATE '2024-06-01', is_current = false
            WHEN NOT MATCHED THEN INSERT
              (c_custkey, segment, valid_from, valid_to, is_current)
              VALUES (s.c_custkey, s.new_segment, DATE '2024-06-01',
                CAST(NULL AS DATE), true)""")
        }
        s.table(s"$cat.$ns.scd_customer")
          .select("c_custkey", "segment", "valid_from", "valid_to", "is_current")
          .orderBy("c_custkey", "valid_from")
      },
      Some("""WITH changes AS (
          SELECT c_custkey, 'MIGRATED' AS new_segment
          FROM customer WHERE c_custkey % 7 = 0),
        merged AS (
          SELECT d.c_custkey, d.c_mktsegment, ch.new_segment
          FROM customer d LEFT JOIN changes ch USING (c_custkey))
        SELECT c_custkey, c_mktsegment AS segment,
          DATE '2020-01-01' AS valid_from,
          CASE WHEN new_segment IS NOT NULL THEN DATE '2024-06-01' END AS valid_to,
          new_segment IS NULL AS is_current
        FROM merged
        UNION ALL
        SELECT c_custkey, new_segment AS segment,
          DATE '2024-06-01' AS valid_from,
          CAST(NULL AS DATE) AS valid_to, TRUE AS is_current
        FROM merged WHERE new_segment IS NOT NULL
        ORDER BY c_custkey, valid_from""")),

    Q(
      "etl_connector_merge_mor",
      "The SCD2 `MERGE INTO` executed MERGE-ON-READ: the table declares " +
        "TBLPROPERTIES('rowlevel'='mor'), so matched rows retire as " +
        "DELETION-VECTOR positions (`#dv` manifest bindings over " +
        "immutable `_deletes/` sidecars — Delta DV / Iceberg v2 " +
        "position-delete semantics) and only genuinely-new rows write " +
        "files; ZERO pre-existing data files are rewritten " +
        "(MergeOnReadSpec pins the manifest diff). At 100 TB this is " +
        "the difference between a MERGE whose matches scatter across " +
        "partitions costing O(matched ROWS) and costing O(matched " +
        "FILE GROUPS) — the exact cost copy-on-write " +
        "(etl_connector_merge) pays. Readers subtract the vectors at " +
        "scan (pointer-merge on sorted positions, zero extra I/O on " +
        "DV-free files); the oracle recomputes the dimension from the " +
        "source table, so a resurrected or lost row is a hash " +
        "mismatch.",
      (s, dir) => {
        val cat = mutableCatalog(s)
        val ns = nsOf(dir)
        graft.Scratch.once(s"etl_connector_merge_mor:$dir") { _ =>
          ensureNamespace(s, cat, ns)
          s.sql(s"""CREATE TABLE $cat.$ns.scd_customer_mor
            (c_custkey BIGINT, segment STRING, valid_from DATE,
             valid_to DATE, is_current BOOLEAN) USING docstore
            TBLPROPERTIES ('rowlevel'='mor')""")
          Tables.t(s, dir, "customer")
            .select(col("c_custkey"), col("c_mktsegment").as("segment"),
              lit("2020-01-01").cast("date").as("valid_from"),
              lit(null).cast("date").as("valid_to"),
              lit(true).as("is_current"))
            .writeTo(s"$cat.$ns.scd_customer_mor").append()
          s.sql(s"""CREATE TABLE $cat.$ns.scd_changes_mor
            (c_custkey BIGINT, new_segment STRING) USING docstore""")
          Tables.t(s, dir, "customer")
            .filter(col("c_custkey") % 7 === 0)
            .select(col("c_custkey"), lit("MIGRATED").as("new_segment"))
            .writeTo(s"$cat.$ns.scd_changes_mor").append()
          s.sql(s"""MERGE INTO $cat.$ns.scd_customer_mor t
            USING (
              SELECT c_custkey AS mk, c_custkey, new_segment
              FROM $cat.$ns.scd_changes_mor
              UNION ALL
              SELECT CAST(NULL AS BIGINT) AS mk, c_custkey, new_segment
              FROM $cat.$ns.scd_changes_mor
            ) s
            ON t.c_custkey = s.mk AND t.is_current
            WHEN MATCHED THEN UPDATE SET
              valid_to = DATE '2024-06-01', is_current = false
            WHEN NOT MATCHED THEN INSERT
              (c_custkey, segment, valid_from, valid_to, is_current)
              VALUES (s.c_custkey, s.new_segment, DATE '2024-06-01',
                CAST(NULL AS DATE), true)""")
        }
        s.table(s"$cat.$ns.scd_customer_mor")
          .select("c_custkey", "segment", "valid_from", "valid_to", "is_current")
          .orderBy("c_custkey", "valid_from")
      },
      Some("""WITH changes AS (
          SELECT c_custkey, 'MIGRATED' AS new_segment
          FROM customer WHERE c_custkey % 7 = 0),
        merged AS (
          SELECT d.c_custkey, d.c_mktsegment, ch.new_segment
          FROM customer d LEFT JOIN changes ch USING (c_custkey))
        SELECT c_custkey, c_mktsegment AS segment,
          DATE '2020-01-01' AS valid_from,
          CASE WHEN new_segment IS NOT NULL THEN DATE '2024-06-01' END AS valid_to,
          new_segment IS NULL AS is_current
        FROM merged
        UNION ALL
        SELECT c_custkey, new_segment AS segment,
          DATE '2024-06-01' AS valid_from,
          CAST(NULL AS DATE) AS valid_to, TRUE AS is_current
        FROM merged WHERE new_segment IS NOT NULL
        ORDER BY c_custkey, valid_from""")),

    Q(
      "etl_connector_delete_mor",
      "DELETE with a DATA predicate on a merge-on-read table: no " +
        "partition fast path applies (the predicate isn't a partition " +
        "conjunct) and no file is rewritten either — the matched rows' " +
        "(file, position) ids become per-file deletion vectors in one " +
        "`rowdelta` snapshot commit. The operation scan pushes the " +
        "predicate (unlike copy-on-write's group scan, which must read " +
        "whole groups), so the scan cost is the predicate's row-group " +
        "survivors. Under DVs footer aggregate pushdown answers only " +
        "COUNT(*) (file rows minus each vector's cardinality); the SUM " +
        "below keeps the aggregate in Spark, which reads data pages " +
        "and still answers exactly — the oracle recomputes from the " +
        "source.",
      (s, dir) => {
        val cat = mutableCatalog(s)
        val ns = nsOf(dir)
        graft.Scratch.once(s"etl_connector_delete_mor:$dir") { _ =>
          ensureNamespace(s, cat, ns)
          s.sql(s"""CREATE TABLE $cat.$ns.orders_del_mor
            (o_orderkey BIGINT, o_totalprice DOUBLE, o_year INT)
            USING docstore PARTITIONED BY (o_year)
            TBLPROPERTIES ('rowlevel'='mor')""")
          Tables.t(s, dir, "orders")
            .select(col("o_orderkey"), col("o_totalprice"),
              year(col("o_orderdate")).as("o_year"))
            .writeTo(s"$cat.$ns.orders_del_mor").append()
          s.sql(s"DELETE FROM $cat.$ns.orders_del_mor WHERE o_orderkey % 3 = 0")
        }
        s.table(s"$cat.$ns.orders_del_mor")
          .groupBy("o_year")
          .agg(count(lit(1)).as("n_orders"),
            round(sum(round(col("o_totalprice") * 100).cast("bigint")).cast("bigint") / 1e2, 2)
              .as("total"))
          .orderBy("o_year")
      },
      Some("""SELECT CAST(year(o_orderdate) AS INT) AS o_year,
          count(*) AS n_orders,
          round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 1e2, 2) AS total
        FROM orders WHERE o_orderkey % 3 <> 0
        GROUP BY 1 ORDER BY o_year""")),

    Q(
      "etl_catalog_iddl",
      "DROP + RENAME COLUMN via STABLE COLUMN IDs — the evolution " +
        "add/widen alone can't express: the schema marker binds every " +
        "name ever used to a column id, `ALTER TABLE RENAME COLUMN` " +
        "re-binds the current name while pre-rename files keep " +
        "resolving through the old binding (the reader tries the " +
        "current name, then the id's older names, per file), and " +
        "`DROP COLUMN` retires the id so old files' bytes become " +
        "invisible without rewriting anything. Generation 1 writes " +
        "(k, price, flag); price is renamed to amount and flag " +
        "dropped; generation 2 writes (k, amount) — the aggregate " +
        "below reads BOTH generations by the new name, and the oracle " +
        "recomputes it from the source table, so a row read under the " +
        "wrong binding (or a resurrected dropped column shifting the " +
        "projection) is a hash mismatch. Name REUSE is refused with " +
        "the files still carrying the old column (ColumnIdSpec) — " +
        "the one ambiguity name-mapping over id-less parquet cannot " +
        "survive, exactly Iceberg's name-mapping rule.",
      (s, dir) => {
        val cat = mutableCatalog(s)
        val ns = nsOf(dir)
        graft.Scratch.once(s"etl_catalog_iddl:$dir") { _ =>
          ensureNamespace(s, cat, ns)
          s.sql(s"""CREATE TABLE $cat.$ns.orders_iddl
            (o_orderkey BIGINT, price DOUBLE, flag INT)
            USING docstore TBLPROPERTIES ('rowlevel'='mor')""")
          Tables.t(s, dir, "orders")
            .filter(col("o_orderkey") % 2 === 0)
            .select(col("o_orderkey"), col("o_totalprice").as("price"),
              lit(1).as("flag"))
            .writeTo(s"$cat.$ns.orders_iddl").append() // generation 1
          s.sql(s"ALTER TABLE $cat.$ns.orders_iddl RENAME COLUMN price TO amount")
          s.sql(s"ALTER TABLE $cat.$ns.orders_iddl DROP COLUMN flag")
          Tables.t(s, dir, "orders")
            .filter(col("o_orderkey") % 2 === 1)
            .select(col("o_orderkey"), col("o_totalprice").as("amount"))
            .writeTo(s"$cat.$ns.orders_iddl").append() // generation 2
        }
        val t = s.table(s"$cat.$ns.orders_iddl")
        require(t.schema.fieldNames.toSeq == Seq("o_orderkey", "amount"),
          s"iddl schema drift: ${t.schema.fieldNames.mkString(",")}")
        t.groupBy((col("o_orderkey") % 5).as("bucket"))
          .agg(count(lit(1)).as("n"),
            round(sum(round(col("amount") * 100).cast("bigint")).cast("bigint") / 1e2, 2)
              .as("total"))
          .orderBy("bucket")
      },
      Some("""SELECT o_orderkey % 5 AS bucket, count(*) AS n,
          round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 1e2, 2) AS total
        FROM orders GROUP BY 1 ORDER BY bucket""")),

    Q(
      "etl_connector_partition_evolution",
      "PARTITION EVOLUTION without a rewrite: orders through 1994 " +
        "commit under spec (o_year); `setPartitionSpec` re-points the " +
        "store to (o_year, o_month) as ONE `#partspec` manifest line; " +
        "later orders route into the finer year/month directories " +
        "while every gen-1 file keeps its own coarser layout — at " +
        "100 TB this is how a store re-partitions as it grows (the " +
        "thing a fixed layout forces a full rewrite for). The union " +
        "read recovers each file's columns from ITS path (gen-1 rows " +
        "read o_month as null — the value exists nowhere else), " +
        "pruning stays exact per layout (PartitionEvolutionSpec pins " +
        "that an o_month filter drops whole gen-1 files), and the " +
        "oracle recomputes the same aggregate with o_month nulled " +
        "before the cutover — any row routed, read, or pruned under " +
        "the wrong spec is a hash mismatch.",
      (s, dir) => {
        val store = graft.Scratch.once(s"etl_partition_evolution:$dir") { p =>
          val src = Tables.t(s, dir, "orders")
            .select(col("o_orderkey"), col("o_totalprice"),
              year(col("o_orderdate")).as("o_year"),
              month(col("o_orderdate")).as("o_mon"))
          src.filter(col("o_year") <= 1994)
            .select(col("o_orderkey"), col("o_totalprice"),
              col("o_year").cast("string").as("o_year"))
            .write.format("docstore").option("path", p)
            .option("partitionBy", "o_year").option("snapshots", "true")
            .mode("append").save()
          graft.sources.DocStoreMaintenance
            .setPartitionSpec(p, Seq("o_year", "o_month")): Unit
          // generation 2 routes by the CURRENT spec — no option passed
          src.filter(col("o_year") > 1994)
            .select(col("o_orderkey"), col("o_totalprice"),
              col("o_year").cast("string").as("o_year"),
              col("o_mon").cast("string").as("o_month"))
            .write.format("docstore").option("path", p)
            .mode("append").save()
        }
        s.read.format("docstore").option("path", store).load()
          .groupBy(col("o_year").cast("int").as("o_year"),
            col("o_month").cast("int").as("o_month"))
          .agg(count(lit(1)).as("n_orders"),
            round(sum(round(col("o_totalprice") * 100).cast("bigint")).cast("bigint") / 1e2, 2)
              .as("total"))
          .orderBy(col("o_year"), col("o_month").asc_nulls_first)
      },
      Some("""SELECT CAST(year(o_orderdate) AS INT) AS o_year,
          CASE WHEN year(o_orderdate) > 1994
               THEN CAST(month(o_orderdate) AS INT) END AS o_month,
          count(*) AS n_orders,
          round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 1e2, 2) AS total
        FROM orders GROUP BY 1, 2 ORDER BY o_year, o_month NULLS FIRST""")),

    Q(
      "etl_connector_sql_maintenance",
      "Maintenance WITHOUT leaving SQL — `CALL docstore.system.compact`" +
        " through the DSv2 procedure machinery (ProcedureCatalog / " +
        "BoundProcedure, the API Iceberg's procedures ride): a table " +
        "ingested in three small commits (the streaming-sink shape " +
        "that accumulates files) is bin-packed by a SQL CALL, the " +
        "procedure's result row reports what moved, and the read-back " +
        "aggregate proves the rewrite was byte-faithful — the oracle " +
        "recomputes it from the source table. DESCRIBE-style history " +
        "(`CALL docstore.system.history`) and vacuum ride the same " +
        "surface (DocStoreCatalogSpec pins their shapes); operators " +
        "schedule retention from a SQL console, no Scala required.",
      (s, dir) => {
        val cat = mutableCatalog(s)
        val ns = nsOf(dir)
        graft.Scratch.once(s"etl_connector_sql_maintenance:$dir") { _ =>
          ensureNamespace(s, cat, ns)
          s.sql(s"""CREATE TABLE $cat.$ns.orders_maint
            (o_orderkey BIGINT, o_totalprice DOUBLE, o_year INT)
            USING docstore PARTITIONED BY (o_year)
            TBLPROPERTIES ('rowlevel'='mor')""")
          val src = Tables.t(s, dir, "orders")
            .select(col("o_orderkey"), col("o_totalprice"),
              year(col("o_orderdate")).as("o_year"))
          (0 until 3).foreach { slice =>
            src.filter(pmod(col("o_orderkey"), lit(3)) === slice)
              .writeTo(s"$cat.$ns.orders_maint").append()
          }
          val r = s.sql(
            s"CALL $cat.system.compact(table => '$ns.orders_maint')").head
          require(r.getInt(0) > 0 && r.getInt(1) > r.getInt(2),
            s"compaction did not bin-pack: $r")
        }
        s.table(s"$cat.$ns.orders_maint")
          .groupBy("o_year")
          .agg(count(lit(1)).as("n_orders"),
            round(sum(round(col("o_totalprice") * 100).cast("bigint")).cast("bigint") / 1e2, 2)
              .as("total"))
          .orderBy("o_year")
      },
      Some("""SELECT CAST(year(o_orderdate) AS INT) AS o_year,
          count(*) AS n_orders,
          round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 1e2, 2) AS total
        FROM orders GROUP BY 1 ORDER BY o_year""")),

    Q(
      "etl_connector_copartition",
      "STORAGE-PARTITIONED JOIN through the connector — the zero-" +
        "shuffle fact-fact join: two stores Hive-partitioned on the " +
        "same key (order year) are read back via `format(\"docstore\")`" +
        ", each aggregated per year and joined on the partition key; " +
        "the scan reports KeyGroupedPartitioning over its directory " +
        "keys, so under spark.sql.sources.v2.bucketing.enabled BOTH " +
        "aggregations and the join run on the directory partitioning " +
        "with ZERO exchanges (DocStoreSpec pins the shuffle-free " +
        "plan) — at 100 TB this deletes the largest shuffle a " +
        "co-partitioned pipeline has. The conf is set at session " +
        "build by every harness entrypoint (Bench/Verify/Explain/" +
        "SparkSpec) — NOT mutated here: a runtime set from inside a " +
        "query constructor would leak into the shared session and " +
        "nondeterministically reshape other queries planned mid-" +
        "flight under Verify's thread pool. In a foreign session " +
        "without the conf the join falls back to a shuffled merge " +
        "join — same results, just not exchange-free.",
      (s, dir) => {
        val (a, b) = (
          graft.Scratch.once(s"etl_docstore_spj_a:$dir") { p =>
            Tables.t(s, dir, "orders")
              .withColumn("o_year", year(col("o_orderdate")).cast("int"))
              .select("o_orderkey", "o_totalprice", "o_year")
              .write.format("docstore").option("path", p)
              .option("partitionBy", "o_year").mode("overwrite").save()
          },
          graft.Scratch.once(s"etl_docstore_spj_b:$dir") { p =>
            Tables.t(s, dir, "orders")
              .withColumn("o_year", year(col("o_orderdate")).cast("int"))
              .select("o_custkey", "o_year")
              .write.format("docstore").option("path", p)
              .option("partitionBy", "o_year").mode("overwrite").save()
          })
        val fa = s.read.format("docstore").option("path", a).load()
          .groupBy("o_year")
          .agg(count(lit(1)).as("n_orders"),
            round(sum(round(col("o_totalprice") * 100).cast("bigint")).cast("bigint") / 1e2, 2)
              .as("total"))
        val fb = s.read.format("docstore").option("path", b).load()
          .groupBy("o_year")
          .agg(countDistinct("o_custkey").as("n_custs"))
        fa.join(fb.hint("merge"), Seq("o_year"))
          .select(col("o_year").cast("int").as("o_year"),
            col("n_orders"), col("total"), col("n_custs"))
          .orderBy("o_year")
      },
      Some("""WITH y AS (SELECT CAST(year(o_orderdate) AS INT) AS o_year,
            o_totalprice, o_custkey FROM orders),
        a AS (SELECT o_year, count(*) AS n_orders,
            round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 1e2, 2) AS total
          FROM y GROUP BY 1),
        b AS (SELECT o_year, count(DISTINCT o_custkey) AS n_custs
          FROM y GROUP BY 1)
        SELECT o_year, n_orders, total, n_custs
        FROM a JOIN b USING (o_year) ORDER BY o_year""")),

    Q(
      "etl_connector_stream",
      "CONTINUOUS ingestion through the connector — the streaming " +
        "tail of the same DSv2 boundary the batch ETL crosses: two " +
        "staged-commit batches land in a docstore, " +
        "`readStream.format(\"docstore\")` (MicroBatchStream; offsets " +
        "= immutable-file sets, so restarts are exactly-once by " +
        "construction) drains it under Trigger.AvailableNow into a " +
        "checkpointed parquet sink, and the RESULT aggregates what " +
        "the sink persisted. The oracle computes the same aggregate " +
        "straight from the source table, so a row lost or duplicated " +
        "anywhere in the list/offset/replay/sink path is a hash " +
        "mismatch. DocStoreSpec additionally pins the incremental " +
        "path: append after a drained run, restart from the " +
        "checkpoint, and ONLY the new files replay.",
      (s, dir) => {
        val store = graft.Scratch.once(s"etl_docstore_stream:$dir") { p =>
          val o = Tables.t(s, dir, "orders")
            .withColumn("o_year", year(col("o_orderdate")).cast("int"))
            .select("o_orderkey", "o_totalprice", "o_year")
          // two atomically-published generations, like a real feed
          o.filter(col("o_orderkey") % 2 === 0)
            .write.format("docstore").option("path", p).mode("append").save()
          o.filter(col("o_orderkey") % 2 =!= 0)
            .write.format("docstore").option("path", p).mode("append").save()
        }
        val sink = graft.Scratch.once(s"etl_docstore_stream_sink:$dir") { p =>
          s.readStream.format("docstore").option("path", store).load()
            .writeStream.format("parquet")
            .option("path", s"$p/out")
            .option("checkpointLocation", s"$p/cp")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
            .awaitTermination()
        }
        s.read.parquet(s"$sink/out")
          .groupBy("o_year")
          .agg(count(lit(1)).as("n_orders"),
            round(sum(round(col("o_totalprice") * 100).cast("bigint")).cast("bigint") / 1e2, 2)
              .as("total"))
          .orderBy("o_year")
      },
      Some("""SELECT CAST(year(o_orderdate) AS INT) AS o_year,
          count(*) AS n_orders,
          round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 1e2, 2) AS total
        FROM orders GROUP BY 1 ORDER BY o_year""")),

    Q(
      "etl_orc_sink_roundtrip",
      "End-to-end exercise of a SECOND sink format (A12 generalized " +
        "beyond parquet): orders flow through a partitioned zstd ORC " +
        "sink (partitionBy order year — the same layout the parquet " +
        "exporter routes) into a per-fixture temp dir, and the RESULT " +
        "is an aggregation over what the sink persisted, read back " +
        "through the ORC source with its partition column recovered " +
        "from directory names. The oracle computes the same aggregate " +
        "straight from the parquet source table, so any row, value, " +
        "or partition-key corruption through the write/layout/read " +
        "path is a hash mismatch. Money sums in exact cents (ORC " +
        "round-trips doubles bit-exactly; the cents cast keeps the " +
        "SUM order-independent).",
      (s, dir) => {
        val out = graft.Scratch.once(s"etl_orc_sink:$dir") { p =>
          Tables.t(s, dir, "orders")
            .withColumn("o_year", year(col("o_orderdate")).cast("int"))
            .write.mode("overwrite").option("compression", "zstd")
            .partitionBy("o_year").orc(p)
        }
        s.read.orc(out)
          .groupBy(col("o_year").cast("int").as("o_year"))
          .agg(count(lit(1)).as("n_orders"),
            round(sum(round(col("o_totalprice") * 100).cast("bigint")).cast("bigint") / 1e2, 2)
              .as("total"),
            countDistinct(col("o_custkey")).as("n_custs"))
          .orderBy("o_year")
      },
      Some("""SELECT CAST(year(o_orderdate) AS INT) AS o_year,
          count(*) AS n_orders,
          round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 1e2, 2) AS total,
          count(DISTINCT o_custkey) AS n_custs
        FROM orders GROUP BY 1 ORDER BY o_year""")),

    Q(
      "etl_backfill_plan",
      "Backfill/completeness audit over the partition grid: for each " +
        "nation, how many of the calendar months between the global " +
        "first and last order date actually have orders, and how many " +
        "are missing — the plan a scheduler turns into backfill jobs " +
        "(the operational companion to A8's partition routing). The " +
        "calendar bounds are a 1-row broadcast; presence is one " +
        "(nation, month) hash agg rolled up to a per-nation distinct " +
        "count; expected-vs-present is exact integer month " +
        "arithmetic.",
      (s, dir) => {
        val o = Tables.t(s, dir, "orders")
          .join(Tables.t(s, dir, "customer"),
            col("o_custkey") === col("c_custkey"))
          .join(broadcast(Tables.t(s, dir, "nation")),
            col("c_nationkey") === col("n_nationkey"))
          .select(col("n_name"),
            to_date(date_trunc("MONTH", col("o_orderdate"))).as("m"))
        val cal = o.agg(min("m").as("mn"), max("m").as("mx"))
        o.groupBy("n_name")
          .agg(countDistinct("m").as("n_present"))
          .crossJoin(broadcast(cal))
          .select(col("n_name"),
            (months_between(col("mx"), col("mn")).cast("long") + 1)
              .as("n_expected"),
            col("n_present"),
            (months_between(col("mx"), col("mn")).cast("long") + 1 -
              col("n_present")).as("n_missing"))
          .orderBy("n_name")
      },
      Some("""WITH o AS (SELECT n_name,
            CAST(date_trunc('month', CAST(o_orderdate AS TIMESTAMP)) AS DATE) AS m
          FROM orders
          JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey),
        cal AS (SELECT min(m) AS mn, max(m) AS mx FROM o),
        p AS (SELECT n_name, count(DISTINCT m) AS n_present FROM o GROUP BY 1)
        SELECT n_name,
          CAST(date_diff('month', mn, mx) + 1 AS BIGINT) AS n_expected,
          n_present,
          CAST(date_diff('month', mn, mx) + 1 AS BIGINT) - n_present AS n_missing
        FROM p, cal ORDER BY n_name""")),

    Q(
      "etl_snapshot_diff",
      "Data-diff between two snapshots (the halves of the event " +
        "stream at the exact integer-µs timestamp midpoint): per " +
        "user, event counts on each side classify the key as added / " +
        "removed / changed / same, then one tiny status rollup with " +
        "per-side totals — the regression report every pipeline " +
        "migration and backfill wants before swapping outputs. One " +
        "user-keyed conditional-count agg (map-side combinable, " +
        "constant per-key state) plus a 1-row broadcast for the " +
        "split; all integers.",
      (s, dir) => {
        val e = Tables.t(s, dir, "events")
          .select(Tables.epochUs(col("ts")).as("us"), col("user_id"))
        val st = e.agg(min("us").as("mn"), max("us").as("mx"))
        val per = e.crossJoin(broadcast(st))
          .groupBy("user_id")
          .agg(
            sum(when(col("us") * 2 <= col("mn") + col("mx"), 1L)
              .otherwise(0L)).as("n_a"),
            sum(when(col("us") * 2 > col("mn") + col("mx"), 1L)
              .otherwise(0L)).as("n_b"))
        per.select(
            when(col("n_a") === 0, "added")
              .when(col("n_b") === 0, "removed")
              .when(col("n_a") =!= col("n_b"), "changed")
              .otherwise("same").as("status"),
            col("n_a"), col("n_b"))
          .groupBy("status")
          .agg(count(lit(1)).as("n_users"),
            sum("n_a").as("events_before"),
            sum("n_b").as("events_after"))
          .orderBy("status")
      },
      Some("""WITH e AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS us,
            user_id FROM events),
        st AS (SELECT min(us) AS mn, max(us) AS mx FROM e),
        per AS (SELECT user_id,
            CAST(sum(CASE WHEN us * 2 <= mn + mx THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
            CAST(sum(CASE WHEN us * 2 > mn + mx THEN 1 ELSE 0 END) AS BIGINT) AS n_b
          FROM e, st GROUP BY 1)
        SELECT CASE WHEN n_a = 0 THEN 'added'
            WHEN n_b = 0 THEN 'removed'
            WHEN n_a <> n_b THEN 'changed'
            ELSE 'same' END AS status,
          count(*) AS n_users,
          CAST(sum(n_a) AS BIGINT) AS events_before,
          CAST(sum(n_b) AS BIGINT) AS events_after
        FROM per GROUP BY 1 ORDER BY 1""")),

    Q(
      "etl_date_filter_derive",
      "A5+A7: inclusive date-range filter pushed to the parquet scan, " +
        "then derived year/month/day columns (reference main.py:92-100,288-293). " +
        "The sort covers EVERY output column: the fixture's (orderkey, " +
        "linenumber) is not unique, so a two-key sort is not a total " +
        "order and engines may tie-break differently — at sf1 the r15 " +
        "sweep caught exactly that; with all columns in the key, tied " +
        "rows are identical rows and any tie order compares equal.",
      (s, dir) => {
        val li = Tables.t(s, dir, "lineitem")
        li.filter(col("l_shipdate").between(
            lit("1996-01-01").cast("timestamp"), lit("1997-12-31").cast("timestamp")))
          .select(
            col("l_orderkey"), col("l_linenumber"),
            year(col("l_shipdate")).as("y"),
            month(col("l_shipdate")).as("m"),
            dayofmonth(col("l_shipdate")).as("d"))
          .orderBy("l_orderkey", "l_linenumber", "y", "m", "d")
      },
      Some("""SELECT l_orderkey, l_linenumber,
        CAST(year(l_shipdate) AS INT) AS y,
        CAST(month(l_shipdate) AS INT) AS m,
        CAST(day(l_shipdate) AS INT) AS d
        FROM lineitem
        WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
        ORDER BY l_orderkey, l_linenumber, y, m, d""")),

    Q(
      "etl_partition_unknown",
      "A8: partition-value derivation with the reference's string " +
        "'unknown' fallback for missing dates (main.py:110); nulls are " +
        "synthesized (year >= 2000) since fixtures have none.",
      (s, dir) => {
        val li = Tables.t(s, dir, "lineitem")
        val y = year(col("l_shipdate"))
        li.withColumn("part_year",
            coalesce(when(y >= 2000, lit(null)).otherwise(y).cast("string"), lit("unknown")))
          .groupBy("part_year").agg(count(lit(1)).as("n"))
          .orderBy("part_year")
      },
      Some("""SELECT coalesce(CAST(CASE WHEN year(l_shipdate) >= 2000 THEN NULL
          ELSE CAST(year(l_shipdate) AS INT) END AS VARCHAR), 'unknown') AS part_year,
        count(*) AS n
        FROM lineitem GROUP BY 1 ORDER BY part_year""")),

    Q(
      "etl_projection_rename",
      "A6: column select / drop / rename (reference drops `_id`, main.py:107).",
      (s, dir) => {
        val c = Tables.t(s, dir, "customer")
        c.drop("c_acctbal")
          .withColumnRenamed("c_name", "name")
          .select(col("c_custkey").as("id"), col("name"), col("c_mktsegment").as("segment"))
          .orderBy("id")
      },
      Some("""SELECT c_custkey AS id, c_name AS name, c_mktsegment AS segment
        FROM customer ORDER BY id""")),

    Q(
      "etl_compaction_plan",
      "Small-file compaction planning — the maintenance pass every " +
        "partitioned lake needs: per (ship-year, month) partition, " +
        "estimate bytes (row count × avg row width) and assign " +
        "partitions to target-sized output bins by cumulative fill " +
        "(bin = floor(bytes-before / 256 KiB)), so consecutive small " +
        "partitions coalesce into one rewrite task and large ones " +
        "split cleanly. The running sum is a window partitioned by " +
        "year over ≤12 month rows — per-year parallel; at lake scale " +
        "the unit is the file listing, same plan. Integer bytes end " +
        "to end.",
      (s, dir) => {
        val w = Window.partitionBy("yr").orderBy("mon")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.t(s, dir, "lineitem")
          .groupBy(year(col("l_shipdate")).as("yr"),
            month(col("l_shipdate")).as("mon"))
          .agg((count(lit(1)) * 96L).as("bytes"))
          .withColumn("cb", sum("bytes").over(w) - col("bytes"))
          .select(col("yr"), col("mon"), col("bytes"),
            floor(col("cb") / 262144.0).cast("long").as("bin"))
          .orderBy("yr", "mon")
      },
      Some("""WITH p AS (SELECT CAST(year(l_shipdate) AS INT) AS yr,
            CAST(month(l_shipdate) AS INT) AS mon,
            count(*) * 96 AS bytes
          FROM lineitem GROUP BY 1, 2),
        c AS (SELECT yr, mon, CAST(bytes AS BIGINT) AS bytes,
            CAST(sum(bytes) OVER (PARTITION BY yr ORDER BY mon
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
              - bytes AS cb
          FROM p)
        SELECT yr, mon, bytes,
          CAST(floor(cb / 262144.0) AS BIGINT) AS bin
        FROM c ORDER BY yr, mon""")),

    Q(
      "etl_table_checksum",
      "Order-free table checksums — the migration-audit primitive " +
        "(did the copy preserve every row?): per table, row count " +
        "plus the SUM of a portable per-row content hash (md5-hex " +
        "read as an integer, reduced mod 1e9+7) over a canonical " +
        "pipe-joined column encoding. Addition commutes, so the " +
        "checksum is identical at any parallelism and partitioning — " +
        "compare source and destination without sorting either. " +
        "Integer/string columns only (float formatting is not a " +
        "stable cross-engine encoding; money goes in as exact " +
        "cents). At petabyte row counts the mod-sum widens to " +
        "DECIMAL(38,0) — same plan.",
      (s, dir) => {
        import graft.ops.PortableHash.hexHash
        def chk(name: String, df: org.apache.spark.sql.DataFrame,
            enc: org.apache.spark.sql.Column) =
          df.agg(count(lit(1)).as("n_rows"),
            sum(pmod(hexHash(enc), lit(1000000007L))).as("checksum"))
            .select(lit(name).as("table_name"), col("n_rows"), col("checksum"))
        val c = Tables.t(s, dir, "customer")
        val o = Tables.t(s, dir, "orders")
        val li = Tables.t(s, dir, "lineitem")
        chk("customer", c, concat_ws("|", col("c_custkey"), col("c_name"),
            col("c_mktsegment")))
          .unionAll(chk("orders", o, concat_ws("|", col("o_orderkey"),
            col("o_custkey"), col("o_orderpriority"),
            round(col("o_totalprice") * 100).cast("long"))))
          .unionAll(chk("lineitem", li, concat_ws("|", col("l_orderkey"),
            col("l_partkey"), col("l_suppkey"), col("l_linenumber"))))
          .orderBy("table_name")
      },
      Some(s"""WITH c AS (SELECT 'customer' AS table_name, count(*) AS n_rows,
            CAST(sum(${graft.ops.PortableHash.hexHashSql(
              "CAST(c_custkey AS VARCHAR) || '|' || c_name || '|' || c_mktsegment")}
              % 1000000007) AS BIGINT) AS checksum
          FROM customer),
        o AS (SELECT 'orders', count(*),
            CAST(sum(${graft.ops.PortableHash.hexHashSql(
              "CAST(o_orderkey AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR) || '|' || " +
                "o_orderpriority || '|' || CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR)")}
              % 1000000007) AS BIGINT)
          FROM orders),
        l AS (SELECT 'lineitem', count(*),
            CAST(sum(${graft.ops.PortableHash.hexHashSql(
              "CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_partkey AS VARCHAR) || '|' || " +
                "CAST(l_suppkey AS VARCHAR) || '|' || CAST(l_linenumber AS VARCHAR)")}
              % 1000000007) AS BIGINT)
          FROM lineitem)
        SELECT * FROM (SELECT * FROM c UNION ALL SELECT * FROM o
          UNION ALL SELECT * FROM l)
        ORDER BY table_name""")),

    Q(
      "etl_surrogate_keys",
      "Deterministic surrogate-key minting — UUID-shaped stable keys " +
        "from a namespaced content hash (md5 of 'cust:'+natural key, " +
        "formatted 8-4-4-4-12): the warehouse-dimension pattern that " +
        "survives re-runs and backfills because the key is a pure " +
        "function of the natural key, never a sequence. Pure per-row " +
        "string work (embarrassingly parallel); the paired spec " +
        "audits full-table collision-freedom.",
      (s, dir) => {
        val h = md5(concat(lit("cust:"), col("c_custkey")))
        Tables.t(s, dir, "customer")
          .filter(col("c_custkey") < 50)
          .select(col("c_custkey"),
            concat_ws("-",
              substring(h, 1, 8), substring(h, 9, 4), substring(h, 13, 4),
              substring(h, 17, 4), substring(h, 21, 12)).as("surrogate_key"))
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey,
          substring(md5('cust:' || CAST(c_custkey AS VARCHAR)), 1, 8) || '-' ||
          substring(md5('cust:' || CAST(c_custkey AS VARCHAR)), 9, 4) || '-' ||
          substring(md5('cust:' || CAST(c_custkey AS VARCHAR)), 13, 4) || '-' ||
          substring(md5('cust:' || CAST(c_custkey AS VARCHAR)), 17, 4) || '-' ||
          substring(md5('cust:' || CAST(c_custkey AS VARCHAR)), 21, 12)
            AS surrogate_key
        FROM customer WHERE c_custkey < 50 ORDER BY c_custkey""")),

    Q(
      "etl_quarantine_split",
      "Dead-letter routing — classify every order against the " +
        "ingest validation rules and report the quarantine " +
        "breakdown (the first rule that fires wins, so rows route " +
        "exactly once): nonpositive amount, unknown priority, " +
        "outside the retention window, over the review threshold, or "
        + "clean. One conditional " +
        "projection + one hash aggregation; in the write path the " +
        "same CASE becomes the partition column of a quarantine " +
        "sink. Counts exact, shares one division each.",
      (s, dir) => {
        val o = Tables.t(s, dir, "orders")
        val rule = when(col("o_totalprice") <= 0, "nonpositive_amount")
          .when(!col("o_orderpriority").rlike("^[1-5]-"), "unknown_priority")
          .when(col("o_orderdate") < lit("1996-01-01").cast("date"),
            "outside_retention")
          .when(col("o_totalprice") > 400000, "review_amount")
          .otherwise("clean")
        val cnt = o.select(rule.as("route")).groupBy("route")
          .agg(count(lit(1)).as("n"))
        cnt.crossJoin(broadcast(cnt.agg(sum("n").as("total"))))
          .select(col("route"), col("n"),
            round(col("n").cast("double") / col("total"), 6).as("share"))
          .orderBy("route")
      },
      Some("""WITH r AS (SELECT CASE
            WHEN o_totalprice <= 0 THEN 'nonpositive_amount'
            WHEN NOT regexp_matches(o_orderpriority, '^[1-5]-')
              THEN 'unknown_priority'
            WHEN CAST(o_orderdate AS DATE) < DATE '1996-01-01'
              THEN 'outside_retention'
            WHEN o_totalprice > 400000 THEN 'review_amount'
            ELSE 'clean' END AS route
          FROM orders),
        c AS (SELECT route, count(*) AS n FROM r GROUP BY 1),
        t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c)
        SELECT route, n, round(CAST(n AS DOUBLE) / total, 6) AS share
        FROM c CROSS JOIN t ORDER BY route""")),

    Q(
      "profile_candidate_keys",
      "Candidate-key discovery — uniqueness ratio of proposed key " +
        "column sets over the orders table (count distinct vs row " +
        "count, is_key when they match): the profiling pass that " +
        "finds the grain of an undocumented table, the complement " +
        "of profile_fd_violations. One exact distinct-count " +
        "aggregation per candidate, all integers until the ratio.",
      (s, dir) => {
        val o = Tables.t(s, dir, "orders")
        def cand(name: String, cols: Seq[String]) = {
          o.agg(count(lit(1)).as("n_rows"),
            countDistinct(cols.head, cols.tail: _*).as("n_distinct"))
            .select(lit(name).as("candidate"), col("n_rows"), col("n_distinct"),
              round(col("n_distinct").cast("double") / col("n_rows"), 6)
                .as("uniqueness"),
              (col("n_distinct") === col("n_rows")).as("is_key"))
        }
        cand("o_orderkey", Seq("o_orderkey"))
          .unionAll(cand("o_custkey", Seq("o_custkey")))
          .unionAll(cand("o_custkey+o_orderdate", Seq("o_custkey", "o_orderdate")))
          .orderBy("candidate")
      },
      Some("""WITH a AS (SELECT 'o_orderkey' AS candidate, count(*) AS n_rows,
            count(DISTINCT o_orderkey) AS n_distinct FROM orders),
        b AS (SELECT 'o_custkey', count(*),
            count(DISTINCT o_custkey) FROM orders),
        c AS (SELECT 'o_custkey+o_orderdate', count(*),
            count(DISTINCT (o_custkey, o_orderdate)) FROM orders),
        u AS (SELECT * FROM a UNION ALL SELECT * FROM b UNION ALL SELECT * FROM c)
        SELECT candidate, n_rows, n_distinct,
          round(CAST(n_distinct AS DOUBLE) / n_rows, 6) AS uniqueness,
          n_distinct = n_rows AS is_key
        FROM u ORDER BY candidate""")),

    Q(
      "etl_incremental_watermark",
      "High-watermark incremental extraction — the continuous-" +
        "ingestion shape the reference's full-reload job lacks: the " +
        "already-loaded store (here: events through day 19) yields " +
        "its max timestamp as a 1-row broadcast watermark; the new " +
        "batch is everything strictly beyond it, profiled per event " +
        "type. Timestamps compare in epoch-µs integers end to end " +
        "(the ns-column house rule), so the watermark predicate is " +
        "exact and pushdown-eligible; no second scan of the store is " +
        "ever needed at 100 TB — the watermark itself would persist " +
        "in the ledger like dedup_incremental's fingerprint store.",
      (s, dir) => {
        val ev = Tables.t(s, dir, "events")
          .select(col("event_type"), dayofmonth(col("ts")).as("d"),
            Tables.epochUs(col("ts")).as("us"))
        val wm = ev.filter(col("d") <= 19).agg(max("us").as("wm"))
        ev.crossJoin(broadcast(wm))
          .filter(col("us") > col("wm"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_new"),
            min("d").as("first_day"), max("d").as("last_day"))
          .orderBy("event_type")
      },
      Some("""WITH ev AS (SELECT event_type,
            CAST(day(CAST(ts AS TIMESTAMP)) AS INT) AS d,
            epoch_us(CAST(ts AS TIMESTAMP)) AS us
          FROM events),
        wm AS (SELECT max(us) AS wm FROM ev WHERE d <= 19)
        SELECT event_type, count(*) AS n_new,
          min(d) AS first_day, max(d) AS last_day
        FROM ev CROSS JOIN wm
        WHERE us > wm
        GROUP BY event_type ORDER BY event_type""")),

    Q(
      "etl_retention_sweep",
      "Retention-policy impact audit — the dry-run every TTL/" +
        "retention job needs before touching data: under a 20-day " +
        "retention window (everything before day 11 expires), the " +
        "per-type rows to delete, distinct users whose history is " +
        "touched, and the share of each type's history lost. One " +
        "conditional aggregation per type (no second scan, no " +
        "join); day arithmetic is exact integers; at scale this is " +
        "partition-pruned to the expiring date partitions.",
      (s, dir) => {
        val ev = Tables.t(s, dir, "events")
          .select(col("event_type"), col("user_id"),
            dayofmonth(col("ts")).as("d"))
        ev.groupBy("event_type")
          .agg(count(lit(1)).as("n_rows"),
            sum(when(col("d") < 11, 1).otherwise(0)).as("rows_to_delete"),
            countDistinct(when(col("d") < 11, col("user_id")))
              .as("users_affected"))
          .select(col("event_type"), col("rows_to_delete"),
            col("users_affected"),
            round(col("rows_to_delete").cast("double") / col("n_rows"), 4)
              .as("history_share"))
          .orderBy("event_type")
      },
      Some("""WITH ev AS (SELECT event_type, user_id,
            CAST(day(CAST(ts AS TIMESTAMP)) AS INT) AS d FROM events)
        SELECT event_type,
          CAST(sum(CASE WHEN d < 11 THEN 1 ELSE 0 END) AS BIGINT)
            AS rows_to_delete,
          count(DISTINCT CASE WHEN d < 11 THEN user_id END)
            AS users_affected,
          round(CAST(sum(CASE WHEN d < 11 THEN 1 ELSE 0 END) AS DOUBLE)
            / count(*), 4) AS history_share
        FROM ev GROUP BY event_type ORDER BY event_type"""))
  )
}
