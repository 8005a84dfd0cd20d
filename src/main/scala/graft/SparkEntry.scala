package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.immutable.ListMap

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Every operator from SURVEY.md §2 is one entry in [[queries]]; the
  * SQL-expressible ones carry DuckDB oracle SQL in [[oracleSql]]. */
object SparkEntry {

  /** Full inventory, in SURVEY §7.3 build order. */
  def all: Seq[Q] =
    etl.EtlQueries.defs ++
      ops.Relational.defs ++
      ops.Stats.defs ++
      ops.Cdc.defs ++
      ops.Graph.defs ++
      ops.Analytics.defs ++
      ops.Features.defs ++
      ops.Scalars.defs ++
      ops.StreamingBatch.defs ++
      ops.Dedup.defs ++
      ops.Similarity.defs ++
      ops.Text.defs ++
      ops.TextHygiene.defs ++
      ops.Multimodal.defs ++
      ops.Pipeline.defs ++
      ops.SqlApi.defs

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks
    * rows>0. Revenue per region/year over the full star join — dims
    * broadcast, single shuffle for the aggregation. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val li = Tables.t(spark, dir, "lineitem")
    val o = Tables.t(spark, dir, "orders")
    val c = Tables.t(spark, dir, "customer")
    val n = broadcast(Tables.t(spark, dir, "nation"))
    val r = broadcast(Tables.t(spark, dir, "region"))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(n, col("c_nationkey") === col("n_nationkey"))
      .join(r, col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), year(col("o_orderdate")).as("order_year"))
      .agg(
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("r_name", "order_year")
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    ListMap(all.map(q => q.name -> q.fn): _*)

  /** Queries whose name contains any of `filters`, in registry order;
    * an empty filter selects every query. */
  def select(filters: Seq[String]): Seq[(String, (SparkSession, String) => DataFrame)] =
    queries.toSeq.filter { case (n, _) => filters.isEmpty || filters.exists(n.contains) }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops
    * (driver records a weaker rows-only check; ScalaTest covers them). */
  def oracleSql: Map[String, String] =
    ListMap(all.flatMap(q => q.oracle.map(o => q.name -> o.replaceAll("\\s+", " ").trim)): _*)
}
