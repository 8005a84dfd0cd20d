package graft

import graft.plans.BandJoinRule
import org.apache.spark.sql.functions._

/** BandJoinRule: plan rewrite fires (nested-loop → hash join), results
  * are identical, nulls stay excluded, ineligible shapes untouched. */
class BandJoinSpec extends SparkSpec {

  private def bandQuery() = {
    val p = spark.read.parquet(s"$sfDir/part.parquet")
    val su = spark.read.parquet(s"$sfDir/supplier.parquet")
    p.join(su, col("p_retailprice").between(col("s_acctbal") - 500, col("s_acctbal") + 500))
      .groupBy("s_suppkey")
      .agg(count(lit(1)).as("n_parts"), min("p_partkey").as("min_part"))
      .orderBy("s_suppkey")
  }

  private def withoutRule[T](f: => T): T =
    withConf("spark.sql.optimizer.excludedRules", BandJoinRule.ruleName)(f)

  test("rewrites pure band join to a bucketed equi-join with same results") {
    val (basePlan, expected) = withoutRule {
      val baseline = bandQuery()
      (baseline.queryExecution.executedPlan.toString, baseline.collect().toSeq)
    }
    assert(basePlan.contains("NestedLoop"), s"expected nested-loop baseline:\n$basePlan")

    val rewritten = bandQuery()
    val plan = rewritten.queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop"), s"rule did not fire:\n$plan")
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      s"expected an equi join:\n$plan")
    assert(rewritten.collect().toSeq == expected)
  }

  test("null band values never match, with and without the rule") {
    import spark.implicits._
    val l = Seq[(java.lang.Long, java.lang.Double)]((1L, 10.0), (2L, null), (3L, 55.0))
      .toDF("lid", "lv")
    val r = Seq[(java.lang.Long, java.lang.Double)]((10L, 12.0), (20L, null))
      .toDF("rid", "rv")
    def q() = l.join(r, col("lv").between(col("rv") - 5, col("rv") + 5))
      .select("lid", "rid").orderBy("lid", "rid")
    val expected = withoutRule(q().collect().toSeq)
    assert(expected.map(row => (row.getLong(0), row.getLong(1))) == Seq((1L, 10L)))
    assert(q().collect().toSeq == expected)
  }

  test("joins with an equi conjunct are left untouched") {
    val o = spark.read.parquet(s"$sfDir/orders.parquet")
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val j = li.join(o, col("l_orderkey") === col("o_orderkey") &&
      col("l_shipdate") >= col("o_orderdate"))
    assert(!j.queryExecution.optimizedPlan.toString.contains("__band_bucket"))
    assert(j.count() > 0)
  }

  test("asymmetric widths use the max (covers the wider side)") {
    import spark.implicits._
    val l = Seq(100.0, 149.0, 151.0, 200.0).toDF("lv")
    val r = Seq(100.0).toDF("rv")
    // lv >= rv - 60 AND lv <= rv + 50  ⇔  lv ∈ [40, 150]
    def q() = l.join(r, col("lv") >= col("rv") - 60 && col("lv") <= col("rv") + 50)
      .select("lv").orderBy("lv")
    val expected = withoutRule(q().collect().map(_.getDouble(0)).toSeq)
    assert(expected == Seq(100.0, 149.0))
    assert(q().collect().map(_.getDouble(0)).toSeq == expected)
  }
}
