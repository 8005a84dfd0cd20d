package graft

import org.apache.spark.sql.functions._

/** PageRank invariants (ops.Graph) + the new join/time-series queries. */
class GraphSpec extends SparkSpec {

  private def q(name: String) =
    SparkEntry.queries(name)(spark, sfDir)

  test("graph_jaccard_neighbors: scores are valid Jaccards over canonical pairs") {
    val out = q("graph_jaccard_neighbors").collect()
    assert(out.nonEmpty)
    for (r <- out) {
      val (u, v) = (r.getAs[Long]("u"), r.getAs[Long]("v"))
      val (common, du, dv) = (r.getAs[Long]("common"), r.getAs[Long]("du"), r.getAs[Long]("dv"))
      assert(u < v, "pairs are canonical u < v")
      assert(common >= 1 && common <= math.min(du, dv),
        s"($u,$v): common $common vs degrees $du/$dv")
      val j = r.getAs[Double]("jaccard")
      assert(j > 0.0 && j <= 1.0)
    }
  }

  test("graph_pagerank: probability mass conserved, all nodes present, ranks positive") {
    val out = q("graph_pagerank").cache()
    assert(out.count() === 25)
    val total = out.agg(sum("pagerank")).head.getDouble(0)
    // Damped + dangling-redistributed iteration conserves the mass.
    assert(math.abs(total - 1.0) < 1e-3, s"mass drifted: $total")
    assert(out.filter(col("pagerank") <= 0).count() === 0)
    // The graph is non-uniform: ranks must actually differentiate.
    assert(out.select("pagerank").distinct().count() > 5)
    out.unpersist()
  }

  test("join_interval_overlap: every pair genuinely overlaps and shares the key") {
    val out = q("join_interval_overlap")
    // Re-check the predicate row-by-row from the emitted columns.
    val bad = out.filter(
      !(col("a_start") <= date_add(col("b_start"), 14) &&
        col("b_start") <= date_add(col("a_start"), 14)))
    assert(bad.count() === 0)
    assert(out.count() > 0)
  }

  test("join_interval_overlap: plan is a keyed join, not a nested loop") {
    val plan = q("join_interval_overlap").queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoop"),
      "interval overlap must hash/merge on the customer key")
  }

  test("join_bloom_prefilter: equals the exact semi-join (false positives scrubbed)") {
    val dir = sfDir
    val o = Tables.t(spark, dir, "orders").filter(col("o_totalprice") > 400000)
      .select("o_orderkey")
    val li = Tables.t(spark, dir, "lineitem")
    val exact = li.join(o, col("l_orderkey") === col("o_orderkey"), "left_semi")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"))
      .orderBy("l_returnflag")
    val got = q("join_bloom_prefilter")
    assert(got.collect().toSeq === exact.collect().toSeq)
  }

  test("ts_ewma: closed form matches a sequential fold on one user") {
    val rows = Tables.t(spark, sfDir, "events")
      .filter(col("user_id") === 1)
      .groupBy(to_date(col("ts")).as("day")).agg(sum("value").as("x"))
      .orderBy("day").collect().map(_.getDouble(1))
    assert(rows.length > 1)
    // adjust=true EWMA: weighted sum with weights (1-α)^k, α=0.3.
    val decay = 0.7
    val n = rows.length
    val num = rows.zipWithIndex.map { case (x, i) => x * math.pow(decay, n - 1 - i) }.sum
    val den = (0 until n).map(i => math.pow(decay, i)).sum
    val expected = BigDecimal(num / den).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val got = q("ts_ewma").filter(col("user_id") === 1).head.getDouble(2)
    assert(math.abs(got - expected.toDouble) < 1e-6)
  }

  test("ts_anomaly_zscore: strictly causal — no flagged day uses its own value in the baseline") {
    val out = q("ts_anomaly_zscore")
    // |z| > 2 for every emitted row (the filter is part of the contract).
    assert(out.filter(abs(col("z")) <= 2).count() === 0)
  }

  test("triangleCounts: K4 has four triangles, three per corner; pendant edges none") {
    import spark.implicits._
    // K4 on {0,1,2,3} (6 canonical edges) plus a pendant edge 3-9.
    val und = Seq(
      (0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L), (2L, 3L),
      (3L, 9L)).toDF("a", "b")
    val got = ops.Graph.triangleCounts(und).orderBy("node").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // Each K4 corner sits in C(3,2) = 3 triangles; node 9 in none.
    assert(got.toSeq === Seq((0L, 3L), (1L, 3L), (2L, 3L), (3L, 3L)))
    // Total triangle count = Σ per-node / 3 = 4.
    assert(got.map(_._2).sum / 3 === 4)
  }

  test("a reliable-checkpoint cut observes once: dangling mass, ranks and signatures match the local cut") {
    import spark.implicits._
    // 5 nodes; node 4 has no out-edges, so every round has dangling mass
    val edges = Seq((0L, 1L, 0.5), (0L, 2L, 0.5), (1L, 2L, 1.0), (2L, 0L, 0.5),
      (2L, 3L, 0.5), (3L, 4L, 1.0)).toDF("src", "dst", "p")
    val n = 5
    def run(): (Seq[Double], Seq[(Long, Double)], (Long, Long)) = {
      val nodesF = (0L until n.toLong).toDF("id")
        .join(edges.select(col("src").as("id")).distinct()
          .withColumn("__o", lit(true)), Seq("id"), "left")
        .select(col("id"), coalesce(col("__o"), lit(false)).as("has_out"))
      var (ranks, dang) = ops.Graph.cutObservingDangling(
        nodesF.withColumn("rank", lit(1.0 / n)))
      val dangs = Seq.newBuilder[Double] += dang
      for (_ <- 1 to 3) {
        val contribs = ranks.join(edges, ranks("id") === edges("src"))
          .groupBy(col("dst").as("id")).agg(sum(col("rank") * col("p")).as("contrib"))
        val (nr, nd) = ops.Graph.cutObservingDangling(nodesF
          .join(contribs, Seq("id"), "left")
          .select(col("id"), col("has_out"),
            (lit(0.15 / n) + lit(0.85) *
              (coalesce(col("contrib"), lit(0.0)) + lit(dang / n))).as("rank")))
        ranks = nr
        dang = nd
        dangs += nd
      }
      val sig = ops.Dedup.sigCheckpoint(ranks.select("id"), Seq("id"))._2
      (dangs.result(), ranks.as[(Long, Boolean, Double)].collect().toSeq
        .map(r => (r._1, r._3)).sorted, sig)
    }
    val local = run()
    // Skew.cut seeds the context's checkpoint dir only when it is unset:
    // leave it as found, or later suites' reliable cuts write here
    val sc = spark.sparkContext
    val ckBefore = sc.getCheckpointDir
    val reliable =
      try withConf("graft.checkpoint.dir", tmpDir("graph_reliable_cut")) {
        val r = run()
        val ckDir = new org.apache.hadoop.fs.Path(sc.getCheckpointDir.get)
        assert(ckDir.getFileSystem(sc.hadoopConfiguration).listStatus(ckDir)
          .exists(_.getPath.getName.startsWith("rdd-")),
          s"the reliable run wrote no checkpoint under $ckDir")
        r
      } finally if (ckBefore.isEmpty) sc.setCheckpointDir(null)
    assert(math.abs(local._1.head - 1.0 / n) < 1e-12, s"round-0 dangling mass ${local._1}")
    assert(math.abs(local._2.map(_._2).sum - 1.0) < 1e-9, s"mass drifted: ${local._2}")
    assert(local._3._1 == n.toLong)
    assert(reliable._3 == local._3, s"signature: reliable ${reliable._3} vs local ${local._3}")
    local._1.zip(reliable._1).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-12, s"dangling mass: reliable ${reliable._1} vs local ${local._1}")
    }
    local._2.zip(reliable._2).foreach { case ((i, a), (j, b)) =>
      assert(i == j && math.abs(a - b) < 1e-12, s"ranks: reliable ${reliable._2} vs local ${local._2}")
    }
  }

}
