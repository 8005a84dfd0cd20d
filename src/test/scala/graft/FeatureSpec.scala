package graft

import org.apache.spark.sql.functions._

/** Feature-engineering invariants (ops.Features). */
class FeatureSpec extends SparkSpec {

  private def q(name: String) =
    SparkEntry.queries(name)(spark, sfDir)

  test("sketch_countmin: never underestimates, and exact where no collision") {
    val out = q("sketch_countmin").cache()
    // The defining count-min property: estimate >= true count, always.
    assert(out.filter(col("cm_est") < col("exact_n")).count() === 0)
    // w=16 over a 31-token vocabulary forces collisions: some
    // overestimate must exist, or the sketch degenerated to exact.
    assert(out.filter(col("cm_est") > col("exact_n")).count() > 0)
    out.unpersist()
  }

  test("feat_standardize: z-scores center per brand, minmax bounded to [0,1]") {
    val out = q("feat_standardize").cache()
    val drift = out.groupBy("p_brand").agg(avg("z").as("mz"))
      .filter(abs(col("mz")) > 1e-4).count()
    assert(drift === 0, "per-brand z mean must be ~0")
    assert(out.filter(col("minmax") < 0 || col("minmax") > 1).count() === 0)
    out.unpersist()
  }

  test("feat_hash_bucket: buckets land in [0, 32) and docs keep their token mass") {
    val out = q("feat_hash_bucket").cache()
    assert(out.filter(col("bucket") < 0 || col("bucket") >= 32).count() === 0)
    // Sum of bucket counts per doc == token count of the doc: hashing
    // redistributes, never drops.
    val toks = Tables.t(spark, sfDir, "documents")
      .filter(col("doc_id") < 50)
      .select(col("doc_id"), size(split(col("text"), " ")).as("n_tok"))
    val bad = out.groupBy("doc_id").agg(sum("n").as("n_hashed"))
      .join(toks, "doc_id")
      .filter(col("n_hashed") =!= col("n_tok"))
    assert(bad.count() === 0)
    out.unpersist()
  }

  test("feat_target_encode: encoding shrinks the raw mean toward the prior") {
    val out = q("feat_target_encode").collect()
    val prior = out.head.getAs[Double]("prior")
    assert(out.forall(_.getAs[Double]("prior") === prior), "prior is global, one value")
    val raw = Tables.t(spark, sfDir, "documents")
      .groupBy("source").agg((sum("n_chars") / count(lit(1))).as("mu"))
      .collect().map(r => r.getString(0) -> r.getAs[Double]("mu")).toMap
    for (r <- out) {
      val (lo, hi) = (math.min(raw(r.getString(0)), prior), math.max(raw(r.getString(0)), prior))
      val enc = r.getAs[Double]("encoded")
      // m-estimate is a convex combination of raw mean and prior
      assert(enc >= lo - 1e-6 && enc <= hi + 1e-6,
        s"${r.getString(0)}: encoded $enc outside [$lo, $hi]")
    }
  }

  test("sample_mixture_weighted: per-language acceptance tracks the target mix") {
    val out = q("sample_mixture_weighted").cache()
    val totals = Tables.t(spark, sfDir, "documents")
      .groupBy("lang").agg(count(lit(1)).as("n_all"))
    val targets = Map("en" -> 0.9, "de" -> 0.5, "es" -> 0.25, "fr" -> 0.1, "zh" -> 0.05)
    val got = out.groupBy("lang").agg(count(lit(1)).as("n_kept"))
      .join(totals, "lang")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1).toDouble / r.getLong(2), r.getLong(2))).toMap
    for ((lang, (rate, nAll)) <- got) {
      // Binomial-ish tolerance: 3 sigma at the observed group size.
      val p = targets(lang)
      val tol = 3 * math.sqrt(p * (1 - p) / nAll) + 0.02
      assert(math.abs(rate - p) <= tol,
        s"$lang acceptance $rate vs target $p (tol $tol, n=$nAll)")
    }
    // Deterministic: the same sample comes back on a re-run.
    assert(out.count() === q("sample_mixture_weighted").count())
    out.unpersist()
  }

  test("text_unigram_logprob: scores positive, rare-token docs score higher") {
    val out = q("text_unigram_logprob").cache()
    assert(out.filter(col("bits_per_token") <= 0).count() === 0)
    // The corpus vocabulary is non-uniform, so scores must spread.
    val mm = out.agg(min("bits_per_token"), max("bits_per_token")).head()
    assert(mm.getDouble(1) > mm.getDouble(0))
    // Every doc is scored exactly once.
    assert(out.count() ===
      Tables.t(spark, sfDir, "documents").select("doc_id").distinct().count())
    out.unpersist()
  }

  test("feat_onehot: exactly one indicator set per row, matching lang") {
    val out = q("feat_onehot")
    val bad = out.filter(
      col("lang_de") + col("lang_en") + col("lang_es") +
        col("lang_fr") + col("lang_zh") =!= 1)
    assert(bad.count() === 0)
  }

  test("agg_mode: one deterministic winner per size, count is the max") {
    val out = q("agg_mode").cache()
    val dup = out.groupBy("p_size").count().filter(col("count") > 1)
    assert(dup.count() === 0)
    // The winner's count must be the per-size max.
    val counts = Tables.t(spark, sfDir, "part")
      .groupBy("p_size", "p_brand").agg(count(lit(1)).as("n"))
    val mx = counts.groupBy("p_size").agg(max("n").as("mx"))
    val bad = out.join(mx, "p_size").filter(col("n_rows") =!= col("mx"))
    assert(bad.count() === 0)
    out.unpersist()
  }

  test("agg_kll_quantiles: estimates inside the k=200 rank-error bound of exact") {
    val out = q("agg_kll_quantiles").cache()
    // Exact quantiles at rank ± 3.5% (published KLL eps at k=200 is
    // ~1.65%; double it for slack — the check must pin correctness,
    // not flake on sketch randomness).
    val li = Tables.t(spark, sfDir, "lineitem")
    for ((p, colName) <- Seq((0.5, "p50"), (0.9, "p90"), (0.99, "p99"))) {
      val bounds = li.agg(
        expr(s"percentile(l_extendedprice, ${math.max(0.0, p - 0.035)})").as("lo"),
        expr(s"percentile(l_extendedprice, ${math.min(1.0, p + 0.035)})").as("hi"))
        .head()
      val est = out.filter(col("l_returnflag") === "ALL")
        .head().getAs[Double](colName)
      assert(est >= bounds.getDouble(0) && est <= bounds.getDouble(1),
        s"$colName=$est outside exact-rank window [${bounds.getDouble(0)}, ${bounds.getDouble(1)}]")
    }
    // Per-group rows present alongside the roll-up.
    assert(out.count() === li.select("l_returnflag").distinct().count() + 1)
    out.unpersist()
  }

  test("agg_theta_sketch: set algebra internally consistent and exact at fixture scale") {
    val r = q("agg_theta_sketch").head()
    val (nClick, nView, nBoth, nClickOnly, nEither) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    // Partition identity: A = (A∩B) ⊎ (A∖B).
    assert(nClick === nBoth + nClickOnly)
    // Inclusion-exclusion: |A∪B| = |A| + |B| − |A∩B|.
    assert(nEither === nClick + nView - nBoth)
    // Exact regime below nominal entries: equals true distinct counts.
    val ev = Tables.t(spark, sfDir, "events")
    def exact(t: String) = ev.filter(col("event_type") === t)
      .select("user_id").distinct().count()
    assert(nClick === exact("click"))
    assert(nView === exact("view"))
  }

  test("theta sketch: estimating regime (above nominal entries) stays within bounds") {
    import graft.expr.ThetaSketch
    import org.apache.spark.sql.graftshim.CatalystBridge
    import org.apache.spark.sql.catalyst.expressions.Literal
    // 50k distinct keys through a k=256 sketch: RSE ≈ 1/√256 = 6.25%;
    // assert within 4σ so the randomized compaction cannot flake.
    val n = 50000L
    val agg = CatalystBridge.column(
      graft.expr.ThetaSketchAgg(
        CatalystBridge.expression(col("id")), nominal = 256)
        .toAggregateExpression())
    val est = spark.range(n).agg(ThetaSketch.estimate(agg).as("est"))
      .head().getDouble(0)
    assert(math.abs(est - n) / n < 0.25, s"estimate $est vs $n")
  }

  test("theta functions: SQL surface registered via GraftExtensions") {
    Tables.t(spark, sfDir, "events").createOrReplaceTempView("ev_theta")
    val r = spark.sql(
      """SELECT CAST(round(theta_estimate(theta_intersect(a.sk, b.sk))) AS BIGINT) AS n_both
         FROM (SELECT theta_sketch_agg(user_id) AS sk FROM ev_theta WHERE event_type = 'click') a,
              (SELECT theta_sketch_agg(user_id) AS sk FROM ev_theta WHERE event_type = 'view') b""")
      .head().getLong(0)
    assert(r === q("agg_theta_sketch").head().getLong(2))
  }

  test("kll functions: SQL surface registered via GraftExtensions") {
    Tables.t(spark, sfDir, "lineitem").createOrReplaceTempView("li_kll")
    val est = spark.sql(
      """SELECT kll_quantile(
           kll_merge_agg(sk), CAST(0.5 AS DOUBLE)) AS p50
         FROM (SELECT kll_sketch_agg(CAST(l_extendedprice AS DOUBLE), 200) AS sk
               FROM li_kll GROUP BY l_returnflag)""").head().getDouble(0)
    val Array(lo, hi) = Tables.t(spark, sfDir, "lineitem")
      .agg(expr("percentile(l_extendedprice, 0.465)"),
        expr("percentile(l_extendedprice, 0.535)"))
      .head() match { case r => Array(r.getDouble(0), r.getDouble(1)) }
    assert(est >= lo && est <= hi, s"SQL-path p50=$est outside [$lo, $hi]")
  }

  test("feat_quantile_bins: deciles partition each priority, sizes within 1") {
    val out = q("feat_quantile_bins").cache()
    assert(out.groupBy("o_orderpriority").count()
      .filter(col("count") =!= 10).count() === 0)
    // ntile balance: bin sizes differ by at most 1 within a priority.
    val spread = out.groupBy("o_orderpriority")
      .agg((max("n") - min("n")).as("d")).filter(col("d") > 1)
    assert(spread.count() === 0)
    // Bin edges are monotone: lo of decile k+1 >= hi of decile k.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_orderpriority").orderBy("decile")
    val edges = out.withColumn("prev_hi", lag("hi", 1).over(w))
      .filter(col("prev_hi").isNotNull && col("lo") < col("prev_hi"))
    assert(edges.count() === 0)
    out.unpersist()
  }
}
