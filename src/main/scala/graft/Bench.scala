package graft

import org.apache.spark.sql.SparkSession

/** Bench runner (driver contract): per-query wall seconds over all
  * declared queries at SPARK_GRAFT_SF_DIR, one JSON line to stdout.
  * A single untimed warmup query first hydrates the JVM (codegen,
  * parquet reader, shuffle machinery) so per-query numbers measure the
  * queries, not first-job infrastructure spin-up. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.build()
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    // Steady-state measurement: best of two runs per query. This VM
    // shows sporadic multi-second stalls unrelated to the plans (same
    // query 1.7s vs 27s across runs); min-of-2 reports the engine, not
    // the noise.
    // Local-iteration filter (builder only; the driver sets no filter →
    // full run): comma/space-separated name substrings.
    val selected = SparkEntry.select(sys.env.get("SPARK_GRAFT_BENCH_FILTER")
      .map(_.split("[,\\s]+").filter(_.nonEmpty).toSeq).getOrElse(Nil))
    def once(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 } catch {
        case e: Throwable =>
          // a failed query must be visible, not a plausible timing
          System.err.println(s"[bench] $name FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
          Double.NaN
      }
    }
    // The iterative builders (components, PCA, BPE, IVF/PQ) leave
    // localCheckpoint blocks behind that only the async ContextCleaner
    // would reclaim; drop them eagerly so query N's storage pressure
    // never shows up in query N+1's time (r4 showed exactly that
    // cross-query contamination in the sim cluster).
    def cleanup(): Unit = {
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
    // Stall hardening, two-pass (r13 verdict #5, tightened per r14 #3):
    // min-of-2 has repeatedly manufactured phantom regressions when the
    // VM stalled through BOTH runs (r12 ngram 9.19 s, r13 markov
    // 8.13 s, r14 pretrain 16.6 s vs ~6.4 s real — the last slipped
    // through a 4× trigger AND back-to-back reruns sharing the stall
    // window). Trigger is now 2.5× the query's cross-round baseline
    // (BenchBaseline, min over recent rounds — stalls only inflate)
    // plus an absolute 1.5 s margin (sub-second queries never rerun on
    // noise); queries with no baseline yet rerun above an absolute 4 s
    // floor. Reruns are DEFERRED to a second pass after the whole
    // registry has run — minutes of temporal separation, so a
    // sustained stall window can't pollute both the measurement and
    // its retry. Runs-taken lands in the detail line.
    // SPARK_GRAFT_BENCH_RUNS=1: single-run mode for the full-registry
    // scale audits, where magnitude (is this superlinear?) matters
    // and halving a multi-hour sweep beats min-of-2 noise damping.
    // SPARK_GRAFT_BENCH_NO_RERUN disables the stall retries for runs
    // at a DIFFERENT scale factor than the baselines (the sf1 scale
    // audit would otherwise retry every query 4x against sf0.1 times)
    val singleRun = sys.env.get("SPARK_GRAFT_BENCH_RUNS").contains("1")
    val rerun = !sys.env.contains("SPARK_GRAFT_BENCH_NO_RERUN")
    // pass 1: the measurement sweep
    val firstPass = selected.map { case (name, fn) =>
      val a = once(name, fn)
      val b = if (singleRun) a else once(name, fn)
      cleanup()
      (name, fn, math.min(a, b), if (singleRun) 1 else 2, a.isNaN || b.isNaN)
    }
    // pass 2: temporally-separated reruns for the stall suspects only
    val results = firstPass.map { case (name, fn, best0, runs0, failed) =>
      var best = best0
      var runs = runs0
      while (rerun && !failed && stallSuspect(name, best, runs)) {
        val c = once(name, fn)
        if (!c.isNaN) best = math.min(best, c)
        runs += 1
        cleanup()
      }
      // -1 sentinel: a failed query must never read as a fast engine
      name -> ((if (failed) -1.0 else best), runs)
    }.toMap
    val runsTaken = results.collect { case (n, (_, r)) if r > 2 => n -> r }
    var times = results.map { case (n, (t, _)) => n -> t }
    // TOTAL-level machine-load guard (r16 verdict #4): the per-query
    // 2.5× stall trigger is blind to a UNIFORM ~15% load inflation —
    // every query lands under its own trigger, the official artifact
    // silently absorbs the machine. When the baselined subtotal runs
    // >1.15× its cross-round baseline sum, sweep the inflated HALF
    // (queries above their own baseline) once more, minutes after
    // their first runs, and report per-query minimums. Both totals
    // land in the detail JSON so a future reader sees the inflation
    // was detected and repaired, not absorbed.
    val fnByName = selected.toMap
    val baselined = times.toSeq.collect {
      case (n, t) if t >= 0 && BenchBaseline.seconds.contains(n) =>
        (n, t, BenchBaseline.seconds(n))
    }
    val totalFirst = times.values.filter(_ >= 0).sum
    val baseSum = baselined.map(_._3).sum
    val loadInflated = rerun && !singleRun && baselined.size >= 50 &&
      baselined.map(_._2).sum > 1.15 * baseSum
    if (loadInflated) {
      System.err.println(f"[bench] load guard: baselined subtotal " +
        f"${baselined.map(_._2).sum}%.1f s > 1.15x baseline $baseSum%.1f s " +
        "— re-sweeping queries above their own baseline")
      val redo = baselined.collect { case (n, t, b) if t > b => n }
      times = times ++ redo.flatMap { n =>
        fnByName.get(n).map { fn =>
          val c = once(n, fn)
          cleanup()
          n -> (if (c.isNaN) times(n) else math.min(times(n), c))
        }
      }
    }
    val ok = times.filter(_._2 >= 0)
    val failed = times.size - ok.size
    val total = ok.values.sum
    val qs = times.map { case (k, v) => "\"" + k + "\":" + f3(v) }
      .mkString("{", ",", "}")
    val rt = runsTaken.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // Two lines: the FULL per-query map first (for humans and BENCHLOG),
    // then the compact machine line LAST. The driver tail-captures
    // stdout with a bounded window — round 1 and 2 both lost the bench
    // signal because the single ~3.5 KB line had its FRONT truncated,
    // leaving unparseable JSON. The final line therefore carries only a
    // fixed headline subset and stays well under the capture window
    // (pinned by BenchLineSpec).
    println(s"""{"detail":"per_query","queries":$qs,"stall_reruns":$rt,""" +
      s""""total_first_pass":${f3(totalFirst)},"load_guard_tripped":$loadInflated}""")
    System.out.flush()
    println(machineLine(times, total, failed, sfDir))
    spark.stop()
  }

  private def f3(v: Double) = f"$v%.3f"

  /** Does this min-of-`runs` time look stall-polluted (rerun-worthy)?
    * True when it exceeds the query's cross-round baseline by 2.5×
    * AND by an absolute 1.5 s (so sub-second queries don't rerun on
    * noise); queries without a baseline rerun only above an absolute
    * 4 s floor. Capped at 4 total runs. The r14 4× trigger passed a
    * 2.6×-inflated pretrain number straight through; a real plan
    * regression under 2.5× is caught by the round-over-round diff
    * instead, and a rerun of a genuinely-slower query just confirms
    * its time. */
  private[graft] def stallSuspect(name: String, m: Double, runs: Int): Boolean = {
    if (m.isNaN || runs >= 4) return false
    BenchBaseline.seconds.get(name) match {
      case Some(base) => m > 2.5 * base && m > base + 1.5
      case None => m > 4.0
    }
  }

  /** Representative queries across every family: the compact machine
    * line reports these (plus total/failed/n_queries); the full map is
    * on the previous stdout line. */
  val headline: Seq[String] = Seq(
    "agg_q1", "sql_revenue_by_nation", "join_inner_chain",
    "join_asof_native", "join_range_band", "window_rank", "sort_topk",
    "dedup_exact_key", "dedup_minhash_lsh", "dedup_ngram_jaccard",
    "dedup_embedding_lsh", "sim_topk_cosine", "sim_ann_ivf",
    "text_tfidf", "text_bm25_search", "stream_session_gap",
    "etl_date_filter_derive", "graph_pagerank",
    "pipeline_canonical_dedup", "pipeline_semantic_dedup", "sim_pca_power",
    "pipeline_pretrain", "dedup_chunk_exact", "text_hybrid_rrf",
    // round-11 iterative heavies, surfaced for regression tracking
    "graph_mst_boruvka", "pipeline_bradley_terry",
    "analytics_markov_attribution", "ts_dtw")

  /** Final stdout line: complete JSON, bounded size (tail-capture-safe). */
  def machineLine(results: Map[String, Double], total: Double,
      failed: Int, sfDir: String): String = {
    val hq = headline.flatMap(n => results.get(n).map(v => "\"" + n + "\":" + f3(v)))
      .mkString("{", ",", "}")
    s"""{"metric":"total","value":${f3(total)},"unit":"sec","queries":$hq,"failed":$failed,"n_queries":${results.size},"sf":"$sfDir"}"""
  }
}
