package graft

/** Dev tool: `runMain graft.Explain <sfDir> [substrings] [n]`. For each
  * query whose name contains one of the comma-separated substrings
  * (default: every query) it prints the formatted physical plan, one
  * `[<name>] plan:` line of operator counts in that plan, and the time
  * of n count() runs (default 3; first = cold, rest = warm; 0 = plan
  * only). The count lines of two checkouts diff to a plan-shape change. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val filters = args.lift(1).toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
    val n = args.lift(2).fold(3)(_.toInt)
    val spark = Session.build()
    SparkEntry.select(filters).foreach { case (name, fn) =>
      val df = fn(spark, sfDir)
      println(s"===== $name =====")
      df.explain("formatted")
      println(s"[$name] plan: ${shape(df.queryExecution.executedPlan.toString)}")
      (1 to n).foreach { i =>
        val t0 = System.nanoTime()
        val c = df.count()
        println(f"[$name] run $i: ${(System.nanoTime() - t0) / 1e9}%.2fs rows=$c")
      }
    }
    spark.stop()
  }

  /** Occurrences, in a physical plan's text, of: exchanges (shuffle,
    * broadcast and reused), reused exchanges, broadcast-hash, sort-merge
    * and nested-loop joins, windows, scans, and BandJoinRule's bucket
    * column. Before execution an adaptive plan shows its initial form. */
  def shape(plan: String): String = Seq(
      "exch" -> "Exchange ", "reuse" -> "ReusedExchange",
      "bhj" -> "BroadcastHashJoin", "smj" -> "SortMergeJoin",
      "nlj" -> "NestedLoop", "win" -> "Window ", "scans" -> "Scan ",
      "band" -> "__band_bucket")
    .map { case (k, s) => s"$k=${plan.split(java.util.regex.Pattern.quote(s), -1).length - 1}" }
    .mkString(" ")
}
