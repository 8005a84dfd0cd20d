package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [nameSubstring...] — the optional filters
    // restrict the run to matching queries (local iteration only; the
    // driver always passes exactly two args → full run).
    val sfDir = args(0)
    val outDir = args(1)
    val selected = SparkEntry.select(args.drop(2).toSeq)
    val spark = Session.build()
    new java.io.File(outDir).mkdirs()
    // Queries are independent writes to distinct dirs — run them on a
    // small pool; Spark's scheduler interleaves the jobs.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val tasks = selected.map { case (name, fn) =>
      pool.submit(new Runnable {
        def run(): Unit = {
          val t0 = System.nanoTime()
          try {
            fn(spark, sfDir).coalesce(1).write.mode("overwrite")
              .parquet(s"$outDir/$name")
            System.err.println(f"[verify] $name ok in ${(System.nanoTime() - t0) / 1e9}%.1fs")
          } catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
          }
        }
      })
    }
    tasks.foreach(_.get())
    pool.shutdown()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Same selection as the parquet dumps: a filtered local run must be
    // self-consistent (oracle entries only for queries that have output).
    val names = selected.map(_._1).toSet
    val json = SparkEntry.oracleSql.filter(t => names(t._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
