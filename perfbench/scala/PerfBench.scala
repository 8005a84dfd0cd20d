package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable

import graft.SparkEntry
import graft.etl.{Export, ExportConfig}
import graft.sources.{DocStore, DocStoreMaintenance, ParquetDirSource, TableSource}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** JVM side of the benchmark. `perfbench/run.py` starts it once per run:
  *
  * {{{
  *   PerfBench --workload export|corpus_prep|docstore_ingest
  *             --data D --work W --seconds S --trace 0|1 --spawn-ms T
  * }}}
  *
  * It builds the session (set-up is timed from `--spawn-ms`, the
  * moment run.py started the JVM), then runs closed-loop passes of the workload, one client and no think time,
  * until `--seconds` have passed (at least [[MinWarm]] warm passes after
  * the cold one; five when traced), and writes every timing, op answer and trace record
  * to `W/result.json`; run.py computes the metrics and checks answers. */
object PerfBench {
  val Slots = 4
  val MinWarm = 2
  val MaxPasses = 400

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val work = new File(opts("work")).getAbsoluteFile
    val spark = session(work)
    val setupS = (System.currentTimeMillis() - opts("spawn-ms").toLong) / 1e3
    val out = mutable.LinkedHashMap[String, Any]("setup_s" -> setupS)
    var code = 1
    try {
      val rec = new Recorder(spark, opts("trace") == "1")
      val data = new File(opts("data")).getAbsolutePath
      val wl: Workload = opts("workload") match {
        case "export" => new ExportWorkload(spark, data, work, rec)
        case "corpus_prep" | "corpus_prep_fixture" => new CorpusWorkload(spark, data, work, rec)
        case "docstore_ingest" => new DocstoreWorkload(spark, data, work, rec)
      }
      val deadline = System.nanoTime() + (opts("seconds").toDouble * 1e9).toLong
      val minWarm = if (rec.traceRun) 2 * MinWarm + 1 else MinWarm
      var p = 0
      while (p < MaxPasses && (p <= minWarm || System.nanoTime() < deadline)) {
        resetBetweenPasses(spark, wl)
        // traced runs trace the cold pass, run pass 1 untraced as extra
        // warm-up (run.py leaves it out), then trace in the order traced,
        // untraced, untraced, traced, ... so warm-up drift does not bias
        // the overhead estimate
        rec.beginPass(p, traced = rec.traceRun && (p == 0 || (p >= 2 && (p - 2) % 4 % 3 == 0)))
        wl.pass(p)
        rec.endPass()
        p += 1
      }
      out ++= rec.result
      out("extra") = wl.extra
      out("peak_rss_mb") = peakRssMb
      Files.write(new File(work, "result.json").toPath, Json(out.toMap).getBytes(UTF_8))
      code = 0
    } catch {
      case e: Throwable => e.printStackTrace()
    } finally {
      // every output lives in the work dir, which run.py deletes: skip
      // the orderly shutdown
      System.out.flush()
      System.err.flush()
      Runtime.getRuntime.halt(code)
    }
  }

  /** Fixed slot count, UTC, AQE, the engine's extensions installed at
    * build time, and every scratch path inside the run's work dir. */
  def session(work: File): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Slots]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Slots.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.cteRecursionRowLimit", "100000000")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.sql.catalog.bench", "graft.sources.DocStoreCatalog")
      .config("spark.sql.catalog.bench.root", new File(work, "stores").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Outside the timed region: drop caches and the previous pass's
    * outputs, then ask for a full GC. */
  def resetBetweenPasses(spark: SparkSession, wl: Workload): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    wl.outputs.foreach(rmTree)
    System.gc()
  }

  def rmTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree))
    f.delete(): Unit
  }

  def listTree(f: File): Seq[File] =
    f +: Option(f.listFiles()).toSeq.flatten.flatMap(listTree)

  def treeBytes(f: File, keep: File => Boolean = _ => true): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(treeBytes(_, keep)).sum
    else if (f.isFile && keep(f)) f.length
    else 0L

  def isData(f: File): Boolean = f.getName.endsWith(".parquet") && !f.getName.startsWith(".")

  private def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  /** Sorted-result fingerprint: sha256 over the sorted row strings. */
  def fingerprint(rows: Seq[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.mkString("\u0001")).sorted.foreach(r => md.update((r + "\n").getBytes(UTF_8)))
    md.digest().map("%02x".format(_)).mkString
  }

  def readJson(f: File): Map[String, Any] =
    org.json4s.jackson.JsonMethods.parse(new String(Files.readAllBytes(f.toPath), UTF_8))
      .values.asInstanceOf[Map[String, Any]]
}

/** Minimal JSON encoder for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case other => apply(other.toString)
  }
}

/** Timed regions, op records and the tracer of one run. Pass time and
  * process CPU accumulate only inside [[timed]]; checks run outside. */
final class Recorder(spark: SparkSession, val traceRun: Boolean) {
  val tracer = new Tracer(spark)
  private val cpuBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var pass = 0
  private var wallNs, cpuNs = 0L

  def beginPass(p: Int, traced: Boolean): Unit = {
    pass = p
    wallNs = 0L
    cpuNs = 0L
    tracer.beginPass(p, traced)
  }

  def endPass(): Unit = {
    tracer.endOp()
    passes += Map("pass" -> pass, "traced" -> tracer.isEnabled, "wall_s" -> wallNs / 1e9, "cpu_s" -> cpuNs / 1e9)
  }

  def timed[T](body: => T): T = {
    val w0 = System.nanoTime()
    val c0 = cpuBean.getProcessCpuTime
    try body finally {
      wallNs += System.nanoTime() - w0
      cpuNs += cpuBean.getProcessCpuTime - c0
    }
  }

  /** One op: runs `body`, records its latency and answer (or its
    * failure), never throws. `kind` is write or read for client calls,
    * readback or check for the untimed output checks. */
  def op(name: String, kind: String)(body: => Map[String, Any]): Unit = {
    tracer.switchOp(s"$kind:$name")
    val t0 = System.nanoTime()
    val res = try Right(body) catch { case e: Exception => Left(e) }
    record(name, kind, (System.nanoTime() - t0) / 1e9, res)
    tracer.endOp()
  }

  def record(name: String, kind: String, secs: Double, res: Either[Throwable, Map[String, Any]]): Unit = {
    val base = Map("pass" -> pass, "name" -> name, "kind" -> kind, "secs" -> secs)
    System.err.println(f"[perfbench] pass $pass $kind:$name $secs%.3f s ${if (res.isLeft) "FAILED" else "ok"}")
    ops += (res match {
      case Right(a) => base ++ Map("ok" -> true, "answer" -> a)
      case Left(e) => base ++ Map("ok" -> false, "error" -> s"${e.getClass.getName}: ${e.getMessage}".take(2000))
    })
  }

  def result: Map[String, Any] = {
    val r = Map[String, Any]("passes" -> passes.toSeq, "ops" -> ops.toSeq)
    if (traceRun) r ++ Map("trace" -> tracer.dump) else r
  }
}

trait Workload {
  /** Directories the next pass must find empty. */
  def outputs: Seq[File]
  def pass(p: Int): Unit
  /** Per-pass output sizes and counts, for the metrics run.py derives. */
  def extra: Map[String, Any]
}

/** The reference's whole job: config → Export.run over ParquetDirSource
  * → partitioned zstd Parquet. A thin source wrapper marks where each
  * table starts, which gives each table's commit latency (and, traced,
  * the spans) without changing Export.run's own loop. */
final class ExportWorkload(spark: SparkSession, data: String, work: File, rec: Recorder) extends Workload {
  private val out = new File(work, "export-out")
  private val truth = PerfBench.readJson(new File(data, "truth.json"))
  private val cfgMap: Map[String, Any] = truth("config").asInstanceOf[Map[String, Any]] ++ Map(
    "input_dir" -> s"$data/in", "output_dir" -> out.getPath, "compression" -> "zstd")
  private val stats = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val tr = rec.tracer

  def outputs: Seq[File] = Seq(out)

  private final class MarkedSource(inner: TableSource, cfg: ExportConfig) extends TableSource {
    var current: Option[(String, Long, Int)] = None
    val latency = mutable.LinkedHashMap.empty[String, Double]
    def finish(): Unit = current.foreach { case (t, t0, span) =>
      tr.closeSpan(span)
      latency(t) = (System.nanoTime() - t0) / 1e9
      current = None
    }
    override def read(spark: SparkSession, table: String): DataFrame = {
      finish()
      tr.switchOp(s"write:$table")
      current = Some((table, System.nanoTime(), tr.openSpan("etl.exportTable")))
      val df = tr.span("sources.read")(inner.read(spark, table))
      if (tr.isEnabled) tr.span("etl.transform") {
        val (a, b) = cfg.rangeFor(table)
        Export.transform(df, cfg.dateColumns(table), a, b)
      }
      df
    }
    override def list(spark: SparkSession): Seq[String] = inner.list(spark)
  }

  def pass(p: Int): Unit = {
    var src: MarkedSource = null
    val results = rec.timed {
      tr.switchOp("config")
      val cfg = tr.span("etl.config")(ExportConfig.fromMap(cfgMap))
      src = new MarkedSource(ParquetDirSource(cfg.inputDir), cfg)
      try Export.run(spark, cfg, src) finally src.finish()
    }
    tr.endOp()
    val rows = results.collect { case Right(r) => r.table -> r.rows }.toMap
    val errors = results.collect { case Left((t, e)) => t -> e.toString }.toMap
    (rows.keySet ++ errors.keySet).toSeq.sorted.foreach { t =>
      rec.record(t, "write", src.latency.getOrElse(t, 0.0),
        rows.get(t).map(n => Map[String, Any]("rows" -> n)).toRight(new IllegalStateException(errors(t))))
    }
    // re-read every exported table outside the timed region: rows per
    // partition value, which the checker compares with the truth
    rows.keys.toSeq.sorted.foreach { t =>
      rec.op(t, "readback") {
        val parts = spark.read.parquet(s"${out.getPath}/$t")
          .groupBy(col("part_year").cast("string")).count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        Map("partitions" -> parts)
      }
    }
    val files = PerfBench.listTree(out)
    stats += Map(
      "pass" -> p,
      "out_bytes" -> PerfBench.treeBytes(out),
      "data_bytes" -> PerfBench.treeBytes(out, PerfBench.isData),
      "files_out" -> files.count(PerfBench.isData),
      "partitions_out" -> files.count(f => f.isDirectory && f.getName.startsWith("part_year=")),
      "rows_out" -> rows.values.sum)
  }

  def extra: Map[String, Any] = Map("passes" -> stats.toSeq)
}

/** The LLM corpus-prep mix: registered queries over the generated
  * documents/embeddings, each forced by a full-output Parquet sink. */
final class CorpusWorkload(spark: SparkSession, data: String, work: File, rec: Recorder) extends Workload {
  val queries = Seq(
    "dedup_exact_key", "dedup_minhash_lsh", "dedup_ngram_jaccard", "text_bm25_search",
    "sim_topk_cosine", "pipeline_canonical_dedup")
  private val out = new File(work, "corpus-out")
  private val in = s"$data/in"
  private val tr = rec.tracer
  private val stats = mutable.ArrayBuffer.empty[Map[String, Any]]

  def outputs: Seq[File] = Seq(out)

  private val registered = SparkEntry.queries

  def pass(p: Int): Unit = {
    if (tr.isEnabled) {
      // the source build each query does internally, timed on its own
      tr.switchOp("sources")
      tr.span("sources.read") {
        Seq("documents", "embeddings").foreach(ParquetDirSource(in, Set("ts")).read(spark, _))
      }
    }
    queries.foreach { q =>
      val fn = registered(q)
      val sink = s"${out.getPath}/$q"
      rec.op(q, "write") {
        rec.timed {
          tr.switchOp(s"build:$q")
          val df = tr.span("ops.build")(fn(spark, in))
          tr.switchOp(s"exec:$q")
          tr.span("ops.exec")(df.write.mode("overwrite").parquet(sink))
        }
        Map.empty
      }
      rec.op(q, "readback") {
        val rows = spark.read.parquet(sink).collect().toSeq
        val answer = Map[String, Any]("rows" -> rows.size, "fingerprint" -> PerfBench.fingerprint(rows))
        q match {
          case "dedup_exact_key" =>
            answer + ("result" -> rows.map(r => Seq(r.getAs[String]("lang"), r.getAs[String]("source"),
              r.getAs[Long]("doc_id"), r.getAs[Long]("n_chars"))))
          case "sim_topk_cosine" =>
            answer + ("result" -> rows.map(r => Seq(r.getAs[Long]("vec_id"), r.getAs[Double]("cos_sim"))))
          case "pipeline_canonical_dedup" =>
            answer + ("result" -> rows.map(r => Seq(r.getAs[Long]("doc_id"), r.getAs[Long]("component"))))
          case "dedup_ngram_jaccard" =>
            answer + ("result" -> rows.filter(_.getAs[Double]("jaccard") == 1.0)
              .map(r => Seq(r.getAs[Long]("d1"), r.getAs[Long]("d2"))))
          case _ => answer
        }
      }
    }
    stats += Map("pass" -> p, "out_bytes" -> PerfBench.treeBytes(out),
      "data_bytes" -> PerfBench.treeBytes(out, PerfBench.isData))
  }

  def extra: Map[String, Any] = Map("passes" -> stats.toSeq)
}

/** Small commits beside selective reads on one merge-on-read docstore
  * table: bulk load, then per batch an append, a MERGE INTO and a
  * DELETE FROM, each followed by reads; compaction every k batches.
  * Every commit is synchronous (the call returns after the snapshot
  * commit). */
final class DocstoreWorkload(spark: SparkSession, data: String, work: File, rec: Recorder) extends Workload {
  private val truth = PerfBench.readJson(new File(data, "truth.json"))
  private val batches = truth("batches").asInstanceOf[List[Map[String, Any]]]
  private val compactEvery = truth("compact_every").toString.toInt
  private val root = new File(work, "stores")
  private val in = s"$data/in"
  private val tr = rec.tracer
  private val stats = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val deleteKeys: Seq[String] = batches.indices.map { b =>
    spark.read.parquet(s"$in/b${b}_delete.parquet").collect().map(_.getLong(0)).mkString(",")
  }

  def outputs: Seq[File] = Seq(root)

  private def num(v: Any): Long = v.toString.toDouble.toLong

  def pass(p: Int): Unit = {
    val table = s"bench.db.docs_p$p"
    val path = new File(root, s"db/docs_p$p")
    def write(name: String)(body: => Unit): Unit =
      rec.op(name, "write") {
        rec.timed(tr.span("docstore.write")(body))
        Map.empty
      }
    def read(name: String)(body: DataFrame => Map[String, Any]): Unit =
      rec.op(name, "read")(rec.timed {
        val df = tr.span("sources.read")(spark.table(table))
        tr.span("docstore.read")(body(df))
      })
    var rewritten = Seq.empty[(Int, Long)]
    rec.timed {
      tr.switchOp("create")
      spark.sql("CREATE NAMESPACE IF NOT EXISTS bench.db")
      spark.sql(s"""CREATE TABLE $table (doc_key BIGINT, body STRING, score DOUBLE, ver INT,
        updated_at TIMESTAMP, p_half INT) USING docstore PARTITIONED BY (p_half)
        TBLPROPERTIES ('rowlevel'='mor')""")
    }
    write("bulk") {
      spark.read.parquet(s"$in/initial.parquet").writeTo(table).option("bloomFor", "doc_key").append()
    }
    batches.zipWithIndex.foreach { case (b, i) =>
      write("insert") {
        spark.read.parquet(s"$in/b${i}_insert.parquet").writeTo(table).option("bloomFor", "doc_key").append()
      }
      write("merge") {
        spark.read.parquet(s"$in/b${i}_update.parquet").createOrReplaceTempView("bench_updates")
        spark.sql(s"""MERGE INTO $table t USING bench_updates s ON t.doc_key = s.doc_key
          WHEN MATCHED THEN UPDATE SET score = s.score, ver = t.ver + 1""")
      }
      write("delete") {
        spark.sql(s"DELETE FROM $table WHERE doc_key IN (${deleteKeys(i)})")
      }
      val filesLive = if (tr.isEnabled) liveFiles(path).size else 0
      read("point") { df =>
        val rows = df.filter(col("doc_key") === num(b("point_key")))
          .select("doc_key", "ver").collect()
        Map("rows" -> rows.map(r => Seq(r.getLong(0), r.getInt(1))).toSeq, "matched" -> rows.length,
          "files_live" -> filesLive)
      }
      read("range") { df =>
        val Seq(lo, hi) = b("range").asInstanceOf[List[Any]].map(num)
        val r = df.filter(col("p_half").between(lo, hi))
          .agg(count(lit(1)), coalesce(sum("doc_key"), lit(0L))).head
        Map("count" -> r.getLong(0), "key_sum" -> r.getLong(1), "matched" -> r.getLong(0),
          "files_live" -> filesLive)
      }
      read("count") { df =>
        val n = df.agg(count(lit(1))).head.getLong(0)
        Map("count" -> n, "matched" -> n, "files_live" -> filesLive)
      }
      rec.op(s"batch$i", "check") {
        val r = spark.table(table).agg(count(lit(1)), coalesce(sum(col("doc_key") * col("ver")), lit(0L))).head
        Map("batch" -> i, "live_count" -> r.getLong(0), "checksum" -> r.getLong(1))
      }
      if ((i + 1) % compactEvery == 0) {
        val before = if (tr.isEnabled) liveFiles(path) else Nil
        write("compact") {
          tr.span("docstore.compact")(DocStoreMaintenance.compact(spark, path.getPath))
        }
        if (tr.isEnabled) {
          val after = liveFiles(path).map(_._1).toSet
          rewritten = rewritten :+ (i -> before.filterNot(f => after(f._1)).map(_._2).sum)
        }
      }
    }
    val files = liveFiles(path)
    val rows = files.map(f => DocStore.footerBlocks(f._1).map(_.getRowCount).sum).sum
    val liveRows = spark.table(table).count()
    val liveBytes = if (rows == 0) 0.0 else files.map(_._2).sum.toDouble * liveRows / rows
    stats += Map(
      "pass" -> p,
      "stored_bytes" -> PerfBench.treeBytes(path),
      "live_bytes" -> liveBytes,
      "files_live" -> files.size,
      "dv_files_live" -> DocStore.dvMap(path.getPath, None).size,
      "compact_bytes_rewritten" -> rewritten.map(_._2).sum)
  }

  /** (absolute path, bytes) of the data files the current snapshot reads. */
  private def liveFiles(path: File): Seq[(String, Long)] =
    DocStore.listFilesWithPartitions(path.getPath).map { case (f, _) =>
      val local = new java.net.URI(f).getPath
      val abs = if (new File(local).isAbsolute) local else new File(path, local).getPath
      abs -> new File(abs).length
    }

  def extra: Map[String, Any] = Map("passes" -> stats.toSeq)
}
