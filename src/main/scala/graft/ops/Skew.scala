package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Skew mitigation for hot join keys: salting. AQE's skew-join handling
  * (`spark.sql.adaptive.skewJoin.enabled`, on by default here) splits
  * oversized partitions at runtime for sort-merge joins; explicit
  * salting is the deterministic fallback when a handful of keys dominate
  * (the classic power-law user_id / null-key cases at 100 TB).
  *
  * Shape: the large side spreads each hot key over `salts` sub-keys via
  * a content hash; the smaller side replicates each row `salts` times.
  * Join runs on (key, salt) — the hot key's rows now land on `salts`
  * tasks instead of one. */
object Skew {

  /** Stage width for the global-rank / prefix-sum spines. A hardcoded
    * constant here would cap the ranking stage of every globalRank-based
    * query at that many tasks regardless of cluster size (~3 TB/task at
    * 100 TB on a 10k-core cluster), so the width tracks the cluster:
    * `defaultParallelism` (total executor cores in cluster mode, local
    * thread count on local[N]) with 32 as the local floor. Rank output
    * is partition-count-invariant — range boundaries only move rows
    * between ordered ranges, never change a row's global rank — so
    * results (and every DuckDB oracle) are identical at any width;
    * ScaleSpec pins that invariance at two explicit widths. */
  def spineParts(df: DataFrame): Int =
    math.max(32, df.sparkSession.sparkContext.defaultParallelism)

  /** Lineage cut for iterative operators (pagerank/components/IVF/PQ/PCA
    * rounds, multi-stage dedup): without it round k replans rounds
    * 1..k-1 and the plan grows quadratically. Two modes behind one
    * switch:
    *
    *  - default: eager `localCheckpoint` — blocks stored on executors,
    *    zero external storage, right for local / interactive runs;
    *  - `graft.checkpoint.dir` set (runtime conf): eager reliable
    *    `checkpoint` to that directory — survives executor loss, the
    *    durability a 1000-executor job needs (losing one executor
    *    mid-pagerank must not kill the query). The session's
    *    checkpoint dir is set on first use if unset.
    *
    * Either way the returned plan is a bare scan of the materialized
    * blocks — downstream plan shape is identical, so every oracle and
    * plan-lint result is mode-invariant (ScaleSpec pins this).
    *
    * Checkpoint hygiene: a SparkContext-level checkpoint dir that was
    * already set (by the operator of the cluster) is respected, never
    * overridden — `graft.checkpoint.dir` only seeds it when unset. With
    * ~75 iterative cut sites each materializing multiple rounds, a long
    * reliable-mode run accumulates RDD checkpoint data under that dir;
    * deploys should either start the session with
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true` (the
    * ContextCleaner then deletes each round's files once its RDD is
    * garbage-collected — a context-build-time conf, which
    * [[graft.Session]] sets) or point the dir at storage
    * with a TTL/lifecycle rule. Local default mode has neither
    * concern: localCheckpoint blocks die with the executors.
    *
    * The plan runs ONCE in either mode: an eager checkpoint of either
    * kind materializes through `RDD.doCheckpoint`, one job (Spark
    * 4.1), so an `observe` metric on `df` (PageRank's dangling mass,
    * the components loops' signatures, PCA's block vector) counts
    * each row once. GraphSpec pins this for both modes; a Spark whose
    * eager reliable checkpoint counts first and then writes would run
    * the plan twice and fail it. */
  def cut(df: DataFrame): DataFrame =
    df.sparkSession.conf.getOption("graft.checkpoint.dir") match {
      case Some(dir) if dir.nonEmpty =>
        val sc = df.sparkSession.sparkContext
        if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(dir)
        df.checkpoint(eager = true)
      case _ => df.localCheckpoint(eager = true)
    }

  /** CEILING on [[saltedJoinHot]]'s per-key salt fan-out when the caller
    * passes `salts = 0` (the default): a hot key never spreads wider
    * than the cluster has task slots (`defaultParallelism`; floor 8 so
    * toy-local runs still demonstrably spread). The ACTUAL width of each
    * hot key is derived from its observed skew — see [[saltedJoinHot]] —
    * so a barely-hot key at ~threshold df replicates ~8 ways while a
    * 10⁶×-threshold monster takes the full cluster. Results are
    * salt-count-invariant by construction (the join key set is
    * unchanged; salts only route rows), pinned by ScaleSpec at two
    * explicit widths, so tuning the fan-out can never change an oracle. */
  def adaptiveSalts(df: DataFrame): Int =
    math.max(8, df.sparkSession.sparkContext.defaultParallelism)

  /** Hot-key-only salting: blanket salting would replicate the whole
    * small side `salts`×, but in the power-law reality only a handful
    * of keys are hot. Single-pass formulation: each side gets a broadcast
    * hot-key fan-out; the big side salts hot rows (cold rows take salt
    * 0), the small side replicates ONLY hot rows across that key's
    * salts (cold rows take the one-element salt list) — then one
    * equi-join on (key, salt). No semi/anti split, no union, each input
    * read once. The hot-key set is exact (one aggregated pass over the
    * big side's keys, map-side combined, broadcast back); at extreme
    * scale the same set can come from a sample instead.
    *
    * Per-key fan-out ∝ observed skew: each hot key spreads
    * `clamp(df / hotThreshold, 8, salts|adaptiveSalts)` ways, computed
    * from the same `__df` histogram that detects hotness — zero extra
    * passes. A df-23 key at threshold 20 gets the 8-way floor (its
    * replication cost stays ~8 rows); a key a million times over
    * threshold takes every task slot. Replication cost is therefore
    * O(Σ_hot min(df_k/threshold, cluster)) tiny rows — proportional to
    * the skew actually present, never a flat cluster-width copy.
    * Results are identical to `big.join(small, key)` for any threshold
    * and any width (salts route rows, never change them; ScaleSpec pins
    * this at two explicit widths). */
  def saltedJoinHot(
      big: DataFrame,
      small: DataFrame,
      key: String,
      spreadBy: Column,
      salts: Int = 0,
      hotThreshold: Long = 1000000L): DataFrame = {
    val nMax = (if (salts > 0) salts else adaptiveSalts(big)).toLong
    val hot = big.groupBy(key).agg(count(lit(1)).as("__df"))
      .filter(col("__df") > hotThreshold)
      .select(col(key),
        least(greatest(idiv(col("__df"), lit(hotThreshold)), lit(8L)),
          lit(nMax)).as("__n"))
    val b = big.join(broadcast(hot), Seq(key), "left")
      .withColumn("__salt",
        when(col("__n").isNotNull, pmod(xxhash64(spreadBy), col("__n")))
          .otherwise(0L))
      .drop("__n")
    val s = small.join(broadcast(hot), Seq(key), "left")
      .withColumn("__salt",
        explode(when(col("__n").isNotNull, sequence(lit(0L), col("__n") - 1))
          .otherwise(typedlit(Seq(0L)))))
      .drop("__n")
    b.join(s, Seq(key, "__salt")).drop("__salt")
  }

  /** Exact integer division a div b for non-negative longs, expressed so
    * the double division is always exact: the remainder is subtracted
    * first, so the quotient is integral and correctly-rounded division
    * returns it bit-exactly (no 3.9999… → 4 truncation hazards). */
  private[ops] def idiv(a: Column, b: Column): Column =
    ((a - pmod(a, b)) / b).cast("long")

  /** Scalable global rank: a total-order 1-based row number WITHOUT an
    * unpartitioned Window (which funnels every row through one task —
    * the classic 100 TB scale-killer this repo's QueriesSpec lint bans).
    *
    * Dataflow: range-repartition on the sort key (contiguous, ordered
    * key ranges per partition; no single task ever sees the whole
    * input), rank locally with a Window PARTITIONED by the physical
    * partition id, and add each partition's global offset — the prefix
    * sum of per-partition counts, computed as a numPartitions-row
    * aggregate (sort_array + higher-order prefix fold, no window at
    * all) and broadcast back. Three narrow exchanges of the input, all
    * parallel; the only driver-sized state is the numPartitions-row
    * offset table. The result is deterministic for a total sort key
    * even though the range boundaries are sampled: boundaries only move
    * rows between ordered ranges, never change any row's global rank —
    * PROVIDED offsets and local ranks see the SAME boundaries, which
    * the cut below guarantees (see comment). */
  def globalRank(
      df: DataFrame,
      sortCols: Seq[Column],
      numParts: Int = 0,
      rankCol: String = "__rank",
      totalCol: Option[String] = None): DataFrame = {
    val width = if (numParts > 0) numParts else spineParts(df)
    // The cut is LOAD-BEARING for correctness, not an optimization:
    // RangePartitioning samples fresh boundaries on every execution
    // (observed: the same plan yields different per-partition counts
    // across runs), and the offsets subtree + the ranked subtree both
    // consume this exchange. Exchange/stage reuse usually dedupes them,
    // but under concurrent query execution the two materializations can
    // race, each sampling DIFFERENT boundaries — local ranks then pair
    // with offsets from a different partitioning and the "global rank"
    // silently gains duplicates and gaps (caught by
    // stream_watermark_progression's uneven batches). Materializing the
    // partitioned frame once makes both subtrees read the same blocks,
    // restoring the determinism argument above unconditionally.
    val parted = cut(df.repartitionByRange(width, sortCols: _*)
      .withColumn("__pid", spark_partition_id().cast("long")))
    // per-partition counts → (offset, grand total) in ONE tiny aggregate;
    // the total rides along so callers never re-scan the input for n
    val offsets = parted.groupBy("__pid").agg(count(lit(1)).as("__pc"))
      .agg(sort_array(collect_list(struct(col("__pid"), col("__pc")))).as("a"))
      .select(explode(expr(
        "transform(a, (x, i) -> struct(x.__pid AS __pid, " +
          "aggregate(slice(a, 1, i), CAST(0 AS BIGINT), " +
          "(acc, y) -> acc + y.__pc) AS __off))")).as("o"),
        expr("aggregate(a, CAST(0 AS BIGINT), (acc, y) -> acc + y.__pc)")
          .as("__n"))
      .select(col("o.__pid").as("__pid"), col("o.__off").as("__off"),
        col("__n"))
    val w = Window.partitionBy("__pid").orderBy(sortCols: _*)
    val ranked = parted
      .withColumn("__lr", row_number().over(w))
      .join(broadcast(offsets), Seq("__pid"))
      .withColumn(rankCol, col("__off") + col("__lr"))
      .drop("__pid", "__lr", "__off")
    totalCol match {
      case Some(t) => ranked.withColumnRenamed("__n", t)
      case None => ranked.drop("__n")
    }
  }

  /** Broadcast-joins the per-(group, partition) offsets frame back onto
    * the partitioned fact rows with NULL-SAFE equality on the group
    * keys. A plain string-list equi-join would silently DROP every row
    * whose group key is NULL (equi-joins never match null keys) while
    * `Window.partitionBy` treats NULL as a regular group — so the
    * grouped primitives below would lose rows a plain window keeps.
    * Right-side keys are prefixed before the join so the `<=>`
    * condition never hits ambiguous-attribute resolution. */
  private def joinOffsets(
      parted: DataFrame,
      offsets: DataFrame,
      keys: Seq[String]): DataFrame = {
    val pre = "__o_"
    val renamed = keys.foldLeft(offsets)((d, k) => d.withColumnRenamed(k, pre + k))
    val cond = keys.map(k => parted(k) <=> renamed(pre + k)).reduce(_ && _)
    parted.join(broadcast(renamed), cond).drop(keys.map(pre + _): _*)
  }

  /** PER-GROUP row_number at cluster width — the grouped twin of
    * [[globalRank]] for windows partitioned by a BOUNDED-cardinality
    * dimension (language, segment, source), where a plain
    * `Window.partitionBy(dim)` caps the ranking stage at |dim| tasks
    * (1/5th of the fact table on one task for a 5-value segment at
    * 100 TB). Shape: range-repartition on (grpCols ++ sortCols) — each
    * group's rows occupy a contiguous, sorted run of partitions — rank
    * locally per (partition, group) cell, then add broadcast
    * per-(group, partition) prefix offsets. The offsets frame has one
    * row per (group × partitions-it-touches) ≤ groups + width — tiny
    * at any scale. `totalCol` optionally rides the per-GROUP total
    * along (for percent_rank / cume_dist / ntile denominators).
    * Output is bit-identical to `row_number().over(Window.partitionBy
    * (grp).orderBy(sort))` for any total (tie-broken) sort order —
    * same argument as [[globalRank]], applied within each group; the
    * same load-bearing [[cut]] prevents the two consumers of the
    * range exchange from sampling different boundaries. */
  def groupedRank(
      df: DataFrame,
      grpCols: Seq[String],
      sortCols: Seq[Column],
      numParts: Int = 0,
      rankCol: String = "__rank",
      totalCol: Option[String] = None): DataFrame = {
    val width = if (numParts > 0) numParts else spineParts(df)
    val keys = grpCols.map(col) ++ sortCols
    val parted = cut(df.repartitionByRange(width, keys: _*)
      .withColumn("__pid", spark_partition_id().cast("long")))
    val counts = parted
      .groupBy((grpCols :+ "__pid").map(col): _*)
      .agg(count(lit(1)).as("__pc"))
    val offsets = counts.groupBy(grpCols.map(col): _*)
      .agg(sort_array(collect_list(struct(col("__pid"), col("__pc")))).as("a"))
      .select(grpCols.map(col) ++ Seq(
        explode(expr(
          "transform(a, (x, i) -> struct(x.__pid AS __pid, " +
            "aggregate(slice(a, 1, i), CAST(0 AS BIGINT), " +
            "(acc, y) -> acc + y.__pc) AS __off))")).as("o"),
        expr("aggregate(a, CAST(0 AS BIGINT), (acc, y) -> acc + y.__pc)")
          .as("__n")): _*)
      .select(grpCols.map(col) ++ Seq(col("o.__pid").as("__pid"),
        col("o.__off").as("__off"), col("__n")): _*)
    val w = Window.partitionBy((grpCols :+ "__pid").map(col): _*)
      .orderBy(sortCols: _*)
    val ranked = joinOffsets(
        parted.withColumn("__lr", row_number().over(w)),
        offsets, grpCols :+ "__pid")
      .withColumn(rankCol, col("__off") + col("__lr"))
      .drop("__pid", "__lr", "__off")
    totalCol match {
      case Some(t) => ranked.withColumnRenamed("__n", t)
      case None => ranked.drop("__n")
    }
  }

  /** Per-group INCLUSIVE running sum of a long column at cluster
    * width — the cumulative-sum twin of [[groupedRank]]: same range
    * partitioning, per-(group, partition) cell SUMS become the
    * broadcast prefix offsets, the local window does the in-cell
    * cumsum. Bit-identical to `sum(v).over(Window.partitionBy(grp)
    * .orderBy(sort).rowsBetween(unboundedPreceding, currentRow))` for
    * any tie-broken sort (integer addition is associative — no float
    * caveat; the column must be integral). */
  def groupedRunningSum(
      df: DataFrame,
      grpCols: Seq[String],
      sortCols: Seq[Column],
      valueCol: String,
      numParts: Int = 0,
      outCol: String = "__cum"): DataFrame = {
    val width = if (numParts > 0) numParts else spineParts(df)
    val parted = cut(df.repartitionByRange(width, grpCols.map(col) ++ sortCols: _*)
      .withColumn("__pid", spark_partition_id().cast("long")))
    val cells = parted
      .groupBy((grpCols :+ "__pid").map(col): _*)
      .agg(sum(col(valueCol)).as("__pc"))
    val offsets = cells.groupBy(grpCols.map(col): _*)
      .agg(sort_array(collect_list(struct(col("__pid"), col("__pc")))).as("a"))
      .select(grpCols.map(col) :+ explode(expr(
        "transform(a, (x, i) -> struct(x.__pid AS __pid, " +
          "aggregate(slice(a, 1, i), CAST(0 AS BIGINT), " +
          "(acc, y) -> acc + y.__pc) AS __off))")).as("o"): _*)
      .select(grpCols.map(col) ++ Seq(col("o.__pid").as("__pid"),
        col("o.__off").as("__off")): _*)
    val w = Window.partitionBy((grpCols :+ "__pid").map(col): _*)
      .orderBy(sortCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    joinOffsets(
        parted.withColumn("__lc", sum(col(valueCol)).over(w)),
        offsets, grpCols :+ "__pid")
      .withColumn(outCol, col("__off") + col("__lc"))
      .drop("__pid", "__lc", "__off")
  }

  /** Per-group EXCLUSIVE running max of a long column at cluster
    * width (max over all STRICTLY PRECEDING rows in the group's sort
    * order; NULL on each group's first row) — the skyline/frontier
    * primitive. Same spine: per-(group, partition) cell maxes prefix-
    * combine (strictly-earlier partitions only) into broadcast
    * offsets; the local window takes `rowsBetween(unboundedPreceding,
    * -1)`; `greatest` merges the two (null-skipping, so the result is
    * NULL exactly when no predecessor exists). */
  def groupedPrefixMax(
      df: DataFrame,
      grpCols: Seq[String],
      sortCols: Seq[Column],
      valueCol: String,
      numParts: Int = 0,
      outCol: String = "__pmax"): DataFrame = {
    val width = if (numParts > 0) numParts else spineParts(df)
    val parted = cut(df.repartitionByRange(width, grpCols.map(col) ++ sortCols: _*)
      .withColumn("__pid", spark_partition_id().cast("long")))
    val cells = parted
      .groupBy((grpCols :+ "__pid").map(col): _*)
      .agg(max(col(valueCol)).as("__pm"))
    val offsets = cells.groupBy(grpCols.map(col): _*)
      .agg(sort_array(collect_list(struct(col("__pid"), col("__pm")))).as("a"))
      .select(grpCols.map(col) :+ explode(expr(
        "transform(a, (x, i) -> struct(x.__pid AS __pid, " +
          "aggregate(slice(a, 1, i), CAST(NULL AS BIGINT), " +
          "(acc, y) -> greatest(acc, y.__pm)) AS __off))")).as("o"): _*)
      .select(grpCols.map(col) ++ Seq(col("o.__pid").as("__pid"),
        col("o.__off").as("__off")): _*)
    val w = Window.partitionBy((grpCols :+ "__pid").map(col): _*)
      .orderBy(sortCols: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    joinOffsets(
        parted.withColumn("__lm", max(col(valueCol)).over(w)),
        offsets, grpCols :+ "__pid")
      .withColumn(outCol, greatest(col("__off"), col("__lm")))
      .drop("__pid", "__lm", "__off")
  }

  /** ntile(k) reconstructed from a global rank: SQL-standard semantics
    * (first n mod k tiles get floor(n/k)+1 rows, the rest floor(n/k)),
    * in pure integer Column arithmetic — bit-identical to
    * ntile(k).over(Window.orderBy(...)) for any total sort order. */
  private[ops] def ntileFromRank(r: Column, n: Column, k: Int): Column = {
    val kL = lit(k.toLong)
    val s = pmod(n, kL) // number of oversized (q+1)-row tiles
    val q = idiv(n, kL) // base tile size
    val big = (q + lit(1L)) * s // rows covered by the oversized tiles
    when(r <= big, idiv(r - lit(1L), q + lit(1L)) + lit(1L))
      .otherwise(s + idiv(r - big - lit(1L), greatest(q, lit(1L))) + lit(1L))
  }

  /** Global ntile(k) at scale: [[globalRank]] + [[ntileFromRank]], with
    * the total row count riding a 1-row broadcast. Output is
    * bit-identical to the unpartitioned-window ntile, so oracles
    * written as `ntile(k) OVER (ORDER BY ...)` replay unchanged. */
  def globalNtile(
      df: DataFrame,
      sortCols: Seq[Column],
      k: Int,
      outCol: String,
      numParts: Int = 0): DataFrame =
    globalRank(df, sortCols, numParts, rankCol = "__r",
        totalCol = Some("__n"))
      .withColumn(outCol, ntileFromRank(col("__r"), col("__n"), k))
      .drop("__r", "__n")
}
