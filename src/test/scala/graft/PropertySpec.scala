package graft

import graft.etl.Export
import graft.expr.VectorOps
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** ScalaCheck-generator-driven properties (SURVEY §5.4), run under
  * ScalaTest: partition routing is a total function, partitioned writes
  * round-trip, top-k cosine matches a driver-side brute force, MinHash
  * candidate probability grows with Jaccard similarity. Generators are
  * seeded — failures are reproducible. */
class PropertySpec extends SparkSpec {

  private def samples[T](g: Gen[T], n: Int, seed: Long): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(seed + i)))

  test("property: band-join rule preserves results at FP bucket boundaries") {
    import spark.implicits._
    import graft.plans.BandJoinRule
    // values engineered onto exact band edges: multiples of the width
    // and their ±1-ulp neighbors — where floor(a/W) vs floor(b/W) can
    // disagree by 2 and a ±1-bucket explode would silently drop a pair
    Seq(0.1, 0.3, 7.5, 50.0).foreach { w =>
      val mults = samples(Gen.choose(-12, 12), 25, seed = (w * 1000).toLong)
      val base = mults.map(_ * w)
      val vals = (base ++ base.map(Math.nextUp) ++ base.map(Math.nextDown) ++
        samples(Gen.choose(-12.0 * w, 12.0 * w), 25, seed = 11L)).distinct
      val l = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("lid", "lv")
      val r = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("rid", "rv")
      def q() = l.join(r, col("lv") >= col("rv") - w && col("lv") <= col("rv") + w)
        .select("lid", "rid")
      def run() = q().collect().map(x => (x.getLong(0), x.getLong(1))).toSet
      val plain = withConf("spark.sql.optimizer.excludedRules", BandJoinRule.ruleName) {
        assert(!q().queryExecution.optimizedPlan.toString.contains("__band_bucket"),
          s"width $w: rule fired while excluded")
        run()
      }
      assert(q().queryExecution.optimizedPlan.toString.contains("__band_bucket"),
        s"width $w: rule did not fire")
      val rewritten = run()
      assert(rewritten == plain,
        s"width $w: rewrite dropped ${(plain -- rewritten).take(5)} " +
          s"added ${(rewritten -- plain).take(5)}")
    }
  }

  test("property: partition-value derivation routes every row to exactly one bucket") {
    import spark.implicits._
    val genTs = Gen.option(Gen.choose(0L, 2000000000L))
    val rows = samples(genTs, 200, 1L)
    val df = rows.map(o => Tuple1(o.map(s => new java.sql.Timestamp(s * 1000)).orNull))
      .toDF("d")
    val routed = df.withColumn("part_year", Export.partitionValue("d"))
    // total: no nulls, exactly one value per row
    assert(routed.filter(col("part_year").isNull).count() == 0)
    assert(routed.count() == rows.size)
    // nulls land in "unknown", non-nulls in their year
    val got = routed.collect().map(r => (Option(r.getTimestamp(0)), r.getString(1)))
    got.foreach {
      case (None, p) => assert(p == "unknown")
      case (Some(t), p) =>
        val cal = java.util.Calendar.getInstance(java.util.TimeZone.getTimeZone("UTC"))
        cal.setTime(t)
        assert(p == cal.get(java.util.Calendar.YEAR).toString)
    }
  }

  test("property: partitioned write read-back equals the pre-write frame") {
    import spark.implicits._
    val gen = for {
      id <- Gen.choose(0L, 1000000L)
      year <- Gen.choose(1995, 2005)
      v <- Gen.choose(-1e6, 1e6)
    } yield (id, java.sql.Timestamp.valueOf(f"$year-06-15 12:00:00"), v)
    val rows = samples(gen, 300, 2L).distinct
    val df = rows.toDF("id", "d", "v")
    val out = tmpDir("graft-prop-rt")
    df.withColumn("part_year", Export.partitionValue("d"))
      .write.mode("overwrite").partitionBy("part_year").parquet(out)
    val back = spark.read.parquet(out)
    assert(back.count() == rows.size)
    assert(back.select("id", "v").except(df.select("id", "v")).count() == 0)
    assert(df.select("id", "v").except(back.select("id", "v")).count() == 0)
  }

  test("property: engine top-k cosine equals driver-side brute force on random vectors") {
    import spark.implicits._
    val genVec = Gen.listOfN(16, Gen.choose(-1.0, 1.0).map(_.toFloat))
    val vecs = samples(genVec, 60, 3L).map(_.toArray).zipWithIndex
      .map { case (v, i) => (i.toLong, v.toSeq) }
    val q = vecs.head._2.toArray
    val df = vecs.toDF("id", "vec")
    val got = df.filter(col("id") =!= 0)
      .withColumn("cos", VectorOps.cosine(col("vec"), typedlit(q.toSeq)))
      .orderBy(col("cos").desc, col("id")).limit(5)
      .collect().map(_.getLong(0)).toSeq
    def cosine(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      dot / (math.sqrt(a.map(x => x.toDouble * x).sum) * math.sqrt(b.map(x => x.toDouble * x).sum))
    }
    val expected = vecs.tail
      .map { case (i, v) => (i, cosine(v.toArray, q)) }
      .sortBy { case (i, c) => (-c, i) }.take(5).map(_._1)
    assert(got == expected)
  }

  test("property: minhash candidate probability grows with jaccard") {
    import spark.implicits._
    // doc pair with `shared` common tokens and `own` unique per side:
    // jaccard = shared / (shared + 2*own)
    def doc(shared: Int, own: Int, tag: String) =
      ((1 to shared).map(i => s"c$i") ++ (1 to own).map(i => s"$tag$i")).mkString(" ")
    val pairs = Seq(
      (18.0 / 22, doc(18, 2, "a"), doc(18, 2, "b")), // jaccard 0.82
      (2.0 / 38, doc(2, 18, "a"), doc(2, 18, "b")))  // jaccard 0.05
    val hits = pairs.map { case (jac, d1, d2) =>
      val df = Seq((1L, d1), (2L, d2)).toDF("doc_id", "text")
      jac -> graft.ops.Dedup.minhashLsh(df).collect().nonEmpty
    }
    // with 8 bands × 4 rows: P(candidate | j=0.82) ≈ 0.98, P | j=0.05 ≈ 5e-5
    assert(hits.head._2, s"jaccard ${hits.head._1} pair should be an LSH candidate")
    assert(!hits.last._2, s"jaccard ${hits.last._1} pair should not collide")
  }

  test("property: PII redaction is idempotent and leaves no matchable PII behind") {
    import spark.implicits._
    val emailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
    val phoneRe = "\\+1-555-[0-9]{3}-[0-9]{4}"
    val word = Gen.alphaLowerStr.map(_.take(6)).suchThat(_.nonEmpty)
    val email = for { u <- word; d <- word } yield s"$u@$d.com"
    val phone = Gen.choose(0, 9999).map(n => f"+1-555-${n % 1000}%03d-$n%04d")
    val text = Gen.listOfN(12, Gen.frequency(6 -> word, 3 -> email, 3 -> phone))
      .map(_.mkString(" "))
    val docs = samples(text, 60, seed = 77L).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
    def redact(c: org.apache.spark.sql.Column) =
      regexp_replace(regexp_replace(c, emailRe, "<EMAIL>"), phoneRe, "<PHONE>")
    val once = docs.select(col("id"), redact(col("t")).as("r1"))
    val twice = once.select(col("id"), col("r1"), redact(col("r1")).as("r2"))
      .withColumn("leftover",
        size(regexp_extract_all(col("r1"), lit(emailRe), lit(0))) +
          size(regexp_extract_all(col("r1"), lit(phoneRe), lit(0))))
      .collect()
    twice.foreach { r =>
      assert(r.getString(1) == r.getString(2), "second redaction must be a no-op")
      assert(r.getInt(3) == 0, s"redacted text still matches PII: ${r.getString(1).take(80)}")
    }
  }

  test("property: LOCF fill equals the most recent non-null at every position") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val series = Gen.listOfN(40, Gen.option(Gen.choose(-100.0, 100.0)))
    samples(series, 6, seed = 13L).zipWithIndex.foreach { case (xs, g) =>
      val df = xs.zipWithIndex.map { case (v, i) => (g, i, v) }.toDF("g", "seq", "v")
      val w = Window.partitionBy("g").orderBy("seq")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val got = df.select(col("seq"), last(col("v"), ignoreNulls = true).over(w).as("locf"))
        .orderBy("seq").collect()
        .map(r => if (r.isNullAt(1)) None else Some(r.getDouble(1)))
      val expected = xs.scanLeft(Option.empty[Double])((acc, v) => v.orElse(acc)).tail
      assert(got.toSeq == expected, s"series $g mismatch")
    }
  }

  test("property: quality gate passes exactly the docs with no reason codes") {
    val df = SparkEntry.queries("text_quality_gate")(spark, sfDir).collect()
    assert(df.nonEmpty)
    df.foreach { r =>
      val passed = r.getBoolean(5)
      val reasons = r.getString(6)
      assert(passed == reasons.isEmpty,
        s"doc ${r.getLong(0)}: passed=$passed but reasons='$reasons'")
    }
  }
}
