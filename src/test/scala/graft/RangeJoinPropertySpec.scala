package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Property pins for [[graft.plans.RangeJoinRewrite]]: the rewritten
  * plans must return EXACTLY the naive predicate's match set for
  * arbitrary data — negative domains (truncating-division
  * monotonicity), inverted "intervals" (lo > hi: the predicate pair
  * is just two inequalities, not interval semantics), empty sides,
  * boundary ties, and bucket widths from 1 to far-larger-than-range.
  * Each case is re-derived in pure Scala, never by a second Spark
  * plan, so a rewrite bug can't cancel itself out.
  */
class RangeJoinPropertySpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient lazy val spark: SparkSession = GraftSession("RangeJoinPropertySpec", 2)

  override def afterAll(): Unit = spark.stop()

  private def check(prop: Prop, n: Int): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(n), prop)
    assert(res.passed, res.status.toString)
  }

  private val genCase = for {
    w <- Gen.oneOf(1L, 3L, 7L, 10L, 1000L)
    nP <- Gen.choose(0, 25)
    pts <- Gen.listOfN(nP, Gen.choose(-60L, 100L))
    nI <- Gen.choose(0, 12)
    ivs <- Gen.listOfN(nI, for {
      lo <- Gen.choose(-70L, 90L)
      len <- Gen.choose(-8L, 35L) // negative = inverted
    } yield (lo, lo + len))
  } yield (w, pts, ivs)

  test("point-in-interval rewrite returns the exact match set (strict and BETWEEN)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    check(Prop.forAll(genCase) { case (w, pts, ivs) =>
      spark.conf.set("spark.graft.rangeJoin.bucketWidth", w.toString)
      spark.conf.set("spark.graft.rangeJoin.adaptiveWidth", "false")
      val p = pts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("pid", "t")
      val iv = ivs.zipWithIndex.map { case ((lo, hi), i) => (i.toLong, lo, hi) }
        .toDF("iid", "lo", "hi")
      val strict = p.join(iv, col("t") >= col("lo") && col("t") < col("hi"))
        .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1)))
      val expectS = for {
        (t, i) <- pts.zipWithIndex; ((lo, hi), j) <- ivs.zipWithIndex
        if t >= lo && t < hi
      } yield (i.toLong, j.toLong)
      val btw = p.join(iv, col("t") >= col("lo") && col("t") <= col("hi"))
        .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1)))
      val expectB = for {
        (t, i) <- pts.zipWithIndex; ((lo, hi), j) <- ivs.zipWithIndex
        if t >= lo && t <= hi
      } yield (i.toLong, j.toLong)
      // exact multiset equality: a double-emitted straddler would
      // surface as a duplicate pair
      strict.sorted.toSeq == expectS.sorted && btw.sorted.toSeq == expectB.sorted
    }, 8)
  }

  test("interval-overlap rewrite returns the exact match set") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    check(Prop.forAll(genCase) { case (w, pts, ivs) =>
      spark.conf.set("spark.graft.rangeJoin.bucketWidth", w.toString)
      spark.conf.set("spark.graft.rangeJoin.adaptiveWidth", "false")
      // reuse pts as a second interval family with width 6
      val a = pts.zipWithIndex.map { case (lo, i) => (i.toLong, lo, lo + 6L) }
        .toDF("aid", "alo", "ahi")
      val b = ivs.zipWithIndex.map { case ((lo, hi), i) => (i.toLong, lo, hi) }
        .toDF("bid", "blo", "bhi")
      val got = a.join(b, col("alo") < col("bhi") && col("blo") < col("ahi"))
        .select("aid", "bid").collect().map(r => (r.getLong(0), r.getLong(1)))
      val expect = for {
        (alo, i) <- pts.zipWithIndex; ((blo, bhi), j) <- ivs.zipWithIndex
        if alo < bhi && blo < alo + 6L
      } yield (i.toLong, j.toLong)
      got.sorted.toSeq == expect.sorted
    }, 8)
  }

  test("left-outer point joins rewrite with exact null-arm preservation") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    check(Prop.forAll(genCase) { case (w, pts, ivs) =>
      spark.conf.set("spark.graft.rangeJoin.bucketWidth", w.toString)
      spark.conf.set("spark.graft.rangeJoin.adaptiveWidth", "false")
      val p = pts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("pid", "t")
      val iv = ivs.zipWithIndex.map { case ((lo, hi), i) => (i.toLong, lo, hi) }
        .toDF("iid", "lo", "hi")
      val got = p.join(iv, col("t") >= col("lo") && col("t") < col("hi"), "left")
        .select("pid", "iid").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
      val expect = pts.zipWithIndex.flatMap { case (t, i) =>
        val ms = ivs.zipWithIndex.collect {
          case ((lo, hi), j) if t >= lo && t < hi => (i.toLong, j.toLong)
        }
        if (ms.isEmpty) Seq((i.toLong, -1L)) else ms
      }
      got.sorted.toSeq == expect.sorted
    }, 8)
    // the left-outer rewrite actually fires (the naive BNLJ LeftOuter
    // would also return correct rows - plan shape is the claim)
    val pf = Seq((1L, 5L)).toDF("pid", "t")
    val ivf = Seq((1L, 0L, 10L)).toDF("iid", "lo", "hi")
    val lp = pf.join(ivf, col("t") >= col("lo") && col("t") < col("hi"), "left")
      .queryExecution.executedPlan.toString
    assert(lp.contains("Generate") && !lp.contains("BroadcastNestedLoopJoin"), lp)
    // and the outer-preserving-the-INTERVAL side is NOT rewritten (a
    // Generate would duplicate unmatched preserved intervals)
    val p1 = Seq((1L, 5L)).toDF("pid", "t")
    val i1 = Seq((1L, 0L, 10L), (2L, 90L, 95L)).toDF("iid", "lo", "hi")
    spark.conf.set("spark.graft.rangeJoin.bucketWidth", "7")
    spark.conf.set("spark.graft.rangeJoin.adaptiveWidth", "false")
    val rightPreserved = p1.join(i1,
      org.apache.spark.sql.functions.col("t") >= org.apache.spark.sql.functions.col("lo") &&
        org.apache.spark.sql.functions.col("t") < org.apache.spark.sql.functions.col("hi"),
      "right")
    assert(!rightPreserved.queryExecution.optimizedPlan.toString.contains("graft_range_bk"))
    assert(rightPreserved.count() === 2L) // unmatched interval kept once
  }

  test("the rewrite actually fires on these shapes (not silently naive)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    spark.conf.set("spark.graft.rangeJoin.bucketWidth", "7")
    spark.conf.set("spark.graft.rangeJoin.adaptiveWidth", "false")
    val p = Seq((1L, 5L)).toDF("pid", "t")
    val iv = Seq((1L, 0L, 10L)).toDF("iid", "lo", "hi")
    val plan = p.join(iv, col("t") >= col("lo") && col("t") < col("hi"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("Generate") && !plan.contains("BroadcastNestedLoopJoin"))
    val a = Seq((1L, 0L, 6L)).toDF("aid", "alo", "ahi")
    val b = Seq((1L, 3L, 9L)).toDF("bid", "blo", "bhi")
    val plan2 = a.join(b, col("alo") < col("bhi") && col("blo") < col("ahi"))
      .queryExecution.executedPlan.toString
    assert(plan2.contains("Generate") && !plan2.contains("BroadcastNestedLoopJoin"))
  }

  test("adaptive width bounds per-row replication on huge spans") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // a 1e12-wide interval at the configured W=1 would be a
    // 10^12-element sequence (query death); the plan-time pre-pass
    // must derive a sane W instead
    spark.conf.set("spark.graft.rangeJoin.bucketWidth", "1")
    spark.conf.set("spark.graft.rangeJoin.adaptiveWidth", "true")
    val p = Seq((1L, 5L), (2L, 999999999999L), (3L, -7L)).toDF("pid", "t")
    val iv = Seq((10L, 0L, 1000000000000L), (11L, 500L, 1000000000500L))
      .toDF("iid", "lo", "hi")
    val q = p.join(iv, col("t") >= col("lo") && col("t") < col("hi"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("Generate") && !plan.contains("BroadcastNestedLoopJoin"), plan)
    val got = q.select("pid", "iid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got === Seq((1L, 10L), (2L, 10L), (2L, 11L)))
  }

  test("static width declines the rewrite past the bucket cap instead of exploding") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    spark.conf.set("spark.graft.rangeJoin.bucketWidth", "1")
    spark.conf.set("spark.graft.rangeJoin.adaptiveWidth", "false")
    val p = Seq((1L, 5L)).toDF("pid", "t")
    val iv = Seq((10L, 0L, 1000000000L)).toDF("iid", "lo", "hi") // 1e9 buckets at W=1
    val q = p.join(iv, col("t") >= col("lo") && col("t") < col("hi"))
    assert(!q.queryExecution.optimizedPlan.toString.contains("graft_range_bk"))
    assert(q.select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      === Seq((1L, 10L)))
  }

  test("non-positive width disables the rule but never silently empties the join") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    for (w <- Seq("0", "-5")) {
      spark.conf.set("spark.graft.rangeJoin.bucketWidth", w)
      spark.conf.set("spark.graft.rangeJoin.adaptiveWidth", "false")
      val p = Seq((1L, 5L)).toDF("pid", "t")
      val iv = Seq((10L, 0L, 10L)).toDF("iid", "lo", "hi")
      val q = p.join(iv, col("t") >= col("lo") && col("t") < col("hi"))
      assert(!q.queryExecution.optimizedPlan.toString.contains("graft_range_bk"))
      // the W=0 failure mode this guards: IntegralDivide by 0 -> null
      // bucket ids -> an inner join that matches NOTHING
      assert(q.count() === 1L)
    }
    spark.conf.set("spark.graft.rangeJoin.bucketWidth", "604800")
  }

  test("inverted intervals clamp to one bucket id (no descending-sequence blowup)") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    spark.conf.set("spark.graft.rangeJoin.bucketWidth", "7")
    spark.conf.set("spark.graft.rangeJoin.adaptiveWidth", "false")
    // lo div W - (hi-1) div W ~ 2.8e11: un-clamped this is a
    // 10^11-element DESCENDING sequence per probe of the row
    val p = Seq((1L, 5L)).toDF("pid", "t")
    val iv = Seq((10L, 0L, 10L), (11L, 1000000000000L, -1000000000000L))
      .toDF("iid", "lo", "hi")
    val q = p.join(iv, col("t") >= col("lo") && col("t") < col("hi"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("Generate") && !plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(q.select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      === Seq((1L, 10L)))
  }

  test("timestamp-typed range joins rewrite via the epoch-micros widening") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    spark.conf.set("spark.graft.rangeJoin.adaptiveWidth", "true")
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    val p = Seq((1L, ts(5000L)), (2L, ts(15000L)), (3L, ts(10000L)))
      .toDF("pid", "t")
    val iv = Seq((10L, ts(0L), ts(10000L)), (11L, ts(9000L), ts(20000L)))
      .toDF("iid", "lo", "hi")
    val strict = p.join(iv, col("t") >= col("lo") && col("t") < col("hi"))
    val plan = strict.queryExecution.executedPlan.toString
    assert(plan.contains("Generate") && !plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(strict.select("pid", "iid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      === Seq((1L, 10L), (2L, 11L), (3L, 11L)))
    // BETWEEN (inclusive) on timestamps: the hi-boundary row joins
    val btw = p.join(iv, col("t") >= col("lo") && col("t") <= col("hi"))
    assert(btw.queryExecution.executedPlan.toString.contains("Generate"))
    assert(btw.select("pid", "iid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      === Seq((1L, 10L), (2L, 11L), (3L, 10L), (3L, 11L)))
  }

  test("NTZ strict upper bounds survive a DST gap (non-injective normalization)") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val zone = "America/Los_Angeles"
    val prevZone = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", zone)
    try {
      // 2026-03-08 02:30 local is inside the spring-forward gap: the
      // NTZ->TZ normalization shifts it onto the SAME instant as the
      // valid local 03:30, so t < hi holds on the NTZ values while
      // norm(t) == norm(hi). With bucket width == epochMicros(hi) the
      // old norm(hi)-1 tightening put the interval's last covered
      // bucket one BELOW the point's bucket and dropped the match.
      val gapT = java.time.LocalDateTime.of(2026, 3, 8, 2, 30)
      val hi = java.time.LocalDateTime.of(2026, 3, 8, 3, 30)
      val lo = java.time.LocalDateTime.of(2026, 3, 8, 0, 0)
      val hiMicros = hi.atZone(java.time.ZoneId.of(zone))
        .toInstant.toEpochMilli * 1000L
      spark.conf.set("spark.graft.rangeJoin.adaptiveWidth", "false")
      spark.conf.set("spark.graft.rangeJoin.bucketWidth", hiMicros.toString)
      val p = Seq((1L, gapT)).toDF("pid", "t")
      val iv = Seq((10L, lo, hi)).toDF("iid", "lo", "hi")
      val q = p.join(iv, col("t") >= col("lo") && col("t") < col("hi"))
      val opt = q.queryExecution.optimizedPlan.toString
      assert(opt.contains("graft_range_bk"), opt) // the rewrite DID fire
      assert(q.select("pid", "iid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((1L, 10L)))
    } finally {
      spark.conf.set("spark.sql.session.timeZone", prevZone)
      spark.conf.set("spark.graft.rangeJoin.adaptiveWidth", "true")
      spark.conf.set("spark.graft.rangeJoin.bucketWidth", "604800")
    }
  }

  test("prepass=false still rewrites (configured width, no plan-time scan)") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    spark.conf.set("spark.graft.rangeJoin.prepass", "false")
    spark.conf.set("spark.graft.rangeJoin.bucketWidth", "7")
    try {
      val p = Seq((1L, 5L), (2L, 15L)).toDF("pid", "t")
      val iv = Seq((10L, 0L, 10L), (11L, 9L, 20L)).toDF("iid", "lo", "hi")
      val q = p.join(iv, col("t") >= col("lo") && col("t") < col("hi"))
      assert(q.queryExecution.optimizedPlan.toString.contains("graft_range_bk"))
      assert(q.select("pid", "iid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
        === Seq((1L, 10L), (2L, 11L)))
    } finally {
      spark.conf.set("spark.graft.rangeJoin.prepass", "true")
      spark.conf.set("spark.graft.rangeJoin.bucketWidth", "604800")
    }
  }

  test("a cross-side null-safe equality suppresses the rewrite (hash join exists)") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    spark.conf.set("spark.graft.rangeJoin.bucketWidth", "7")
    spark.conf.set("spark.graft.rangeJoin.adaptiveWidth", "false")
    val p = Seq((1L, 5L, 9L)).toDF("pid", "t", "pk")
    val iv = Seq((10L, 0L, 10L, 9L)).toDF("iid", "lo", "hi", "ik")
    val q = p.join(iv, col("pk") <=> col("ik") &&
      col("t") >= col("lo") && col("t") < col("hi"))
    // the rewrite's Generate+explode would be pure overhead on top of
    // the hash-joinable null-safe key
    assert(!q.queryExecution.optimizedPlan.toString.contains("graft_range_bk"))
    assert(q.count() === 1L)
  }
}
