package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Property pins for the hand-written [[graft.plans.AsOfJoinExec]]
  * merge loop — the riskiest code path in the engine (mutable
  * buffered-row state per partition). Arbitrary key/time/tie data:
  * duplicate timestamps per key, keys present on only one side,
  * empty sides, single-row partitions, ties that must resolve to the
  * greatest (time, tie). Each case is checked against an in-memory
  * Scala reference, with the shuffle forced across 4 partitions so
  * the per-partition merge really runs on split data.
  */
class AsOfJoinPropertySpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient lazy val spark: SparkSession = GraftSession("AsOfJoinPropertySpec", 4)

  override def afterAll(): Unit = spark.stop()

  private def check(prop: Prop, n: Int): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(n), prop)
    assert(res.passed, res.status.toString)
  }

  private val genCase = for {
    nL <- Gen.choose(0, 40)
    left <- Gen.listOfN(nL, for {
      k <- Gen.choose(0L, 6L) // few keys -> heavy per-key traffic
      t <- Gen.choose(-20L, 50L)
    } yield (k, t))
    nR <- Gen.choose(0, 40)
    right <- Gen.listOfN(nR, for {
      k <- Gen.choose(0L, 8L) // some keys absent on the left
      rt <- Gen.choose(-20L, 50L)
    } yield (k, rt))
  } yield (left, right)

  test("as-of merge equals the in-memory reference on arbitrary data") {
    import spark.implicits._
    check(Prop.forAll(genCase) { case (left, right) =>
      val l = left.zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) }
        .toDF("lid", "lkey", "lt").repartition(4, org.apache.spark.sql.functions.col("lkey"))
      val r = right.zipWithIndex.map { case ((k, rt), i) => (i.toLong + 1000L, k, rt) }
        .toDF("rid", "rkey", "rt")
      val lp = l.queryExecution.analyzed
      val rp = r.queryExecution.analyzed
      def a(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, n: String) =
        p.output.find(_.name == n).get
      val j = org.apache.spark.sql.GraftPlanBridge.ofRows(spark,
        graft.plans.AsOfJoin(lp, rp, a(lp, "lkey"), a(lp, "lt"),
          a(rp, "rkey"), a(rp, "rt"), a(rp, "rid")))
      val got = j.select("lid", "rid").collect()
        .map(row => row.getLong(0) ->
          (if (row.isNullAt(1)) -1L else row.getLong(1))).toMap
      val expect = left.zipWithIndex.map { case ((k, t), i) =>
        val cands = right.zipWithIndex
          .filter { case ((rk, rt), _) => rk == k && rt <= t }
        val best =
          if (cands.isEmpty) -1L
          else cands.maxBy { case ((_, rt), ri) => (rt, ri) }._2.toLong + 1000L
        i.toLong -> best
      }.toMap
      got == expect
    }, 12)
  }

  test("FORWARD as-of merge equals the in-memory reference on arbitrary data") {
    import spark.implicits._
    check(Prop.forAll(genCase) { case (left, right) =>
      val l = left.zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) }
        .toDF("lid", "lkey", "lt").repartition(4, org.apache.spark.sql.functions.col("lkey"))
      val r = right.zipWithIndex.map { case ((k, rt), i) => (i.toLong + 1000L, k, rt) }
        .toDF("rid", "rkey", "rt")
      val lp = l.queryExecution.analyzed
      val rp = r.queryExecution.analyzed
      def a(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, n: String) =
        p.output.find(_.name == n).get
      val j = org.apache.spark.sql.GraftPlanBridge.ofRows(spark,
        graft.plans.AsOfJoin(lp, rp, a(lp, "lkey"), a(lp, "lt"),
          a(rp, "rkey"), a(rp, "rt"), a(rp, "rid"), forward = true))
      val got = j.select("lid", "rid").collect()
        .map(row => row.getLong(0) ->
          (if (row.isNullAt(1)) -1L else row.getLong(1))).toMap
      val expect = left.zipWithIndex.map { case ((k, t), i) =>
        val cands = right.zipWithIndex
          .filter { case ((rk, rt), _) => rk == k && rt >= t }
        val best =
          if (cands.isEmpty) -1L
          else cands.minBy { case ((_, rt), ri) => (rt, ri) }._2.toLong + 1000L
        i.toLong -> best
      }.toMap
      got == expect
    }, 12)
  }

  test("tolerance bounds the match staleness in BOTH directions (property)") {
    import spark.implicits._
    val genTol = for { c <- genCase; tol <- Gen.choose(0L, 30L) } yield (c, tol)
    check(Prop.forAll(genTol) { case ((left, right), tol) =>
      val l = left.zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) }
        .toDF("lid", "lkey", "lt").repartition(4, org.apache.spark.sql.functions.col("lkey"))
      val r = right.zipWithIndex.map { case ((k, rt), i) => (i.toLong + 1000L, k, rt) }
        .toDF("rid", "rkey", "rt")
      val lp = l.queryExecution.analyzed
      val rp = r.queryExecution.analyzed
      def a(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, n: String) =
        p.output.find(_.name == n).get
      Seq(false, true).forall { fwd =>
        val j = org.apache.spark.sql.GraftPlanBridge.ofRows(spark,
          graft.plans.AsOfJoin(lp, rp, a(lp, "lkey"), a(lp, "lt"),
            a(rp, "rkey"), a(rp, "rt"), a(rp, "rid"), forward = fwd, tolerance = tol))
        val got = j.select("lid", "rid").collect()
          .map(row => row.getLong(0) ->
            (if (row.isNullAt(1)) -1L else row.getLong(1))).toMap
        val expect = left.zipWithIndex.map { case ((k, t), i) =>
          // the directed BEST match, nulled when out of tolerance —
          // never replaced by an older/further in-bound row
          val cands = right.zipWithIndex.filter { case ((rk, rt), _) =>
            rk == k && (if (fwd) rt >= t else rt <= t)
          }
          val best =
            if (cands.isEmpty) None
            else if (fwd) Some(cands.minBy { case ((_, rt), ri) => (rt, ri) })
            else Some(cands.maxBy { case ((_, rt), ri) => (rt, ri) })
          val ok = best.filter { case ((_, rt), _) =>
            (if (fwd) rt - t else t - rt) <= tol
          }
          i.toLong -> ok.map(_._2.toLong + 1000L).getOrElse(-1L)
        }.toMap
        got == expect
      }
    }, 8)
  }

  private def asofDf(l: org.apache.spark.sql.DataFrame, r: org.apache.spark.sql.DataFrame,
      lk: String, lt: String, rk: String, rt: String, tie: String) = {
    val lp = l.queryExecution.analyzed
    val rp = r.queryExecution.analyzed
    def a(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, n: String) =
      p.output.find(_.name == n).get
    org.apache.spark.sql.GraftPlanBridge.ofRows(spark,
      graft.plans.AsOfJoin(lp, rp, a(lp, lk), a(lp, lt), a(rp, rk), a(rp, rt), a(rp, tie)))
  }

  test("nullable-typed but null-free inputs pass the plan-time null guard") {
    import spark.implicits._
    // Option[Long] encoder -> nullable LongType columns; the strategy
    // wraps them in AssertNotNull, which must be a pass-through here
    val l = Seq((1L, Option(5L), Option(1L))).toDF("lid", "lkey", "lt")
    val r = Seq((100L, Option(5L), Option(3L))).toDF("rid", "rkey", "rt")
    val got = asofDf(l, r, "lkey", "lt", "rkey", "rt", "rid")
      .select("lid", "rid").collect()
    assert(got.length === 1 && got(0).isNullAt(1)) // rt=3 > lt=1: no match
  }

  test("a null key/time raises at runtime instead of joining as (0,0)") {
    import spark.implicits._
    val l = Seq((1L, Option(0L), Option(1L)), (2L, Option.empty[Long], Option(2L)))
      .toDF("lid", "lkey", "lt")
    val r = Seq((100L, Option(0L), Option(0L))).toDF("rid", "rkey", "rt")
    // without the AssertNotNull wrap, UnsafeRow.getLong turns the null
    // key into 0 and row lid=2 silently matches rid=100
    val e = intercept[Exception] {
      asofDf(l, r, "lkey", "lt", "rkey", "rt", "rid").collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
    assert(msgs(e).exists(m => m != null && m.toLowerCase.contains("null")), e.toString)
  }

  test("a non-LongType bound expression fails planning loudly") {
    import spark.implicits._
    val l = Seq((1L, 5, 1L)).toDF("lid", "lkey", "lt") // lkey is IntegerType
    val r = Seq((100L, 5, 0L)).toDF("rid", "rkey", "rt")
    val e = intercept[Throwable] {
      asofDf(l, r, "lkey", "lt", "rkey", "rt", "rid").collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
    assert(msgs(e).exists(m => m != null && m.contains("must be LongType")), e.toString)
  }
}
