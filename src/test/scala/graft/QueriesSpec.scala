package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.relational.Queries

/** Semantics checks for the relational core on the sf0.001 tables. */
class QueriesSpec extends AnyFunSuite with BeforeAndAfterAll {

  val dir = "/root/testdata/sf0.001"

  @transient lazy val spark: SparkSession = GraftSession("QueriesSpec", 4)

  override def afterAll(): Unit = spark.stop()

  /** Runs `body` with RangeJoinRewrite switched off, so a cross-filter
    * reference plans as the nested-loop join it spells out and is never
    * the bucketed rewrite it is compared with.
    */
  private def withoutRangeJoinRewrite[T](body: => T): T = {
    spark.conf.set("spark.graft.rangeJoin.enabled", "false")
    try body finally spark.conf.unset("spark.graft.rangeJoin.enabled")
  }

  test("match_recognize equals a hand-rolled leftmost pattern scan") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // independent matcher: an explicit automaton scan for `v c* p`
    // with AFTER MATCH SKIP PAST LAST ROW — no regex library involved
    def scan(seq: String): Seq[Int] = {
      val lens = scala.collection.mutable.ArrayBuffer[Int]()
      var i = 0
      while (i < seq.length) {
        if (seq(i) == 'v') {
          var j = i + 1
          while (j < seq.length && seq(j) == 'c') j += 1
          if (j < seq.length && seq(j) == 'p') { lens += (j - i + 1); i = j + 1 }
          else i += 1
        } else i += 1
      }
      lens.toSeq
    }
    val evs = Tables(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .as[(Long, Long, Long, String)].collect()
    val expected = evs.groupBy(_._1).flatMap { case (u, rows) =>
      val seq = rows.sortBy(r => (r._2 / 1000000000L, r._3)).map(_._4 match {
        case "view" => 'v'; case "click" => 'c'; case "purchase" => 'p'
        case _ => 'x'
      }).mkString
      val ms = scan(seq)
      if (ms.isEmpty) None
      else Some((u, ms.length.toLong, ms.map(_.toLong).sum, seq.length.toLong))
    }.toSeq.sortBy(_._1)
    val got = Queries.qMatchRecognize(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got === expected, "regex matching diverged from the automaton scan")
    assert(got.nonEmpty)
    // non-trivial: at least one multi-click (len > 2) and one
    // multi-match user occur at spec scale
    assert(expected.exists(_._2 >= 2), "no multi-match user at spec scale")
  }

  test("windowed match_recognize: alternation automaton per tumbling day") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // explicit automaton for `v (c|x)* p`: the greedy star stops at
    // the first char outside {c,x}; the match completes iff that char
    // is p (AFTER MATCH SKIP PAST LAST ROW) — no regex library
    def scan(seq: String): Seq[Int] = {
      val lens = scala.collection.mutable.ArrayBuffer[Int]()
      var i = 0
      while (i < seq.length) {
        if (seq(i) == 'v') {
          var j = i + 1
          while (j < seq.length && (seq(j) == 'c' || seq(j) == 'x')) j += 1
          if (j < seq.length && seq(j) == 'p') { lens += (j - i + 1); i = j + 1 }
          else i += 1
        } else i += 1
      }
      lens.toSeq
    }
    val evs = Tables(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .as[(Long, Long, Long, String)].collect()
    val expected = evs
      .groupBy(r => (r._1, (r._2 / 1000000000L) / 86400L))
      .flatMap { case ((u, d), rows) =>
        val seq = rows.sortBy(r => (r._2 / 1000000000L, r._3)).map(_._4 match {
          case "view" => 'v'; case "click" => 'c'; case "purchase" => 'p'
          case _ => 'x'
        }).mkString
        val ms = scan(seq)
        if (ms.isEmpty) None
        else Some((u, d, ms.length.toLong, ms.map(_.toLong).sum, seq.length.toLong))
      }.toSeq.sortBy(t => (t._1, t._2))
    val got = Queries.qMatchRecognizeWin(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got === expected,
      "windowed alternation matching diverged from the automaton scan")
    assert(got.nonEmpty)
    // the alternation must matter at spec scale: some window matches
    // v(c|x)*p that plain vc*p would miss (an x inside the star)
    val plain = evs
      .groupBy(r => (r._1, (r._2 / 1000000000L) / 86400L))
      .map { case ((u, d), rows) =>
        val seq = rows.sortBy(r => (r._2 / 1000000000L, r._3)).map(_._4 match {
          case "view" => 'v'; case "click" => 'c'; case "purchase" => 'p'
          case _ => 'x'
        }).mkString
        ((u, d), "vc*p".r.findAllIn(seq).size.toLong)
      }
    val withAlt = expected.map(t => ((t._1, t._2), t._3)).toMap
    assert(withAlt.exists { case (k, n) => n > plain.getOrElse(k, 0L) },
      "no window where the alternation changed the match set")
  }

  test("setops: INTERSECT/EXCEPT ALL equal the multiset count identities") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, year}
    def counts(y: Int): Map[Long, Long] =
      Tables(spark, dir, "orders")
        .filter(year(col("o_orderdate")) === y)
        .select($"o_custkey".cast("long")).as[Long]
        .collect().groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val cA = counts(1996)
    val cB = counts(1997)
    val expect =
      cA.flatMap { case (k, n) =>
        val m = math.min(n, cB.getOrElse(k, 0L))
        if (m > 0) Some(("intersect_all", k) -> m) else None
      } ++
      cA.flatMap { case (k, n) =>
        val m = n - cB.getOrElse(k, 0L)
        if (m > 0) Some(("except_all", k) -> m) else None
      }
    val got = Queries.qSetops(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got === expect)
    assert(got.keys.exists(_._1 == "intersect_all") &&
      got.keys.exists(_._1 == "except_all"),
      "both multiset branches must be non-trivially populated")
  }

  test("variant path extraction equals the schema-declared parse; missing paths are null") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val viaVariant = Queries.qVariant(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    // independent arm: the schema-declared from_json path
    val evs = Tables(spark, dir, "events")
      .select(col("event_type"), col("props")).as[(String, String)].collect()
    val expected = evs.groupBy(_._1).toSeq.map { case (t, g) =>
      val ks = g.map(r => """"k":\s*(\d+)""".r.findFirstMatchIn(r._2).get
        .group(1).toLong)
      (t, g.length.toLong, ks.sum, ks.distinct.length.toLong, g.length.toLong)
    }.sortBy(_._1)
    assert(viaVariant === expected,
      "variant extraction diverged from the regex re-derivation")
    // n_missing = cnt on every row: try_variant_get never threw
    assert(viaVariant.forall(r => r._5 == r._2))
  }

  test("lateral top-n per outer row decorrelates to the window plan, same rows") {
    import org.apache.spark.sql.functions.col
    val got = Queries.qLateral(spark, dir)
    // no per-outer-row execution: the plan must be a decorrelated
    // join, not 25 subquery invocations — certified by the absence of
    // any remaining correlated subquery expression in the optimized plan
    val opt = got.queryExecution.optimizedPlan.toString
    assert(!opt.contains("lateral-subquery"),
      "LATERAL survived optimization undecorrelated")
    // semantics: per nation exactly ≤2 rows, ordered by value
    val rows = got.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    rows.groupBy(_._1).foreach { case (n, g) =>
      assert(g.length <= 2, s"$n emitted ${g.length} rows")
      assert(g.map(_._3).sorted.reverse.toSeq === g.map(_._3).toSeq)
    }
    // cross-check against the explicit window-ranked derivation
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("n_nationkey").orderBy(col("pc").desc, col("o_orderkey"))
    val expected = Tables(spark, dir, "orders")
      .join(Tables(spark, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .join(Tables(spark, dir, "nation"),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("n_nationkey"), col("o_orderkey"),
        Queries.cents(col("o_totalprice")).as("pc"))
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("rn") <= 2)
      .orderBy(col("n_name"), col("pc").desc, col("o_orderkey"))
      .select("n_name", "o_orderkey", "pc")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.toSeq === expected.toSeq,
      "lateral diverged from the explicit window top-n")
  }

  test("range frame is value-addressed: trailing 7-day sums match a two-pointer scan") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val evs = Tables(spark, dir, "events")
      .select(col("event_id"), col("user_id"),
        Queries.nsToSec(col("ts")).as("sec"), Queries.cents(col("value")))
      .as[(Long, Long, Long, Long)].collect()
    val expected = evs.groupBy(_._2).toSeq.flatMap { case (_, g) =>
      val sorted = g.sortBy(_._3)
      sorted.map { r =>
        val in = sorted.filter(x => x._3 >= r._3 - 604800L && x._3 <= r._3)
        (r._1, r._2, r._3, in.length.toLong, in.map(_._4).sum)
      }
    }.sortBy(_._1)
    val got = Queries.qRangeFrame(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got === expected, "range frame diverged from the value scan")
    // peers: any same-second pair must carry identical frame results
    got.groupBy(r => (r._2, r._3)).values.filter(_.size > 1).foreach { g =>
      assert(g.map(x => (x._4, x._5)).toSet.size === 1,
        s"same-second peers disagreed: $g")
    }
  }

  test("rank family matches a driver-side sort re-derivation, ties keyed") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rows = Tables(spark, dir, "orders")
      .select(col("o_orderkey"), org.apache.spark.sql.functions.year(col("o_orderdate")).cast("long"),
        Queries.cents(col("o_totalprice")))
      .as[(Long, Long, Long)].collect()
    val expected = rows.groupBy(_._2).toSeq.flatMap { case (y, g) =>
      val sorted = g.sortBy(r => (r._3, r._1))
      val n = sorted.length
      sorted.zipWithIndex.map { case ((k, _, _), i) =>
        // ntile(4): first (n mod 4) buckets get ceil(n/4)
        val bsz = n / 4; val extra = n % 4
        val nt = if (i < (bsz + 1) * extra) i / (bsz + 1) + 1
          else extra + (i - (bsz + 1) * extra) / bsz + 1
        val prank = if (n == 1) 0L
          else math.floor(i.toDouble / (n - 1) * 1000000).toLong
        val cume = math.floor((i + 1).toDouble / n * 1000000).toLong
        (k, y, nt.toLong, prank, cume)
      }
    }.toSeq.sortBy(_._1)
    val got = Queries.qRankFamily(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got === expected, "rank family diverged from the re-derivation")
  }

  test("table profile matches a driver-side column scan (exact ndv, typed min/max)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rows = Tables(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        Queries.cents(col("o_totalprice")).as("tc"),
        col("o_orderdate").cast("date").cast("string").as("od"),
        col("o_orderpriority"))
      .as[(Long, Long, String, Long, String, String)].collect()
    def prof[T: Ordering](name: String, vs: Seq[T]): (String, Long, Long, Long, String, String) =
      (name, rows.length.toLong, 0L, vs.distinct.length.toLong,
        vs.min.toString, vs.max.toString)
    val expected = Seq(
      prof("o_custkey", rows.map(_._2).toSeq),
      prof("o_orderdate", rows.map(_._5).toSeq),
      prof("o_orderkey", rows.map(_._1).toSeq),
      prof("o_orderpriority", rows.map(_._6).toSeq),
      prof("o_orderstatus", rows.map(_._3).toSeq),
      prof("o_totalprice_c", rows.map(_._4).toSeq))
    val got = Queries.qTableProfile(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getString(5))).toSeq
    assert(got === expected, "profile diverged from the driver-side scan")
    // min/max must be typed, not lexicographic: the key column's max
    // as a NUMBER must equal the emitted repr
    val keyRow = got.find(_._1 == "o_orderkey").get
    assert(keyRow._5.toLong == rows.map(_._1).min &&
      keyRow._6.toLong == rows.map(_._1).max)
  }

  test("funnel and retention match Scala re-derivations") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.relational.Queries
    val evs = Tables(spark, dir, "events")
      .select(col("user_id"), col("event_type"), Queries.nsToSec(col("ts")).as("sec"))
      .as[(Long, String, Long)].collect()
    val wk = 7L * 86400L
    val byUser = evs.groupBy(_._1)
    val t1 = byUser.flatMap { case (u, es) =>
      es.filter(_._2 == "view").map(_._3).minOption.map(u -> _) }
    val t2 = t1.flatMap { case (u, v) =>
      byUser(u).filter(e => e._2 == "click" && e._3 >= v && e._3 <= v + wk)
        .map(_._3).minOption.map(c => u -> (v, c)) }
    val t3 = t2.flatMap { case (u, (_, c)) =>
      byUser(u).filter(e => e._2 == "purchase" && e._3 >= c && e._3 <= c + wk)
        .map(_._3).minOption.map(p => u -> (c, p)) }
    val r = Queries.qFunnel(spark, dir).collect()(0)
    assert(r.getAs[Long]("n_viewers") === t1.size.toLong)
    assert(r.getAs[Long]("n_clickers") === t2.size.toLong)
    assert(r.getAs[Long]("n_purchasers") === t3.size.toLong)
    assert(r.getAs[Long]("sum_click_delay_s") === t2.values.map(p => p._2 - p._1).sum)
    assert(r.getAs[Long]("sum_purchase_delay_s") === t3.values.map(p => p._2 - p._1).sum)
    // funnel must be monotone by construction
    assert(t1.size >= t2.size && t2.size >= t3.size)

    val acts = evs.map(e => (e._1, e._3 / 86400)).distinct
    val cohort = acts.groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    val expRet = acts.groupBy { case (u, d) => (cohort(u), d - cohort(u)) }
      .view.mapValues(_.size.toLong).toMap
    val gotRet = Queries.qRetention(spark, dir).collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> x.getLong(2)).toMap
    assert(gotRet === expRet)
    // offset 0 of each cohort contains the cohort itself
    expRet.keys.filter(_._2 == 0L).foreach { k =>
      assert(gotRet(k) === cohort.count(_._2 == k._1).toLong) }
  }

  test("scd2 intervals match a Scala run-length re-derivation") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.relational.Queries
    val evs = Tables(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        Queries.nsToSec(col("ts")).as("sec"))
      .as[(Long, Long, String, Long)].collect()
    val expected = evs.groupBy(_._2).flatMap { case (u, es) =>
      val sorted = es.sortBy(e => (e._4, e._1))
      val runs = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long, Long)]
      for (e <- sorted) {
        if (runs.nonEmpty && runs.last._1 == e._3) {
          val l = runs.last; runs(runs.length - 1) = (l._1, l._2, e._4, l._4 + 1)
        } else runs += ((e._3, e._4, e._4, 1L))
      }
      runs.zipWithIndex.map { case ((t, f, to, n), i) =>
        (u, i + 1L, t, f, to, n) }
    }.toSet
    val got = Queries.qScd2(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    assert(got === expected)
    // intervals per user must tile without overlap
    got.groupBy(_._1).foreach { case (u, rs) =>
      val sorted = rs.toSeq.sortBy(_._2)
      sorted.sliding(2).foreach {
        case Seq(a, b) => assert(a._5 <= b._4, s"user $u intervals overlap")
        case _ =>
      }
    }
  }

  test("bucketed fact tables co-locate the join: no Exchange in the plan") {
    import org.apache.spark.sql.functions.col
    // the SURVEY §3 claim: bucketing both fact tables on the join key
    // replaces the per-query shuffle with a one-time layout cost
    val l = Tables(spark, dir, "lineitem").select("l_orderkey", "l_quantity")
    val o = Tables(spark, dir, "orders").select("o_orderkey", "o_totalprice")
    spark.sql("DROP TABLE IF EXISTS l_bkt")
    spark.sql("DROP TABLE IF EXISTS o_bkt")
    l.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("l_bkt")
    o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("o_bkt")
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ path
      val j = spark.table("l_bkt")
        .join(spark.table("o_bkt"), col("l_orderkey") === col("o_orderkey"))
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join still shuffles:\n$plan")
      // and it computes the same thing as the plain shuffle join
      val expected = l.join(o, col("l_orderkey") === col("o_orderkey")).count()
      assert(j.count() === expected)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      spark.sql("DROP TABLE IF EXISTS l_bkt")
      spark.sql("DROP TABLE IF EXISTS o_bkt")
    }
  }

  test("native as-of join runs shuffle-free over key-bucketed tables") {
    import org.apache.spark.sql.functions._
    import graft.plans.AsOfJoin
    // the declared ClusteredDistribution means a key-bucketed layout
    // satisfies the operator's requirement outright: no Exchange at
    // all, only the local sorts - the 100 TB repeated-as-of path
    val ev = Tables(spark, dir, "events").select(
      col("event_id"), (col("user_id") % 100 + 1).cast("long").as("key"),
      (lit(788918400L) + (col("event_id") % 2400) * 86400L).as("t"))
    val ord = Tables(spark, dir, "orders").select(
      col("o_custkey").cast("long").as("okey"),
      expr("(unix_micros(cast(o_orderdate as timestamp)) div 1000000)").as("osec"),
      col("o_orderkey"))
    spark.sql("DROP TABLE IF EXISTS ev_bkt")
    spark.sql("DROP TABLE IF EXISTS ord_bkt")
    ev.write.bucketBy(8, "key").sortBy("key", "t")
      .mode("overwrite").saveAsTable("ev_bkt")
    ord.write.bucketBy(8, "okey").sortBy("okey", "osec")
      .mode("overwrite").saveAsTable("ord_bkt")
    try {
      val lp = spark.table("ev_bkt").queryExecution.analyzed
      val rp = spark.table("ord_bkt").queryExecution.analyzed
      def a(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, n: String) =
        p.output.find(_.name == n).get
      val j = org.apache.spark.sql.GraftPlanBridge.ofRows(spark,
        AsOfJoin(lp, rp, a(lp, "key"), a(lp, "t"),
          a(rp, "okey"), a(rp, "osec"), a(rp, "o_orderkey")))
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("AsOfJoin"), s"operator missing:\n$plan")
      assert(!plan.contains("Exchange"), s"bucketed as-of join still shuffles:\n$plan")
      val got = j.select(col("event_id"),
          coalesce(col("o_orderkey"), lit(-1L)).as("k"))
        .orderBy("event_id").collect().map(r => (r.getLong(0), r.getLong(1)))
      val twin = Queries.qAsofNative(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(2)))
      assert(got.toSeq === twin.toSeq)
    } finally {
      spark.sql("DROP TABLE IF EXISTS ev_bkt")
      spark.sql("DROP TABLE IF EXISTS ord_bkt")
    }
  }

  test("q_pivot cells reconcile with q_tumbling's long-format sums") {
    import org.apache.spark.sql.functions.col
    val long = Queries.qTumbling(spark, dir).collect()
      .map(r => (r.getAs[Long]("bucket_h"), r.getAs[String]("event_type")) ->
        r.getAs[Long]("sum_value_c")).toMap
    val wide = Queries.qPivot(spark, dir).collect()
    assert(wide.nonEmpty)
    wide.foreach { r =>
      val h = r.getAs[Long]("bucket_h")
      Queries.EventTypes.foreach { t =>
        assert(r.getAs[Long](s"sum_${t}_c") === long.getOrElse((h, t), 0L),
          s"bucket $h type $t")
      }
    }
    // every long-format cell is represented in the wide format: the
    // fixed pivot domain must actually cover the data's domain
    assert(long.keySet.map(_._2).subsetOf(Queries.EventTypes.toSet),
      "events contain a type outside the fixed pivot domain")
    assert(wide.map(_.getAs[Long]("bucket_h")).toSet === long.keySet.map(_._1))
  }

  test("the as-of strategy is planned once after a native as-of query") {
    Queries.qAsofNative(spark, dir)
    val n = spark.sessionState.planner.strategies.count(_ eq graft.plans.AsOfJoinStrategy)
    assert(n === 1)
  }

  test("native as-of join plans AsOfJoinExec and equals the union-and-window twin") {
    val native = Queries.qAsofNative(spark, dir)
    val phys = native.queryExecution.executedPlan.toString
    assert(phys.contains("AsOfJoin"), s"custom operator not planned:\n$phys")
    val got = native.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val twin = Queries.qAsof(spark, dir).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.nonEmpty && got.toSeq === twin.toSeq)
    // and some events genuinely have no prior order (the -1 arm runs)
    assert(got.exists(_._3 == -1L) && got.exists(_._3 != -1L))
  }

  test("native as-of join tie semantics: inclusive bound, max tie on equal times") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.plans.AsOfJoin
    val l = Seq((1L, 10L, 100L), (2L, 10L, 99L), (3L, 20L, 50L), (4L, 30L, 7L))
      .toDF("lid", "lkey", "lt")
    // key 10: orders at t=100 (ids 5 and 6 - equal time, max tie wins,
    // inclusive bound) and t=101 (must NOT match t=100);
    // key 20: only later orders (no match); key 30 absent entirely
    val r = Seq((10L, 100L, 5L), (10L, 100L, 6L), (10L, 101L, 7L), (20L, 60L, 8L))
      .toDF("rkey", "rt", "rid")
    val lp = l.queryExecution.analyzed
    val rp = r.queryExecution.analyzed
    val j = org.apache.spark.sql.GraftPlanBridge.ofRows(spark,
      AsOfJoin(lp, rp, lp.output(1), lp.output(2),
        rp.output(0), rp.output(1), rp.output(2)))
    val got = j.select(col("lid"), col("rid")).collect()
      .map(row => row.getLong(0) -> (if (row.isNullAt(1)) -1L else row.getLong(1)))
      .toMap
    assert(got === Map(1L -> 6L, 2L -> -1L, 3L -> -1L, 4L -> -1L))
  }

  test("q_range_join matches the naive cross-filter join exactly") {
    import org.apache.spark.sql.functions._
    // the bucketed rewrite must produce the TRUE containment match
    // set: same aggregate rows as the O(n·m) cross-filter reference
    // (each qualifying pair counted exactly once — a double-counted
    // interval straddling a bucket edge would inflate n_orders)
    val got = Queries.qRangeJoin(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val ev = Tables(spark, dir, "events")
      .select(col("event_id"),
        (lit(788918400L) + (col("event_id") % 2400) * 86400L).as("t"))
    val iv = Tables(spark, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"),
        expr("(unix_micros(cast(o_orderdate as timestamp)) div 1000000)").as("lo"))
    val naive = withoutRangeJoinRewrite(ev.crossJoin(iv)
      .filter(col("t") >= col("lo") && col("t") < col("lo") + 7L * 86400L)
      .groupBy("event_id")
      .agg(count(lit(1)).as("n"), min("o_orderkey").as("mn"), sum("o_orderkey").as("sm"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))))
    assert(got.nonEmpty && got.toSet === naive.toSet)
  }

  test("q_interval_join matches the naive cross-filter overlap join exactly") {
    import org.apache.spark.sql.functions._
    // the canonical-bucket rule must emit each overlapping pair
    // exactly once: a pair straddling a bucket edge matches in TWO
    // buckets, and double emission would inflate n_overlaps
    val got = Queries.qIntervalJoin(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    def side(prio: String, days: Long, k: String, lo: String, hi: String) =
      Tables(spark, dir, "orders")
        .filter(col("o_orderpriority") === prio)
        .select(col("o_orderkey").as(k),
          expr("(unix_micros(cast(o_orderdate as timestamp)) div 1000000)").as(lo))
        .withColumn(hi, col(lo) + days * 86400L)
    val naive = withoutRangeJoinRewrite(side("1-URGENT", 7L, "a_key", "a_lo", "a_hi")
      .crossJoin(side("2-HIGH", 10L, "b_key", "b_lo", "b_hi"))
      .filter(col("a_lo") < col("b_hi") && col("b_lo") < col("a_hi"))
      .groupBy("a_key")
      .agg(count(lit(1)).as("n"), min("b_key").as("mn"),
        sum(expr("least(a_hi, b_hi) - greatest(a_lo, b_lo)")).as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))))
    assert(got.nonEmpty && got.toSet === naive.toSet)
  }

  test("q_asof_fwd matches a Scala forward-scan re-derivation") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val evs = Tables(spark, dir, "events")
      .select(col("event_id"), (col("user_id") % 100 + 1).cast("long"))
      .as[(Long, Long)].collect()
      .map { case (eid, key) => (eid, key, 788918400L + (eid % 2400) * 86400L) }
    val ords = Tables(spark, dir, "orders")
      .selectExpr("cast(o_custkey as long)", "o_orderkey",
        "(unix_micros(cast(o_orderdate as timestamp)) div 1000000)")
      .as[(Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(o => (o._3, o._2)).sorted).toMap
    val expected = evs.map { case (eid, key, t) =>
      val m = ords.getOrElse(key, Array.empty[(Long, Long)])
        .find(_._1 >= t) // sorted by (osec, orderkey): first = earliest, min key
      (eid, key, m.map(_._2).getOrElse(-1L), m.map(_._1).getOrElse(-1L))
    }.sortBy(_._1).toSeq
    val got = Queries.qAsofFwd(spark, dir)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got === expected)
  }

  test("q_asof_nearest picks the closer of the two directed matches, ties backward") {
    import spark.implicits._
    val back = Queries.qAsof(spark, dir)
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> (r._3, r._4)).toMap
    val fwd = Queries.qAsofFwd(spark, dir)
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> (r._3, r._4)).toMap
    val evT = Tables(spark, dir, "events")
      .selectExpr("event_id", "788918400 + (event_id % 2400) * 86400").as[(Long, Long)]
      .collect().toMap
    val got = Queries.qAsofNearest(spark, dir)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(got.nonEmpty)
    var fwdWins = 0
    got.foreach { case (eid, _, nk, nt, side) =>
      val t = evT(eid)
      val (bk, bt) = back(eid); val (fk, ft) = fwd(eid)
      val expect =
        if (bt < 0 && ft < 0) (-1L, -1L, -1L)
        else if (bt < 0) (fk, ft, 1L)
        else if (ft < 0) (bk, bt, 0L)
        else if (ft - t < t - bt) (fk, ft, 1L)
        else (bk, bt, 0L) // ties (incl. dt = 0) go backward
      if (side == 1L) fwdWins += 1
      assert((nk, nt, side) === expect, s"event $eid")
    }
    assert(fwdWins > 0 && fwdWins < got.length,
      "both directions must win somewhere or the pick logic is untested")
  }

  test("q_asof_tolerance masks stale matches and reports staleness") {
    import spark.implicits._
    val base = Queries.qAsof(spark, dir)
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> (r._3, r._4)).toMap
    val evT = Tables(spark, dir, "events")
      .selectExpr("event_id", "788918400 + (event_id % 2400) * 86400").as[(Long, Long)]
      .collect().toMap
    val got = Queries.qAsofTolerance(spark, dir)
      .as[(Long, Long, Long, Long, Long)].collect()
    var masked = 0; var kept = 0
    got.foreach { case (eid, _, ak, ao, st) =>
      val (bk, bo) = base(eid); val t = evT(eid)
      if (bo >= 0 && t - bo <= Queries.AsofToleranceSec) {
        kept += 1; assert((ak, ao, st) === ((bk, bo, t - bo)), s"event $eid")
      } else { masked += 1; assert((ak, ao, st) === ((-1L, -1L, -1L)), s"event $eid") }
    }
    assert(kept > 0 && masked > 0, "tolerance never exercised both arms")
  }

  test("q_gapfill carries only purchase values forward, per user in time order") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val evs = Tables(spark, dir, "events")
      .select(col("event_id"), col("user_id"), Queries.nsToSec(col("ts")),
        Queries.cents(col("value")), col("event_type"))
      .as[(Long, Long, Long, Long, String)].collect()
    val expected = evs.groupBy(_._2).map { case (uid, rows) =>
      var fill: Option[Long] = None
      var nObs = 0L; var nUnfilled = 0L; var carried = 0L
      for ((eid, _, sec, vc, typ) <- rows.sortBy(r => (r._3, r._1))) {
        if (typ == "purchase") { fill = Some(vc); nObs += 1 }
        else fill match {
          case Some(v) => carried += v
          case None => nUnfilled += 1
        }
      }
      (uid, rows.length.toLong, nObs, nUnfilled, carried)
    }.toSeq.sortBy(_._1)
    val got = Queries.qGapfill(spark, dir)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got === expected)
  }

  test("q_zorder_skip: z-order dominates on both dims, 1-D sort only on its own") {
    val r = Queries.qZorderSkip(spark, dir).collect()
      .map(x => (x.getString(0), x.getString(1)) ->
        (x.getLong(2), x.getLong(3), x.getLong(4), x.getLong(5))).toMap
    def f(l: String, p: String) = r((l, p))._2 // files_scanned
    // matched rows are layout-independent (no skipped file hid a match)
    for (p <- Seq("box2d", "sk_band"))
      assert(Seq("linear", "sorted", "zorder").map(l => r((l, p))._4).distinct.size === 1)
    // linear prunes nothing on either predicate
    assert(f("linear", "box2d") === r(("linear", "box2d"))._1)
    assert(f("linear", "sk_band") === r(("linear", "sk_band"))._1)
    // the pk-sort prunes the 2-D box but collapses on the sk band
    assert(f("sorted", "box2d") < f("linear", "box2d"))
    assert(f("sorted", "sk_band") === r(("sorted", "sk_band"))._1)
    // z-order prunes BOTH: at least as well as the sort on the box,
    // and strictly better than a full scan on the off-column band
    assert(f("zorder", "box2d") <= f("sorted", "box2d"))
    assert(f("zorder", "sk_band") < r(("zorder", "sk_band"))._1)
  }

  test("q_ewma agrees with a Scala bounded-queue re-derivation, spikes included") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val evs = Tables(spark, dir, "events")
      .select(col("event_id"), col("user_id"), Queries.nsToSec(col("ts")),
        Queries.cents(col("value")))
      .as[(Long, Long, Long, Long)].collect()
    val expected = evs.groupBy(_._2).map { case (uid, rows) =>
      var q = Vector.empty[Long]
      var ewma = 0L; var maxDev = 0L; var nSpikes = 0L; var n = 0L
      for ((_, _, _, vc) <- rows.sortBy(r => (r._3, r._1))) {
        val dev = if (n == 0L) 0L else math.abs(1000L * vc - ewma)
        if (n > 0L && dev > 2L * ewma) nSpikes += 1
        maxDev = math.max(maxDev, dev)
        q = (q :+ vc).takeRight(Queries.EwmaDepth)
        var e = 0L; var w = 1L
        q.foreach { v => e += v * w; w *= 2L }
        ewma = (1000L * e) / (w - 1L)
        n += 1
      }
      (uid, n, ewma, maxDev, nSpikes)
    }.toSeq.sortBy(_._1)
    val got = Queries.qEwma(spark, dir)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got === expected)
    assert(expected.map(_._5).sum > 0, "spike arm never exercised")
  }

  test("q_ohlc bars agree with a Scala group-and-sort re-derivation") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val evs = Tables(spark, dir, "events")
      .select(col("event_id"), col("event_type"), Queries.nsToSec(col("ts")),
        Queries.cents(col("value")))
      .as[(Long, String, Long, Long)].collect()
    val expected = evs.groupBy(e => (e._3 / 3600L, e._2)).map { case ((h, typ), rows) =>
      val sorted = rows.sortBy(r => (r._3, r._1))
      (h, typ, sorted.head._4, rows.map(_._4).max, rows.map(_._4).min,
        sorted.last._4, rows.length.toLong, rows.map(_._4).sum)
    }.toSeq.sortBy(r => (r._1, r._2))
    val got = Queries.qOhlc(spark, dir)
      .as[(Long, String, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got === expected)
  }

  test("q1 aggregates to the 6 flag/status groups with exact cents") {
    val rows = Queries.q1Agg(spark, dir).collect()
    assert(rows.length === 6)
    assert(rows.map(_.getLong(6)).sum > 0) // cnt
  }

  test("q3 returns exactly 10 rows ordered by revenue desc with key tiebreak") {
    val rows = Queries.q3Topk(spark, dir).collect()
    assert(rows.length === 10)
    val revs = rows.map(_.getLong(2))
    assert(revs.sameElements(revs.sortBy(-_)))
  }

  test("sessionization never splits events closer than the 30-min gap") {
    val sess = Queries.qSessionize(spark, dir)
    // every session's span must be consistent: n_events>=1, dur>=0
    val bad = sess.filter("n_events < 1 or dur_sec < 0").count()
    assert(bad === 0)
    // sessions per user are dense 1..K
    val dense = sess.groupBy("user_id")
      .agg(org.apache.spark.sql.functions.max("session_id").as("mx"),
        org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n"))
      .filter("mx != n").count()
    assert(dense === 0)
  }

  test("window rn is dense per user") {
    val w = Queries.qWindow(spark, dir)
    val perUser = w.groupBy("user_id")
      .agg(org.apache.spark.sql.functions.max("rn").as("mx"),
        org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n"))
      .filter("mx != n").count()
    assert(perUser === 0)
  }

  test("q13 distribution accounts for every customer exactly once") {
    import org.apache.spark.sql.functions.{col, sum}
    val dist = Queries.q13Custdist(spark, dir)
    val total = dist.agg(sum(col("custdist"))).collect()(0).getLong(0)
    assert(total === Tables(spark, dir, "customer").count())
    // the zero stratum must equal the anti-join count (customers with
    // no non-urgent orders) — 0 rows at small sf is fine, a dropped
    // left side is not
    val o = Tables(spark, dir, "orders").filter("o_orderpriority <> '1-URGENT'")
    val none = Tables(spark, dir, "customer")
      .join(o, col("c_custkey") === col("o_custkey"), "left_anti").count()
    val zeroStratum = dist.filter("c_count = 0").collect()
      .headOption.map(_.getAs[Long]("custdist")).getOrElse(0L)
    assert(zeroStratum === none)
  }

  test("q14 ratio is the exact floor of the integer pair; arms within bounds") {
    val r = Queries.q14Promo(spark, dir).collect()(0)
    val promo = r.getAs[Long]("promo_revenue_c")
    val total = r.getAs[Long]("total_revenue_c")
    val ratio = r.getAs[Long]("promo_ratio_u")
    assert(promo >= 0 && promo <= total)
    assert(ratio === math.floor(1000000.0 * promo / total).toLong)
  }

  test("q18 rows really exceed the quantity threshold and order sanely") {
    val rows = Queries.q18Large(spark, dir).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Long]("sum_qty_c") > 21000))
    val prices = rows.map(_.getAs[Long]("totalprice_c"))
    assert(prices.sameElements(prices.sortBy(-(_: Long))))
  }

  test("q19 matches a direct filter-after-join re-derivation") {
    import org.apache.spark.sql.functions.col
    val got = Queries.q19Disjunct(spark, dir).collect()(0)
    // third opinion: plain inner join then a WHERE over the joined frame
    val l = Tables(spark, dir, "lineitem")
    val p = Tables(spark, dir, "part")
    val joined = l.join(p, col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
          col("l_quantity") >= 1 && col("l_quantity") <= 11) ||
        (col("p_brand") === "Brand#2" && col("p_size").between(1, 25) &&
          col("l_quantity") >= 10 && col("l_quantity") <= 20) ||
        (col("p_brand") === "Brand#3" && col("p_size").between(1, 35) &&
          col("l_quantity") >= 20 && col("l_quantity") <= 30))
    assert(got.getAs[Long]("n_items") === joined.count())
  }

  test("q4 semi-join counts each order once regardless of late-line multiplicity") {
    import org.apache.spark.sql.functions.{col, expr, sum}
    val n = Queries.q4Priority(spark, dir)
      .agg(sum(col("n_orders"))).collect()(0).getLong(0)
    // distinct qualifying orders, re-derived without the semi join
    val o = Tables(spark, dir, "orders")
      .filter(col("o_orderdate") >= org.apache.spark.sql.functions.lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < org.apache.spark.sql.functions.lit("1996-10-01").cast("timestamp"))
    val l = Tables(spark, dir, "lineitem")
    val direct = o.join(l, col("o_orderkey") === col("l_orderkey") &&
        col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
      .select("o_orderkey").distinct().count()
    assert(n === direct)
  }

  test("rollup contains per-nation, per-region and grand-total strata") {
    val gids = Queries.qRollup(spark, dir).select("gid").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(gids === Set(0L, 1L, 3L))
  }

  test("cube contains all four strata; every stratum re-totals the customers") {
    import org.apache.spark.sql.functions.sum
    val cube = Queries.qCube(spark, dir).collect()
    assert(cube.map(_.getAs[Long]("gid")).toSet === Set(0L, 1L, 2L, 3L))
    val total = Tables(spark, dir, "customer").count()
    // each grouping stratum partitions the same row set
    Seq(0L, 1L, 2L, 3L).foreach { g =>
      assert(cube.filter(_.getAs[Long]("gid") == g)
        .map(_.getAs[Long]("n_customers")).sum === total, s"stratum $g")
    }
  }

  test("q_recursive chains agree with an iterative Scala closure") {
    import spark.implicits._
    val bal = Tables(spark, dir, "customer")
      .selectExpr("c_custkey", "CAST(FLOOR(c_acctbal*100) AS LONG)")
      .as[(Long, Long)].collect().toMap
    def chain(c: Long): Seq[Long] = {
      val b = scala.collection.mutable.ArrayBuffer(c)
      var n = c
      while (n > 0 && bal.contains(n / 7)) { n = n / 7; b += n }
      b.toSeq
    }
    val got = Queries.qRecursive(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toMap
    assert(got.size == bal.size)
    for ((c, _) <- bal) {
      val ch = chain(c)
      assert(got(c) == (ch.size - 1L, ch.min, ch.size.toLong,
        ch.map(bal).sum), s"customer $c: ${got(c)} vs chain $ch")
    }
    // the hierarchy must be non-trivial: at least one depth-3 chain
    assert(got.values.exists(_._1 >= 3L), "hierarchy degenerate")
  }
}
