package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.{GraftSession, Scratch}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Invariants for the r11b table-format additions: hidden
  * partitioning (transform-derived pruning loses no matches and reads
  * only the derived cells), position deletes (physical row positions
  * equal the closed-form within-file rank; data files never
  * rewritten), bin-packing compaction (lossless rewrite,
  * order-preserving bins, the files-vs-rows read trade in the claimed
  * direction), and the log tail's change-commit skip being
  * load-bearing.
  */
class TableFormat2Spec extends AnyFunSuite with BeforeAndAfterAll {

  val dir = "/root/testdata/sf0.001"

  @transient lazy val spark: SparkSession = GraftSession("TableFormat2Spec", 4)

  override def afterAll(): Unit = spark.stop()

  test("hidden partitioning: raw-predicate pruning equals full-scan truth") {
    import HiddenPartition._
    val st = HiddenPartition.stage(spark, dir)
    try {
      val o = HiddenPartition.base(spark, dir)
      val mk = o.agg(max("c")).collect()(0).getLong(0)
      val inWin = col("d") >= lit(DLo).cast("timestamp") &&
        col("d") <= lit(DHi).cast("timestamp")
      val k = o.filter(col("c") >= (4L * mk) / 10L && inWin)
        .agg(min("c")).collect()(0).getLong(0)
      val kb = graft.functions.GraftHash.md5PrefixLong(
        org.apache.spark.unsafe.types.UTF8String.fromString(s"hp:$k")) %
        Buckets

      // plan from the cells the written data files carry (their own
      // partition values), with the spec's own predicate
      val cells = spark.read.parquet(s"${st.store}/data")
        .select(col("pm").cast("long").as("pm"), col("pb").cast("long").as("pb"))
        .distinct()
      val expected = cells
        .filter(col("pm") >= PmLo && col("pm") <= PmHi && col("pb") === kb)
        .select("pm", "pb").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      // every planned cell is inside the derived predicate box
      expected.foreach { case (pm, pb) =>
        assert(pm >= PmLo && pm <= PmHi && pb == kb)
      }
      // the store's own plan over its collected stats is the same cells
      val hit = plan(st, kb)
      assert(hit.map(r => (r.getAs[Long]("pm"), r.getAs[Long]("pb"))).sorted ===
        expected.toSeq.sorted, "the store's plan differs from the data's cells")
      // the derived plan is a strict subset of the table's cells —
      // the pruning a raw-column query gets for free under hidden
      // partitioning
      assert(hit.length.toLong < cells.count(),
        "hidden-partition plan did not prune anything")

      // no lost matches: pruned read's match set == full-scan match set
      // d is TIMESTAMP_NTZ in the testdata — collect it as epoch micros
      val pruned = st.read(hit)
        .filter(col("c") === k && inWin)
        .select(col("c"), unix_micros(col("d").cast("timestamp")).as("du"),
          col("total_c")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
      val truth = o.filter(col("c") === k && inWin)
        .select(col("c"), unix_micros(col("d").cast("timestamp")).as("du"),
          col("total_c")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
      assert(truth.nonEmpty, "degenerate fixture: no matching rows")
      assert(pruned.toSeq == truth.toSeq,
        "transform-derived plan lost or invented matches")
    } finally st.drop()
  }

  test("position deletes: positions equal within-file rank, no rewrite") {
    val st = PosDelete.stage(spark, dir)
    try {
      // v2 (deletes applied) references byte-identical data files
      assert(SnapshotStore.files(st.store, st.v1) ==
        SnapshotStore.files(st.store, st.v2),
        "position-delete commit rewrote data files")

      // engine-observed _metadata.row_index equals the closed-form
      // k-rank within each file — per row, not just in aggregate
      val scan = PosDelete.metaScan(spark, st.store)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("fp").orderBy("k")
      val mismatch = scan
        .withColumn("rank", row_number().over(w) - 1)
        .filter(col("rank") =!= col("pos")).count()
      assert(mismatch == 0L,
        s"$mismatch rows whose physical row_index differs from the k-rank")

      // deleted keys invisible at v2, visible at v1
      val dels = spark.read.parquet(s"${st.store}/_deletes/pd1")
      val live = scan.join(broadcast(dels), Seq("fp", "pos"), "left_anti")
      assert(live.filter(col("k") % 9 === 4).count() == 0L)
      val v1Deleted = scan.filter(col("k") % 9 === 4).count()
      assert(v1Deleted > 0L, "degenerate fixture: nothing deleted")
      assert(live.count() == scan.count() - v1Deleted)
    } finally st.drop()
  }

  test("bin-pack compaction: lossless, ordered bins, the claimed trade") {
    val st = BinPack.stage(spark, dir)
    try {
      // lossless rewrite: v2 reads row-for-row equal to v1
      val v1 = SnapshotStore.read(spark, st.store, st.v1)
        .select("k", "total_c").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val v2 = SnapshotStore.read(spark, st.store, st.v2)
        .select("k", "total_c").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(v1 == v2, "compaction changed the data")

      // bin count within target; bins are contiguous, non-interleaved
      // key ranges (order-preserving packing keeps pruning usable)
      val bs = st.binStats
      assert(bs.length <= BinPack.NBins)
      bs.sliding(2).foreach {
        case Seq((_, _, hiA, _), (_, loB, _, _)) =>
          assert(hiA <= loB, s"bins interleave: hi $hiA > next lo $loB")
        case _ =>
      }
      // real consolidation
      assert(bs.length < st.stats.length / 4)

      // the trade on the band query: fewer files opened, more rows read
      val (loB, hiB) = ((30L * st.mk) / 100L, (35L * st.mk) / 100L)
      val before = st.stats.filter(s => s._3 >= loB && s._2 <= hiB)
      val after = bs.filter(s => s._3 >= loB && s._2 <= hiB)
      assert(after.length <= before.length)
      assert(after.map(_._4).sum >= before.map(_._4).sum)
    } finally st.drop()
  }

  test("optimistic commits: isolation, conflict arithmetic, orphan reclaim") {
    import CommitConflict._
    val store = CommitConflict.stage(spark, dir)
    try {
      val v1Rows = SnapshotStore.read(spark, store, 1)
        .agg(count(lit(1)), sum("total_c")).collect()(0)
      val fA = stageRewrite(spark, store, 1, YearA, DeltaA)
      val vA = attemptCommit(store, 1, Set(YearA), fA)
      assert(vA.contains(2))
      val fB = stageRewrite(spark, store, 1, YearB, DeltaB)
      val vB = attemptCommit(store, 1, Set(YearB), fB)
      assert(vB.contains(3), "disjoint writer based on v1 must retry-commit")
      val fC = stageRewrite(spark, store, 1, YearA, DeltaC)
      assert(attemptCommit(store, 1, Set(YearA), fC).isEmpty,
        "same-partition racer must abort")

      // validation arithmetic is exactly the partition diff
      assert(changedPartitions(store, 1, 2) == Set(YearA))
      assert(changedPartitions(store, 1, 3) == Set(YearA, YearB))
      assert(changedPartitions(store, 2, 3) == Set(YearB))

      // snapshot isolation: v1 reads unchanged after both commits
      val v1After = SnapshotStore.read(spark, store, 1)
        .agg(count(lit(1)), sum("total_c")).collect()(0)
      assert(v1After.getLong(0) == v1Rows.getLong(0) &&
        v1After.getLong(1) == v1Rows.getLong(1))

      // C's orphan on disk but unreferenced; expire reclaims it and
      // the head read is identical before and after
      val before = SnapshotStore.read(spark, store, 3)
        .agg(count(lit(1)), sum("total_c")).collect()(0)
      assert(fC.forall(f => new java.io.File(s"$store/$f").isFile))
      val reclaimed = SnapshotStore.expire(store, 3)
      assert(fC.toSet.subsetOf(reclaimed.toSet))
      assert(fC.forall(f => !new java.io.File(s"$store/$f").isFile))
      val after = SnapshotStore.read(spark, store, 3)
        .agg(count(lit(1)), sum("total_c")).collect()(0)
      assert(after.getLong(0) == before.getLong(0) &&
        after.getLong(1) == before.getLong(1))
    } finally Scratch.rm(store)
  }

  test("row lineage: per-row ids and seqs survive the copy-on-write") {
    // replicate the op's store flow but inspect PER ROW, which the
    // aggregate-cohort oracle cannot: every surviving key's lineage
    // must match the closed-form rule exactly
    val out = RowLineage.rowLineage(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val base = graft.Tables(spark, dir, "orders")
      .select(col("o_orderkey").as("k"),
        floor(col("o_totalprice") * 100).cast("long").as("total_c"),
        year(col("o_orderdate")).cast("long").as("p"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val my = TableMerge.MergeYears.map(_.toLong).toSet
    def del(k: Long, p: Long) = my(p) && k % 101 == 0
    def upd(k: Long, p: Long) = my(p) && k % 97 == 0 && k % 101 != 0
    def ins(k: Long, p: Long) = my(p) && k % 103 == 0
    val keep = base.filter { case (k, _, p) => !del(k, p) && !upd(k, p) }
    val updN = base.count { case (k, _, p) => upd(k, p) }
    val insN = base.count { case (k, _, p) => ins(k, p) }
    // carried rows: (1,1) cohort counts/sums match the untouched set
    val (n11, s11, t11) = (out.get((1L, 1L)).map(_._1).getOrElse(0L),
      out.get((1L, 1L)).map(_._2).getOrElse(0L),
      out.get((1L, 1L)).map(_._3).getOrElse(0L))
    assert(n11 == keep.length.toLong, "carried cohort size drifted")
    assert(s11 == keep.map(_._1).sum, "carried row_ids not preserved")
    assert(t11 == keep.map(_._2).sum, "carried values changed")
    // updated rows kept their ids (sum of row_ids == sum of keys)
    assert(out((1L, 2L))._1 == updN.toLong)
    assert(out((1L, 2L))._2 ==
      base.filter { case (k, _, p) => upd(k, p) }.map(_._1).sum,
      "an update re-keyed its row_id")
    // inserts minted fresh ids at the offset
    assert(out((2L, 2L))._1 == insN.toLong)
    assert(updN > 0 && insN > 0, "degenerate fixture")
  }

  test("log tail: the change-commit skip is load-bearing") {
    val root = LogStore.stageHistory(spark, dir)
    try {
      // the compaction commit ADDS files that carry only rewritten
      // rows — a tail that consumed them would double-count; the drop
      // commit is remove-only
      assert(LogStore.removesOf(root, 8).nonEmpty)
      assert(LogStore.addsOf(root, 8).nonEmpty,
        "fixture lost its teeth: compaction adds nothing to skip")
      assert(LogStore.removesOf(root, 9).nonEmpty)
      assert(LogStore.addsOf(root, 9).isEmpty)
      // the rewritten rows in commit 8's adds are exactly the rows the
      // tail already consumed from commits 1..3
      val merged = spark.read.parquet(
        LogStore.addsOf(root, 8).map(f => s"$root/$f"): _*)
      val first3 = (1 to 3).flatMap(v => LogStore.addsOf(root, v))
      val orig = spark.read.parquet(first3.map(f => s"$root/$f"): _*)
      assert(merged.count() == orig.count())
      assert(merged.agg(sum("k")).collect()(0).getLong(0) ==
        orig.agg(sum("k")).collect()(0).getLong(0))
    } finally LogStore.dropRoot(root)
  }
}
