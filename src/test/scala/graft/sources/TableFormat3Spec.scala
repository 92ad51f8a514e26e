package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.{GraftSession, Scratch}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Round-12 table-format contracts: sequence-numbered equality
  * deletes (reinsert survives its older delete; naive version-scoped
  * application would swallow it), orphan-file GC (age-gated,
  * manifest-driven, committed data untouchable), and the changelog
  * tail (the streamed per-commit feed equals a batch replay of the
  * same commit range).
  */
class TableFormat3Spec extends AnyFunSuite with BeforeAndAfterAll {

  val dir = "/root/testdata/sf0.001"

  @transient lazy val spark: SparkSession = GraftSession("TableFormat3Spec", 4)

  override def afterAll(): Unit = spark.stop()

  test("eq-delete sequencing: reinsert survives its older delete; naive application swallows it; compaction folds the debt") {
    val store = EqDelete.stage(spark, dir)
    try {
      // the reinserted generation is visible at v3 WITH its new payload
      val v3 = SnapshotStore.readWithSeqDeletes(spark, store, 3, "k")
      val res3 = v3.filter(col("k") % 10 === 3).collect()
      assert(res3.nonEmpty, "every reinserted key was swallowed at v3")
      assert(res3.forall(_.getAs[Long]("k") % 20 == 3),
        "a non-reinserted deleted key resurrected at v3")
      // payload check: +7 cents against the base table
      val baseTc = graft.Tables(spark, dir, "orders")
        .filter(col("o_orderkey") % 20 === 3)
        .select(col("o_orderkey"),
          floor(col("o_totalprice") * 100).cast("long").as("tc"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      res3.foreach { r =>
        assert(r.getAs[Long]("total_c") ===
          baseTc(r.getAs[Long]("k")) + 7L,
          s"reinserted key ${r.getAs[Long]("k")} carries the OLD payload")
      }
      // the contrast that motivates sequencing: version-scoped delete
      // application (deletes hit ALL the version's files) wrongly
      // masks the reinserted generation too
      val naive3 = SnapshotStore.readWithDeletes(spark, store, 3, "k")
      assert(naive3.filter(col("k") % 10 === 3).count() === 0L,
        "naive application unexpectedly kept reinserted keys " +
          "(the contrast test is vacuous)")
      assert(naive3.count() < v3.count())

      // v4: the second delete out-sequences BOTH generations
      val v4 = SnapshotStore.readWithSeqDeletes(spark, store, 4, "k")
      assert(v4.filter(col("k") % 40 === 3).count() === 0L,
        "the sequence-4 delete failed to mask a reinserted key")
      // no data file was rewritten by any delete commit
      assert(SnapshotStore.files(store, 2) === SnapshotStore.files(store, 1))
      assert(SnapshotStore.files(store, 4) === SnapshotStore.files(store, 3))

      // time travel is stable after later commits
      val n1 = SnapshotStore.readWithSeqDeletes(spark, store, 1, "k").count()
      val nBase = graft.Tables(spark, dir, "orders").count()
      assert(n1 === nBase, "v1 no longer reads the base table")
      assert(SnapshotStore.readWithSeqDeletes(spark, store, 2, "k")
        .filter(col("k") % 10 === 3).count() === 0L)

      // compaction folds the delete debt away: one rewrite, empty
      // dfiles, plain read ≡ the seq-delete-applied read
      val head = v4.select(col("k"), col("ck"), col("total_c"),
        col("p").cast("long").as("p"))
      val before = SnapshotStore.listDataFiles(store).toSet
      head.repartition(col("p"))
        .write.mode("append").partitionBy("p").parquet(store)
      val v5 = SnapshotStore.commitWithDeletes(store,
        SnapshotStore.listDataFiles(store).filterNot(before), Seq.empty)
      assert(SnapshotStore.deletesOf(store, v5).isEmpty)
      val a4 = v4.agg(count(lit(1)), sum("k"), sum("total_c")).collect()(0)
      val a5 = SnapshotStore.read(spark, store, v5)
        .agg(count(lit(1)), sum("k"), sum("total_c")).collect()(0)
      assert(a5 === a4, "compaction changed the table")
    } finally TableMerge.dropStore(store)
  }

  test("orphan gc: age-gated, manifest-driven, committed files untouchable, idempotent") {
    Scratch.withDir("ogc_spec") { root =>
      val o = TableRefs.ordersYkp(spark, dir)
      val (y0, _) = TableRefs.yearBounds(spark, dir)
      val base = TableRefs.writeYears(spark, root, o, y0, y0 + 1)
      val v1 = SnapshotStore.commit(root, base)
      Refs.set(root, "main", v1)
      val mainBefore = Refs.read(spark, root, "main")
        .agg(count(lit(1)), sum("pc")).collect()(0)
      // one orphan past the gate, one inside it; backdate EVERYTHING
      // committed too — survival must come from manifests, not age
      val orphOld = TableRefs.writeYears(spark, root, o, y0 + 2, y0 + 2)
      val weekAgo = System.currentTimeMillis() - 7L * 24 * 3600 * 1000
      SnapshotStore.listDataFiles(root).foreach(f =>
        new java.io.File(s"$root/$f").setLastModified(weekAgo): Unit)
      val orphYoung = TableRefs.writeYears(spark, root, o, y0 + 3, y0 + 3)

      val cutoff = System.currentTimeMillis() - 3600L * 1000
      val (reclaimed, kept) = SnapshotStore.orphanGc(root, cutoff)
      assert(reclaimed.toSet === orphOld.toSet,
        "gc reclaimed something other than exactly the old orphans")
      assert(kept.toSet === orphYoung.toSet,
        "the in-flight (young) orphan did not survive the age gate")
      // committed files are all still on disk, and the ref reads the
      // same table
      assert(base.forall(f => new java.io.File(s"$root/$f").exists()),
        "gc touched a committed file")
      val mainAfter = Refs.read(spark, root, "main")
        .agg(count(lit(1)), sum("pc")).collect()(0)
      assert(mainAfter === mainBefore, "main's read changed across gc")
      // a second sweep finds nothing new to reclaim
      val (again, keptAgain) = SnapshotStore.orphanGc(root, cutoff)
      assert(again.isEmpty && keptAgain.toSet === orphYoung.toSet)
    }
  }

  test("distributed orphan census matches the staged layout closed-form") {
    val (y0, _) = TableRefs.yearBounds(spark, dir)
    val got = OrphanCensus.orphanCensus(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    // 7 staged years: d ≤ 4 committed (1 live file each), d = 5 one
    // old + one young orphan, d = 6 one old orphan
    val expected = (0 to 6).map { d =>
      (y0 + d, if (d == 5) 2L else 1L, if (d <= 4) 1L else 0L,
        if (d >= 5) 1L else 0L, if (d == 5) 1L else 0L)
    }
    assert(got === expected, "census diverged from the staged layout")
  }

  test("metadata tables: per-snapshot partition census + refs, no data IO") {
    val (y0, _) = TableRefs.yearBounds(spark, dir)
    val got = MetaTables.metaTables(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSeq
    val expected =
      (0 to 2).map(d => (1L, y0 + d, 1L, "rel")) ++
      (0 to 3).map(d => (2L, y0 + d, 1L, "main")) ++
      ((0 to 2).map(d => (3L, y0 + d, 1L, "audit")) :+ (3L, y0 + 4, 1L, "audit"))
    assert(got === expected, "metadata census diverged from the staged layout")
    // v3 (the audit branch) must NOT see main's y0+3 advance
    assert(!got.exists(r => r._1 == 3L && r._2 == y0 + 3),
      "branch isolation leaked across the metadata census")
  }

  test("orphan gc live set protects committed delete files wherever they live") {
    Scratch.withDir("ogcdel_spec") { root =>
      val o = TableRefs.ordersYkp(spark, dir)
      val (y0, _) = TableRefs.yearBounds(spark, dir)
      val base = TableRefs.writeYears(spark, root, o, y0, y0)
      SnapshotStore.commit(root, base)
      // a delete file committed OUTSIDE the `_deletes/` underscore
      // convention: the live set must protect it via the manifest's
      // dfiles reference, not via the listing's underscore skip
      o.filter(col("y") === y0).select(col("k")).limit(5).coalesce(1)
        .write.parquet(s"$root/deletes_x/eq1")
      val delFiles = SnapshotStore.listDataFiles(root)
        .filter(_.startsWith("deletes_x/"))
      assert(delFiles.nonEmpty, "staging produced no visible delete file")
      SnapshotStore.commitWithDeletes(root, base, Seq("deletes_x/eq1"))
      val weekAgo = System.currentTimeMillis() - 7L * 24 * 3600 * 1000
      SnapshotStore.listDataFiles(root).foreach(f =>
        new java.io.File(s"$root/$f").setLastModified(weekAgo): Unit)
      val (reclaimed, _) =
        SnapshotStore.orphanGc(root, System.currentTimeMillis() - 1000)
      assert(reclaimed.isEmpty,
        s"gc reclaimed manifest-referenced files: $reclaimed")
      assert(delFiles.forall(f => new java.io.File(s"$root/$f").exists()),
        "a committed delete file vanished")
    }
  }

  test("hidden+zorder composition: both prune layers active, no false negatives, files z-sorted") {
    val st = HiddenZOrder.stage(spark, dir)
    try {
      val afterQuarter = HiddenZOrder.afterQuarter(st)
      val hit = HiddenZOrder.plan(st)
      // both layers genuinely prune — an inactive layer collapses one
      // of these strict inequalities
      assert(hit.length < afterQuarter.length,
        "the z-order stats layer pruned nothing inside the quarter cells")
      assert(afterQuarter.length < st.stats.length,
        "the quarter-transform layer pruned nothing")
      // level-2 survivors are a subset of level-1 survivors
      assert(hit.toSet.subsetOf(afterQuarter.toSet))
      // no false negative: the pruned read's matched aggregate equals
      // the full-table computation
      val (cLo, cHi, tcLo, tcHi) = HiddenZOrder.box(st)
      val inBox = col("d") >= lit(HiddenZOrder.DLo).cast("timestamp") &&
        col("d") <= lit(HiddenZOrder.DHi).cast("timestamp") &&
        col("c").between(cLo, cHi) && col("total_c").between(tcLo, tcHi)
      val full = HiddenZOrder.base(spark, dir).filter(inBox)
        .agg(count(lit(1)), sum("total_c")).collect()(0)
      assert(full.getLong(0) > 0, "the box query is vacuous at spec scale")
      val pruned = st.read(hit).filter(inBox)
        .agg(count(lit(1)), sum("total_c")).collect()(0)
      assert(pruned === full, "a pruned file contained a match")
      // physical clustering: rows inside one file are z-sorted (the
      // row-group-envelope tightness the layout promises)
      val zs = st.read(hit.take(1)).select("z").collect().map(_.getLong(0))
      assert(zs.sameElements(zs.sorted), "file rows are not z-sorted")
    } finally st.drop()
  }

  test("rollback: metadata-only restore, history preserved, expire reclaims the dead branch") {
    val store = TableMerge.stageStore(spark, dir, "rb_spec")
    try {
      val base = TableMerge.baseTable(spark, dir)
      def aggOf(v: Int) = SnapshotStore.read(spark, store, v)
        .agg(count(lit(1)), sum("k"), sum("total_c")).collect()(0)
      val a1 = aggOf(1)
      TableMerge.applyChangeset(spark, store, TableMerge.changeset(base)): Unit
      val v1files = SnapshotStore.files(store, 1)
      val v2files = SnapshotStore.files(store, 2)
      val a2 = aggOf(2)
      assert(a2 !== a1, "the bad commit changed nothing — the spec is vacuous")
      // the rollback commit: v1's file list VERBATIM, no data moved
      val v3 = SnapshotStore.rollback(store, 1)
      assert(SnapshotStore.files(store, v3) === v1files,
        "rollback did not restore the exact file list")
      assert(aggOf(v3) === a1, "rollback changed the table")
      // history preserved: the bad version still reads
      assert(aggOf(2) === a2, "the rolled-back version became unreadable")
      // work continues on the RESTORED lineage
      val ys = TableMerge.MergeYears.map(_.toLong)
      TableMerge.applyChangeset(spark, store,
        base.filter(col("p").isin(ys: _*) && col("k") % Rollback.UMod2 === 0)
          .select(col("k"), col("ck"), (col("total_c") + 9L).as("total_c"),
            col("p"), lit("U").as("op"))): Unit
      val a4 = aggOf(4)
      assert(a4.getLong(0) === a1.getLong(0),
        "the update-only changeset changed the row count")
      // expire to head reclaims the dead branch's files (v2's rewrites)
      // without disturbing the surviving lineage
      val dead = SnapshotStore.expire(store, 4).toSet
      assert((v2files.toSet -- v1files).subsetOf(dead),
        "a dead-branch file survived expire")
      assert(aggOf(4) === a4, "head read changed across expire")
    } finally TableMerge.dropStore(store)
  }

  test("join-view delta maintenance lands pointwise on a Spark full recompute") {
    // independent formulation: recompute the post-merge join view with
    // Spark (not DuckDB), compare against the delta-maintained one
    val got = graft.ops.Pipeline.ivmJoin(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val store = TableMerge.stageStore(spark, dir, "ivmj_spec")
    try {
      TableMerge.applyChangeset(spark, store,
        TableMerge.changeset(TableMerge.baseTable(spark, dir))): Unit
      val cust = graft.Tables(spark, dir, "customer")
        .select(col("c_custkey").as("ck"),
          col("c_nationkey").cast("long").as("nation"))
      val expected = SnapshotStore.read(spark, store, 2)
        .join(cust, Seq("ck"))
        .groupBy("nation")
        .agg(count(lit(1)).as("n_orders"), sum("total_c").as("sum_total_c"))
        .orderBy("nation").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(got === expected,
        "the delta-maintained join view diverged from the recompute")
      assert(got.nonEmpty)
    } finally TableMerge.dropStore(store)
  }

  test("changelog tail: the streamed feed equals a batch replay of the same commit range") {
    // batch replay: stage, apply the three waves, diff each pair
    val store = TableMerge.stageStore(spark, dir, "stail_spec")
    try {
      val cs = TableMerge.changeset(TableMerge.baseTable(spark, dir))
        .localCheckpoint()
      for (w <- 0L until 3L)
        TableMerge.applyChangeset(spark, store,
          cs.filter(col("k") % 3 === w)): Unit
      val batchRows = (2 to 4).flatMap { v =>
        SnapshotDiff.diff(spark, store, v - 1, v)
          .groupBy("op")
          .agg(count(lit(1)).as("n_keys"), sum("k").as("sum_key"),
            sum("total_c").as("sum_total_c"))
          .collect()
          .map(r => (v.toLong, r.getString(0), r.getLong(1),
            r.getLong(2), r.getLong(3)))
      }.sortBy(t => (t._1, t._2))
      val streamed = graft.sources.SnapshotDiff.snapshotTail(spark, dir)
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSeq
      assert(streamed === batchRows,
        "the tailed change feed diverged from the batch replay")
      // coverage expectations derive from the changeset itself: an
      // EMPTY wave (possible at smoke scale) is a zero-delta commit
      // that legitimately contributes no feed rows
      val waveOps = cs.select((col("k") % 3).as("w"), col("op"))
        .distinct().collect().map(r => (r.getLong(0), r.getString(1)))
      val nonEmptyWaves = waveOps.map(_._1).toSet
      assert(streamed.map(_._1).toSet === nonEmptyWaves.map(_ + 2),
        "feed versions diverged from the non-empty commit set")
      // every changed op class of a non-empty wave appears, plus the
      // copy-on-write N rows
      assert(streamed.map(_._2).toSet ===
        waveOps.map(_._2).toSet + "N")
      assert(streamed.nonEmpty)
    } finally TableMerge.dropStore(store)
  }
}
