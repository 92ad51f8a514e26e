package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.{GraftSession, Scratch}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** File-level contract of the copy-on-write MERGE: only the touched
  * partitions are rewritten (untouched partitions keep byte-identical
  * file lists across versions), time travel to the pre-merge version
  * still reads the original table, and the merge's row arithmetic
  * (deletes out, updates replaced, inserts in) reconciles exactly.
  */
class TableMergeSpec extends AnyFunSuite with BeforeAndAfterAll {

  val dir = "/root/testdata/sf0.001"

  @transient lazy val spark: SparkSession = GraftSession("TableMergeSpec", 4)

  override def afterAll(): Unit = spark.stop()

  test("merge rewrites ONLY touched partitions; v1 time travel intact") {
    Scratch.withDir("tmerge_spec") { store =>
      val (v1, v2, touched) = TableMerge.runMerge(spark, dir, store)
      // at smoke scale not every target year necessarily receives a
      // changeset hit — but touched must be a nonempty subset, and
      // everything else must stay untouched
      assert(touched.nonEmpty &&
        touched.forall(TableMerge.MergeYears.map(_.toLong).contains),
        s"touched $touched outside the target years")
      val f1 = SnapshotStore.files(store, v1).toSet
      val f2 = SnapshotStore.files(store, v2).toSet
      def part(f: String): String = f.takeWhile(_ != '/')
      val touchedDirs = touched.map(p => s"p=$p").toSet
      // untouched partitions: identical file lists, by name
      assert(f1.filterNot(f => touchedDirs(part(f))) ===
        f2.filterNot(f => touchedDirs(part(f))),
        "an untouched partition's files changed across the merge")
      // touched partitions: fully rewritten (no v1 file survives)
      assert(f2.filter(f => touchedDirs(part(f)))
        .forall(f => !f1.contains(f)),
        "a touched partition still references a pre-merge file")

      // v1 still reads the ORIGINAL table (snapshot isolation)
      val base = graft.Tables(spark, dir, "orders")
        .agg(count(lit(1)), sum(floor(col("o_totalprice") * 100).cast("long")),
          sum(col("o_orderkey"))).collect()(0)
      val back1 = SnapshotStore.read(spark, store, v1)
        .agg(count(lit(1)), sum(col("total_c")), sum(col("k"))).collect()(0)
      assert(back1 === base, "time travel to v1 no longer reads the base table")

      // row arithmetic reconciles: |v2| = |v1| - deletes + inserts
      val cs = TableMerge.changeset(
        graft.Tables(spark, dir, "orders")
          .select(col("o_orderkey").as("k"), col("o_custkey").as("ck"),
            floor(col("o_totalprice") * 100).cast("long").as("total_c"),
            year(col("o_orderdate")).cast("long").as("p")))
        .groupBy("op").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(cs.getOrElse("D", 0L) > 0 && cs.getOrElse("U", 0L) > 0 &&
        cs.getOrElse("I", 0L) > 0, "every changeset arm must be exercised")
      val n1 = SnapshotStore.read(spark, store, v1).count()
      val n2 = SnapshotStore.read(spark, store, v2).count()
      assert(n2 === n1 - cs("D") + cs("I"))

      // and expire(v2) reclaims the superseded touched-partition files
      // without disturbing the retained version's read
      val s2 = SnapshotStore.read(spark, store, v2)
        .agg(sum(col("total_c")), sum(col("k"))).collect()(0)
      val dead = SnapshotStore.expire(store, v2)
      assert(dead.nonEmpty, "expire reclaimed nothing")
      val s2b = SnapshotStore.read(spark, store, v2)
        .agg(sum(col("total_c")), sum(col("k"))).collect()(0)
      assert(s2b === s2, "v2 read changed after expire")
    }
  }

  test("cdc batches apply exactly once: replay is a no-op, batches compose to the one-shot merge") {
    import org.apache.spark.sql.functions._
    Scratch.withDir("cdc_spec") { d =>
      val (s1, s2) = (s"$d/1", s"$d/2")
      // one-shot reference
      TableMerge.runMerge(spark, dir, s1)
      val ref = TableMerge.mergeReport(spark, s1).collect().map(_.toSeq).toSet

      // batched: 3 waves through the exactly-once foreachBatch body,
      // with wave 1 REPLAYED under its original batch id mid-stream
      TableMerge.stageBase(spark, dir, s2)
      val rows = TableMerge.changesetRows(spark, dir)
      val waves = (0 until 3).map(w => rows.filter(_._1 % 3 == w))
      import spark.implicits._
      def df(w: Seq[(Long, Long, Long, Long, String)]) =
        w.toDF("k", "ck", "total_c", "p", "op")
      TableMerge.cdcBatch(s2)(df(waves(0)), 0L)
      val afterB0 = SnapshotStore.latest(s2)
      TableMerge.cdcBatch(s2)(df(waves(0)), 0L) // replay
      assert(SnapshotStore.latest(s2) === afterB0,
        "a replayed batch id committed a new version")
      TableMerge.cdcBatch(s2)(df(waves(1)), 1L)
      TableMerge.cdcBatch(s2)(df(waves(2)), 2L)
      val got = TableMerge.mergeReport(spark, s2).collect().map(_.toSeq).toSet
      assert(got === ref, "batched CDC diverged from the one-shot merge")
    }
  }

  test("equality deletes: no data file rewritten, head hides keys, time travel keeps them") {
    import org.apache.spark.sql.functions._
    val store = SnapshotDelete.stage(spark, dir)
    try {
      // merge-on-read laziness: all three versions reference the SAME
      // immutable data files — a delete commits only a delete vector
      val f1 = SnapshotStore.files(store, 1)
      assert(SnapshotStore.files(store, 2) === f1)
      assert(SnapshotStore.files(store, 3) === f1)
      assert(SnapshotStore.deletesOf(store, 1) === Seq.empty)
      assert(SnapshotStore.deletesOf(store, 2) === Seq("_deletes/d1"))
      assert(SnapshotStore.deletesOf(store, 3) ===
        Seq("_deletes/d1", "_deletes/d2"))
      // head hides exactly the deleted residues…
      val head = SnapshotStore.readWithDeletes(spark, store, 3, "k")
      assert(head.filter(col("k") % 10 === 3 || col("k") % 10 === 7)
        .count() === 0L)
      // …the prior snapshots still read them, count-consistently
      val v1n = SnapshotStore.readWithDeletes(spark, store, 1, "k").count()
      val v2 = SnapshotStore.readWithDeletes(spark, store, 2, "k")
      assert(v2.filter(col("k") % 10 === 3).count() === 0L)
      val d1n = SnapshotStore.read(spark, store, 1)
        .filter(col("k") % 10 === 3).count()
      assert(v2.count() === v1n - d1n)
      // vacuum to head keeps the delete vectors (metadata dir) and the
      // shared data files — the head read is identical after expire
      val before = head.agg(sum("k")).collect()(0).getLong(0)
      SnapshotStore.expire(store, 3): Unit
      val after = SnapshotStore.readWithDeletes(spark, store, 3, "k")
        .agg(sum("k")).collect()(0).getLong(0)
      assert(after === before, "expire broke the delete-applied head read")
    } finally Scratch.rm(store)
  }

  test("snapshot diff stays within churned files and reconciles v1 -> v2") {
    import org.apache.spark.sql.functions._
    Scratch.withDir("sdiff_spec") { store =>
      val (v1, v2, touched) = TableMerge.runMerge(spark, dir, store)
      // the churn set is manifest arithmetic and only touched partitions
      val f1 = SnapshotStore.files(store, v1).toSet
      val f2 = SnapshotStore.files(store, v2).toSet
      val churn = (f1 -- f2) ++ (f2 -- f1)
      assert(churn.nonEmpty)
      churn.foreach(f => assert(touched.exists(p => f.startsWith(s"p=$p/")),
        s"diff would read untouched file $f"))
      val d = SnapshotDiff.diff(spark, store, v1, v2).localCheckpoint(true)
      val byOp = d.groupBy("op").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      // count reconciliation: |v2| = |v1| − D + I
      val n1 = SnapshotStore.read(spark, store, v1).count()
      val n2 = SnapshotStore.read(spark, store, v2).count()
      assert(n2 === n1 - byOp.getOrElse("D", 0L) + byOp.getOrElse("I", 0L))
      // membership: D keys gone from v2, I keys absent from v1
      val v2keys = SnapshotStore.read(spark, store, v2)
        .select("k").as[Long](org.apache.spark.sql.Encoders.scalaLong)
        .collect().toSet
      val v1keys = SnapshotStore.read(spark, store, v1)
        .select("k").as[Long](org.apache.spark.sql.Encoders.scalaLong)
        .collect().toSet
      d.collect().foreach { r =>
        val (k, op) = (r.getAs[Long]("k"), r.getAs[String]("op"))
        op match {
          case "D" => assert(!v2keys(k) && v1keys(k), s"D key $k")
          case "I" => assert(v2keys(k) && !v1keys(k), s"I key $k")
          case _ => assert(v2keys(k) && v1keys(k), s"$op key $k")
        }
      }
    }
  }

  test("delete compaction: v4 plain read equals v3 delete-applied read, v3 stays readable") {
    import org.apache.spark.sql.functions._
    val r = SnapshotDelete.deleteCompact(spark, dir).collect()
    assert(r.length === 2)
    val (v3, v4) = (r(0), r(1))
    assert(v3.getAs[Long]("version") === 3L && v4.getAs[Long]("version") === 4L)
    Seq("n_rows", "sum_key", "sum_total_c", "present_deleted").foreach { c =>
      assert(v3.getAs[Long](c) === v4.getAs[Long](c), s"$c diverged")
    }
    assert(v3.getAs[Long]("n_delete_files") === 2L)
    assert(v4.getAs[Long]("n_delete_files") === 0L)
    assert(v3.getAs[Long]("present_deleted") === 0L)
  }

  test("ivm delta maintenance lands on the actual merged table") {
    Scratch.withDir("ivm_spec") { store =>
      TableMerge.runMerge(spark, dir, store)
      val merged = TableMerge.mergeReport(spark, store).collect()
        .map(_.toSeq).toSet
      val maintained = graft.ops.Pipeline.ivm(spark, dir).collect()
        .map(_.toSeq).toSet
      assert(maintained === merged,
        "delta-maintained MV diverged from the merged table")
    }
  }

  test("live ivm: replayed batch is a no-op, drained MV equals the merged table") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val store = TableMerge.stageStore(spark, dir, "sivm_spec")
    val mvStore = s"${store}_mv"
    val ref = Scratch.path("ivm_ref")
    try {
      val v1 = SnapshotStore.read(spark, store, 1)
        .select(col("k"), col("total_c"), col("p").cast("long").as("p"))
      v1.groupBy("p")
        .agg(count(lit(1)).as("n_rows"), sum("total_c").as("sum_total_c"),
          sum("k").as("sum_key"))
        .coalesce(1).write.parquet(s"$mvStore/mv-init")
      SnapshotStore.commit(mvStore, SnapshotStore.listDataFiles(mvStore)): Unit
      val rows = TableMerge.changesetRows(spark, dir)
      val waves = (0 until 3).map(w => rows.filter(_._1 % 3 == w))
      def df(w: Seq[(Long, Long, Long, Long, String)]) =
        w.toDF("k", "ck", "total_c", "p", "op")
      graft.streaming.EventStreams.ivmBatch(store, mvStore)(df(waves(0)), 0L)
      val after0 = SnapshotStore.latest(mvStore)
      // mid-stream replay under the original batch id: no new version
      graft.streaming.EventStreams.ivmBatch(store, mvStore)(df(waves(0)), 0L)
      assert(SnapshotStore.latest(mvStore) === after0,
        "a replayed ivm batch committed a new MV version")
      graft.streaming.EventStreams.ivmBatch(store, mvStore)(df(waves(1)), 1L)
      graft.streaming.EventStreams.ivmBatch(store, mvStore)(df(waves(2)), 2L)
      val got = SnapshotStore
        .read(spark, mvStore, SnapshotStore.latest(mvStore))
        .select("p", "n_rows", "sum_total_c", "sum_key")
        .collect().map(_.toSeq).toSet
      TableMerge.runMerge(spark, dir, ref)
      val want = TableMerge.mergeReport(spark, ref).collect().map(_.toSeq).toSet
      assert(got === want, "live-maintained MV diverged from the merged table")
    } finally { Scratch.rm(store); Scratch.rm(mvStore); Scratch.rm(ref) }
  }

  test("partition evolution: old-spec files over-read at year granularity, new-spec prune to months") {
    val r = PartitionEvolve.partitionEvolve(spark, dir).collect()(0)
    assert(r.getAs[Long]("files_total") >
      r.getAs[Long]("s1_files_read") + r.getAs[Long]("s2_files_read"),
      "the evolved plan did not prune")
    // the year-granularity cost is visible: more rows read than match
    assert(r.getAs[Long]("rows_read") > r.getAs[Long]("n_match"))
    // nothing pruned away: matched rows == full-scan truth
    import org.apache.spark.sql.functions._
    val truth = graft.Tables(spark, dir, "orders")
      .select(floor(col("o_totalprice") * 100).cast("long").as("total_c"),
        (year(col("o_orderdate")).cast("long") * 100 +
          month(col("o_orderdate")).cast("long")).as("ym"))
      .filter(col("ym") >= PartitionEvolve.QLo && col("ym") <= PartitionEvolve.QHi)
      .agg(count(lit(1)), sum("total_c")).collect()(0)
    assert(r.getAs[Long]("n_match") === truth.getLong(0))
    assert(r.getAs[Long]("sum_total_c") === truth.getLong(1))
  }
}
