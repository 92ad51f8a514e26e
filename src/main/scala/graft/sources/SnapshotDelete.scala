package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.Scratch

/** Row-level DELETE on the snapshot store WITHOUT rewriting data files
  * — the Iceberg-v2 equality-delete idea, completing the table-format
  * layer's mutation story: [[TableMerge]] rewrites touched partitions
  * (copy-on-write, right for wide updates); this path commits a tiny
  * DELETE FILE of keys instead (merge-on-read, right for scattered
  * deletions across a 100 TB table where rewriting every touched file
  * would dwarf the change). Readers of a version apply its delete
  * vectors as a broadcast anti-join; every older snapshot still reads
  * the un-deleted table — time travel and row deletion compose.
  *
  * src_snapshot_delete stages orders as v1, commits two successive
  * equality-delete versions (k ≡ 3 (mod 10), then additionally
  * k ≡ 7 (mod 10)) and emits the certified per-version aggregate: a
  * deleted key visible at head, a lost key at the PRIOR snapshot, or
  * a data-file rewrite would each hash-mismatch (the spec pins the
  * file lists byte-identical across all three versions).
  */
object SnapshotDelete {

  /** Stage orders as v1 and commit the two delete versions; returns
    * the store root (v1 = full table, v2 = minus k%10==3, v3 = minus
    * k%10∈{3,7}; all three share the SAME data files).
    */
  private[sources] def stage(spark: SparkSession, dir: String): String = {
    val store = TableMerge.stageStore(spark, dir, "sdel")
    val dataFiles = SnapshotStore.files(store, 1)
    val base = SnapshotStore.read(spark, store, 1)
    // equality-delete vectors: just the keys, written as tiny parquet
    // "files" under the _deletes metadata dir
    base.filter(col("k") % 10 === 3).select("k").coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$store/_deletes/d1")
    base.filter(col("k") % 10 === 7).select("k").coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$store/_deletes/d2")
    SnapshotStore.commitWithDeletes(store, dataFiles,
      Seq("_deletes/d1")): Unit
    SnapshotStore.commitWithDeletes(store, dataFiles,
      Seq("_deletes/d1", "_deletes/d2")): Unit
    store
  }

  /** src_snapshot_delete — per-version visibility report across the
    * delete history.
    */
  def snapshotDelete(spark: SparkSession, dir: String): DataFrame = {
    val store = stage(spark, dir)
    try {
      val agg = (1 to 3).map { v =>
        SnapshotStore.readWithDeletes(spark, store, v, "k")
          .agg(count(lit(1)).as("n_rows"),
            sum("k").as("sum_key"), sum("total_c").as("sum_total_c"),
            sum(when(col("k") % 10 === 3, 1L).otherwise(0L)).as("present_d1"),
            sum(when(col("k") % 10 === 7, 1L).otherwise(0L)).as("present_d2"))
          .select(lit(v.toLong).as("version"), col("n_rows"), col("sum_key"),
            col("sum_total_c"), col("present_d1"), col("present_d2"))
      }.reduce(_ unionByName _).orderBy("version")
      val rows = agg.collect().toIndexedSeq
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), agg.schema)
    } finally Scratch.rm(store)
  }

  /** src_delete_compact — COMPACTION absorbs the delete vectors: the
    * merge-on-read debt ([[SnapshotStore.readWithDeletes]]'s per-read
    * anti-join) is paid off by ONE rewrite that applies the deletes
    * and commits v4 with an EMPTY dfiles list — after which readers
    * scan plain data files again. The op emits the v3 (deletes
    * applied) and v4 (compacted, read WITHOUT any delete application)
    * aggregates side by side; the oracle states both rows from the
    * same visibility rules, so a compaction that resurrected a
    * deleted key, lost a live row, or left delete debt behind
    * (n_delete_files ≠ 0) hash-mismatches. v3 stays readable until
    * expire — rewrite isolation as everywhere else in the store.
    */
  def deleteCompact(spark: SparkSession, dir: String): DataFrame = {
    val store = stage(spark, dir)
    try {
      val head = SnapshotStore.readWithDeletes(spark, store, 3, "k")
        .select(col("k"), col("ck"), col("total_c"), col("p").cast("long").as("p"))
      val before = SnapshotStore.listDataFiles(store).toSet
      head.transform(ManifestTable.byPartition("p"))
        .write.mode(SaveMode.Append).partitionBy("p").parquet(store)
      val newFiles = SnapshotStore.listDataFiles(store).filterNot(before)
      val v4 = SnapshotStore.commitWithDeletes(store, newFiles, Seq.empty)
      def report(df: DataFrame, v: Int, nDel: Long): DataFrame = df
        .agg(count(lit(1)).as("n_rows"), sum("k").as("sum_key"),
          sum("total_c").as("sum_total_c"),
          sum(when(col("k") % 10 === 3 || col("k") % 10 === 7, 1L)
            .otherwise(0L)).as("present_deleted"))
        .select(lit(v.toLong).as("version"), col("n_rows"), col("sum_key"),
          col("sum_total_c"), col("present_deleted"),
          lit(nDel).as("n_delete_files"))
      val agg = report(SnapshotStore.readWithDeletes(spark, store, 3, "k"), 3,
          SnapshotStore.deletesOf(store, 3).length.toLong)
        .unionByName(report(SnapshotStore.read(spark, store, v4), 4,
          SnapshotStore.deletesOf(store, v4).length.toLong))
        .orderBy("version")
      val rows = agg.collect().toIndexedSeq
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), agg.schema)
    } finally Scratch.rm(store)
  }

  /** src_erasure_proof — the RIGHT-TO-BE-FORGOTTEN flow certified at
    * the PHYSICAL level, which is where compliance actually lives:
    * an equality-delete commit makes the subject invisible (v2), but
    * merge-on-read is a promise, not an erasure — the subject's rows
    * still sit in the immutable v1 files on disk (the honest GDPR
    * trap: manifests hide, they do not destroy). Only the compaction
    * rewrite (v3) plus expire produce physical absence. The op walks
    * all three states and emits row counts OF THE SUBJECT measured
    * three ways: visible at the delete-applied read (0 — the logical
    * promise), physically present across every parquet file on disk
    * BEFORE expire (> 0 — the trap made visible), and physically
    * present across every file on disk AFTER expire (0 — compliance).
    * The final live aggregate certifies nothing else was harmed.
    *
    * Subject selection is deterministic (smallest custkey ≥ half the
    * max — a customer with orders scattered across partitions), so the
    * DuckDB oracle restates every count in closed form. Scale shape:
    * the deletes are one broadcast anti-join; the compaction rewrites
    * only once; the physical audits are plain scans of the store's
    * file census — the check a compliance job runs anyway.
    */
  def erasureProof(spark: SparkSession, dir: String): DataFrame = {
    val store = TableMerge.stageStore(spark, dir, "erase")
    try {
      val v1 = SnapshotStore.read(spark, store, 1)
      val mk = v1.agg(max("ck")).collect()(0).getLong(0)
      val subj = v1.filter(col("ck") >= (mk + 1L) / 2L)
        .agg(min("ck")).collect()(0).getLong(0)
      val nSubj = v1.filter(col("ck") === subj).count()

      // v2: equality-delete the subject's KEYS (merge-on-read promise)
      v1.filter(col("ck") === subj).select("k").coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(s"$store/_deletes/erase")
      val dataFiles = SnapshotStore.files(store, 1)
      val v2 = SnapshotStore.commitWithDeletes(store, dataFiles,
        Seq("_deletes/erase"))
      val visibleAfterDelete = SnapshotStore
        .readWithDeletes(spark, store, v2, "k")
        .filter(col("ck") === subj).count()

      // physical census BEFORE compaction+expire: the subject is still
      // on disk in the v1 files the manifest merely hides
      def physicalCount(): Long = {
        val fs = SnapshotStore.listDataFiles(store)
        spark.read.schema(TableMerge.BaseCols).option("basePath", store)
          .parquet(fs.map(f => s"$store/$f"): _*)
          .filter(col("ck") === subj).count()
      }
      val physicalBefore = physicalCount()

      // v3: compaction applies the deletes in one rewrite; expire then
      // destroys every file v3 does not reference
      val head = SnapshotStore.readWithDeletes(spark, store, v2, "k")
        .select(col("k"), col("ck"), col("total_c"),
          col("p").cast("long").as("p"))
      val before = SnapshotStore.listDataFiles(store).toSet
      head.transform(ManifestTable.byPartition("p"))
        .write.mode(SaveMode.Append).partitionBy("p").parquet(store)
      val v3 = SnapshotStore.commitWithDeletes(store,
        SnapshotStore.listDataFiles(store).filterNot(before), Seq.empty)
      SnapshotStore.expire(store, v3): Unit
      val physicalAfter = physicalCount()

      val live = SnapshotStore.read(spark, store, v3)
        .agg(count(lit(1)).as("n"), sum("total_c").as("s")).collect()(0)
      val out = spark.range(1).select(
        lit(subj).as("subject_ck"),
        lit(nSubj).as("n_subject_rows"),
        lit(visibleAfterDelete).as("visible_after_delete"),
        lit(physicalBefore).as("physical_before_expire"),
        lit(physicalAfter).as("physical_after_expire"),
        lit(live.getLong(0)).as("n_live_rows"),
        lit(live.getLong(1)).as("sum_live_total_c"))
      val rows = out.collect().toIndexedSeq
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), out.schema)
    } finally Scratch.rm(store)
  }

  /** Closed-form oracle of [[erasureProof]]: subject pick, all three
    * censuses, and the surviving table restated from `orders`.
    */
  val erasureOracle: String =
    """WITH b AS (SELECT o_orderkey AS k, o_custkey AS ck,
      |    CAST(FLOOR(o_totalprice*100) AS BIGINT) AS total_c FROM orders),
      |mx AS (SELECT MAX(ck) AS mk FROM b),
      |s AS (SELECT MIN(ck) AS subj FROM b, mx WHERE ck >= (mk + 1) // 2),
      |n AS (SELECT COUNT(*) AS n_subj FROM b, s WHERE ck = subj),
      |l AS (SELECT COUNT(*) AS n_live,
      |        CAST(SUM(total_c) AS BIGINT) AS sum_live
      |      FROM b, s WHERE ck <> subj)
      |SELECT CAST(s.subj AS BIGINT) AS subject_ck,
      |  CAST(n.n_subj AS BIGINT) AS n_subject_rows,
      |  CAST(0 AS BIGINT) AS visible_after_delete,
      |  CAST(n.n_subj AS BIGINT) AS physical_before_expire,
      |  CAST(0 AS BIGINT) AS physical_after_expire,
      |  CAST(l.n_live AS BIGINT) AS n_live_rows,
      |  CAST(l.sum_live AS BIGINT) AS sum_live_total_c
      |FROM s, n, l""".stripMargin

  /** Closed-form oracle of [[deleteCompact]]: the post-delete table
    * stated once, emitted for v3 and v4 (delete debt zero at v4).
    */
  val compactOracle: String =
    """WITH b AS (SELECT o_orderkey AS k,
      |    CAST(FLOOR(o_totalprice*100) AS BIGINT) AS total_c FROM orders
      |  WHERE o_orderkey % 10 <> 3 AND o_orderkey % 10 <> 7),
      |v AS (SELECT * FROM (VALUES (3, 2), (4, 0)) t(version, n_delete_files))
      |SELECT CAST(version AS BIGINT) AS version,
      |  (SELECT COUNT(*) FROM b) AS n_rows,
      |  CAST((SELECT SUM(k) FROM b) AS BIGINT) AS sum_key,
      |  CAST((SELECT SUM(total_c) FROM b) AS BIGINT) AS sum_total_c,
      |  CAST(0 AS BIGINT) AS present_deleted,
      |  CAST(n_delete_files AS BIGINT) AS n_delete_files
      |FROM v ORDER BY 1""".stripMargin

  /** Closed-form oracle: per-version key-residue visibility rules over
    * `orders` — the staged table is exactly orders' (k, total_c).
    */
  val deleteOracle: String =
    """WITH b AS (SELECT o_orderkey AS k,
      |    CAST(FLOOR(o_totalprice*100) AS BIGINT) AS total_c FROM orders),
      |v AS (SELECT * FROM (VALUES (1), (2), (3)) t(version)),
      |vis AS (SELECT v.version, b.k, b.total_c FROM v JOIN b ON
      |  (v.version = 1) OR
      |  (v.version = 2 AND b.k % 10 <> 3) OR
      |  (v.version = 3 AND b.k % 10 <> 3 AND b.k % 10 <> 7))
      |SELECT CAST(version AS BIGINT) AS version, COUNT(*) AS n_rows,
      |  CAST(SUM(k) AS BIGINT) AS sum_key,
      |  CAST(SUM(total_c) AS BIGINT) AS sum_total_c,
      |  CAST(SUM(CASE WHEN k % 10 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS present_d1,
      |  CAST(SUM(CASE WHEN k % 10 = 7 THEN 1 ELSE 0 END) AS BIGINT) AS present_d2
      |FROM vis GROUP BY 1 ORDER BY 1""".stripMargin
}
