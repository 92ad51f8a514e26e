package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.Scratch
import graft.Tables

/** POSITION DELETES — the second of Iceberg v2's two delete-file
  * kinds, completing [[SnapshotDelete]]'s equality-delete story: a
  * position delete references the PHYSICAL ROW (data file, row
  * ordinal) instead of a key value. That's the shape a MERGE/DELETE
  * executor naturally produces (it just scanned the row it's
  * deleting, so it knows exactly where it lives) and the cheapest to
  * apply on read: no key extraction from the data row, just an
  * anti-join on (file, position) — and it works on tables whose rows
  * have no usable key at all.
  *
  * Spark-native mechanics: positions come from the parquet reader's
  * OWN metadata columns — `_metadata.file_path` and
  * `_metadata.row_index` — so the delete writer is one scan with a
  * predicate (no bookkeeping column persisted in the data), and the
  * reader applies deletes as a broadcast anti-join on the same two
  * metadata columns. Data files are never rewritten; v1 (full table)
  * and v2 (deletes applied) share byte-identical file lists.
  *
  * Certification closes over the PHYSICAL layout: files are written
  * one per key-range `fid`, rows k-sorted within each file, so the
  * engine-observed `row_index` of every deleted row must equal the
  * closed-form within-file rank (`row_number() OVER (PARTITION BY fid
  * ORDER BY k) - 1`) — `sum_del_pos` hash-mismatches if Spark's
  * metadata positions, the write order, or the delete plan drift from
  * the claim. Live-row aggregates certify the read side: a
  * position-deleted row surviving, or a mis-aimed position killing a
  * neighbor, both break `n_live`/`sum_live_key`.
  *
  * Scale shape: the delete vector is O(deleted rows) and broadcast;
  * the read is one scan + one broadcast anti-join; nothing rewrites.
  */
object PosDelete {

  /** Key-range files the table is laid out as. */
  val NFiles = 8L

  /** Staged store handle. */
  private[sources] final case class PDStore(store: String, v1: Int, v2: Int) {
    def drop(): Unit = Scratch.rm(store)
  }

  /** The columns [[stage]] writes: the data files' `k`, `total_c`,
    * then `fid` from the partition directories.
    */
  private val DataCols = ManifestTable.longs("k", "total_c", "fid")

  /** The delete vector's columns: (data file path, row position). */
  private val DeleteCols = StructType(Seq(
    StructField("fp", StringType), StructField("pos", LongType)))

  /** The data scan WITH the parquet metadata columns that position
    * deletes reference, read with the written schema.
    */
  private[sources] def metaScan(spark: SparkSession, store: String): DataFrame =
    spark.read.schema(DataCols).option("basePath", s"$store/data")
      .parquet(s"$store/data")
      .select(col("k"), col("total_c"),
        col("_metadata.file_path").as("fp"),
        col("_metadata.row_index").as("pos"))

  /** Stage orders as the k-sorted key-range layout (v1), then write
    * the position-delete vector for k ≡ 4 (mod 9) and commit v2 —
    * data files untouched.
    */
  private[sources] def stage(spark: SparkSession, dir: String): PDStore = {
    val store = Scratch.path("posdel")
    Scratch.rm(store)
    val o = Tables(spark, dir, "orders")
      .select(col("o_orderkey").as("k"),
        floor(col("o_totalprice") * 100).cast("long").as("total_c"))
    val mk = o.agg(max("k")).collect()(0).getLong(0)
    o.withColumn("fid", expr(s"(k * $NFiles) div (${mk + 1}L)"))
      .transform(ManifestTable.byPartition("fid")).sortWithinPartitions("fid", "k")
      .write.mode(SaveMode.Overwrite).partitionBy("fid")
      .parquet(s"$store/data")
    val v1 = SnapshotStore.commit(store, SnapshotStore.listDataFiles(store))
    // the delete writer: one metadata-column scan with the victim
    // predicate — the (file, position) pairs of rows to kill
    metaScan(spark, store).filter(col("k") % 9 === 4)
      .select("fp", "pos").coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$store/_deletes/pd1")
    val v2 = SnapshotStore.commitWithDeletes(store,
      SnapshotStore.files(store, v1), Seq("_deletes/pd1"))
    PDStore(store, v1, v2)
  }

  def posDelete(spark: SparkSession, dir: String): DataFrame = {
    val st = stage(spark, dir)
    val store = st.store
    try {
      val scan = metaScan(spark, store)
      // readers
      val dels = spark.read.schema(DeleteCols).parquet(s"$store/_deletes/pd1")
      val live = scan.join(broadcast(dels), Seq("fp", "pos"), "left_anti")
      val delStats = dels
        .agg(count(lit(1)).as("n_deletes"),
          coalesce(sum("pos"), lit(0L)).as("sum_del_pos")).collect()(0)
      val liveStats = live
        .agg(count(lit(1)).as("n_live"), sum("k").as("sum_live_key"),
          sum("total_c").as("sum_live_total_c"),
          sum(when(col("k") % 9 === 4, 1L).otherwise(0L))
            .as("present_deleted")).collect()(0)
      val nFiles = SnapshotStore.files(store, st.v2).length.toLong

      val out = spark.range(1).select(
        lit(nFiles).as("n_files"),
        lit(delStats.getLong(0)).as("n_deletes"),
        lit(delStats.getLong(1)).as("sum_del_pos"),
        lit(liveStats.getLong(0)).as("n_live"),
        lit(liveStats.getLong(1)).as("sum_live_key"),
        lit(liveStats.getLong(2)).as("sum_live_total_c"),
        lit(liveStats.getLong(3)).as("present_deleted"))
      val rows = out.collect().toIndexedSeq
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), out.schema)
    } finally st.drop()
  }

  /** Closed-form oracle: layout, within-file ranks, delete plan and
    * survivors all restated from `orders`.
    */
  val posDeleteOracle: String =
    s"""WITH o AS (SELECT o_orderkey AS k,
       |    CAST(FLOOR(o_totalprice*100) AS BIGINT) AS total_c FROM orders),
       |mx AS (SELECT MAX(k) AS mk FROM o),
       |b AS (SELECT o.*, (k * $NFiles) // (mk + 1) AS fid FROM o, mx),
       |p AS (SELECT *, row_number() OVER (PARTITION BY fid ORDER BY k) - 1
       |        AS pos FROM b),
       |d AS (SELECT * FROM p WHERE k % 9 = 4),
       |l AS (SELECT * FROM p WHERE k % 9 <> 4)
       |SELECT (SELECT COUNT(DISTINCT fid) FROM b) AS n_files,
       |  (SELECT COUNT(*) FROM d) AS n_deletes,
       |  CAST((SELECT COALESCE(SUM(pos), 0) FROM d) AS BIGINT) AS sum_del_pos,
       |  (SELECT COUNT(*) FROM l) AS n_live,
       |  CAST((SELECT SUM(k) FROM l) AS BIGINT) AS sum_live_key,
       |  CAST((SELECT SUM(total_c) FROM l) AS BIGINT) AS sum_live_total_c,
       |  CAST(0 AS BIGINT) AS present_deleted""".stripMargin
}
