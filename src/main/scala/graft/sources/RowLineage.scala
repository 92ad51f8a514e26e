package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.Scratch
import graft.Tables

/** ROW LINEAGE — the Iceberg-v3 addition the rest of the table-format
  * layer builds toward: every row carries a STABLE `row_id` assigned
  * at first commit and a `last_updated_seq` stamped by the commit
  * that last MODIFIED it. The subtlety worth certifying is the
  * copy-on-write interaction: a MERGE rewrites every file in a
  * touched partition, so rows that were merely CARRIED (rewritten
  * because they share a partition with a change, the amplification
  * src_snapshot_diff makes visible) must keep `last_updated_seq`
  * unchanged — physical rewrite is not logical modification. Without
  * engine-carried lineage, a downstream incremental consumer reading
  * "rows updated since seq N" over-reads the whole rewrite
  * amplification; with it, the changelog is exact at row grain.
  *
  * The op drives the shared deterministic changeset
  * ([[TableMerge.changeset]]: deletes k≡0 (mod 101), updates k≡0
  * (mod 97), cloned inserts k≡0 (mod 103)) through a lineage-carrying
  * copy-on-write merge and emits the three surviving cohorts keyed by
  * (created_seq, last_updated_seq): (1,1) untouched-or-carried, (1,2)
  * updated in place (row_id PRESERVED across the update), (2,2)
  * inserted. Deleted rows appear in no cohort. The oracle restates
  * every cohort from the changeset rules — a carried row stamped as
  * updated, an update that re-keyed its row_id, or a resurrected
  * delete all hash-mismatch.
  *
  * Scale shape: identical to [[TableMerge]] (touched partitions only,
  * one key-keyed anti join + one lineage join over those rows); the
  * lineage columns ride the same rewrite at two bigints per row.
  */
object RowLineage {

  def rowLineage(spark: SparkSession, dir: String): DataFrame = {
    Scratch.withDir("lineage") { store =>
      val base = Tables(spark, dir, "orders")
        .select(col("o_orderkey").as("k"), col("o_custkey").as("ck"),
          floor(col("o_totalprice") * 100).cast("long").as("total_c"),
          year(col("o_orderdate")).cast("long").as("p"))
      // v1: first commit assigns row ids and stamps seq 1
      base.select(col("k"), col("ck"), col("total_c"), col("p"),
          col("k").as("row_id"), lit(1L).as("created_seq"),
          lit(1L).as("updated_seq"))
        .write.mode(SaveMode.Overwrite).partitionBy("p").parquet(store)
      val v1 = SnapshotStore.commit(store, SnapshotStore.listDataFiles(store))

      // seq 2: the lineage-carrying copy-on-write merge
      val cs = TableMerge.changeset(base).localCheckpoint()
      val touched = cs.select("p").distinct().collect()
        .map(_.getLong(0)).toSeq.sorted
      val v1Files = SnapshotStore.files(store, v1)
      val touchedFiles = v1Files.filter(f =>
        touched.exists(p => f.startsWith(s"p=$p/")))
      // a changeset touching no existing partition merges against
      // the zero-row frame
      val cur = ManifestTable.readFiles(spark, store,
        touchedFiles.map(f => s"$store/$f"), ManifestTable.longs("k", "ck",
          "total_c", "p", "row_id", "created_seq", "updated_seq"))
      val gone = cs.filter(col("op").isin("D", "U")).select("k")
      // carried rows: rewritten file, lineage UNCHANGED
      val carried = cur.join(gone, Seq("k"), "left_anti")
      // updates: new values, PRESERVED row_id/created_seq, seq bumped
      val updated = cs.filter(col("op") === "U")
        .select(col("k"), col("ck"), col("total_c"), col("p"))
        .join(cur.select(col("k"), col("row_id"), col("created_seq")),
          Seq("k"))
        .withColumn("updated_seq", lit(2L))
      // inserts: fresh row ids, created at seq 2
      val inserted = cs.filter(col("op") === "I")
        .select(col("k"), col("ck"), col("total_c"), col("p"),
          col("k").as("row_id"), lit(2L).as("created_seq"),
          lit(2L).as("updated_seq"))
      val before = SnapshotStore.listDataFiles(store).toSet
      carried.unionByName(updated.select(carried.columns.map(col): _*))
        .unionByName(inserted)
        .transform(ManifestTable.byPartition("p"))
        .write.mode(SaveMode.Append).partitionBy("p").parquet(store)
      val newFiles = SnapshotStore.listDataFiles(store).filterNot(before)
      val v2 = SnapshotStore.commit(store,
        v1Files.filterNot(touchedFiles.toSet) ++ newFiles)

      val out = SnapshotStore.read(spark, store, v2)
        .groupBy("created_seq", "updated_seq")
        .agg(count(lit(1)).as("n_rows"), sum("row_id").as("sum_row_id"),
          sum("total_c").as("sum_total_c"))
        .orderBy("created_seq", "updated_seq")
      val rows = out.collect().toIndexedSeq
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), out.schema)
    }
  }

  /** Closed-form oracle: the three lineage cohorts restated from the
    * changeset rules over `orders`.
    */
  val lineageOracle: String = {
    val years = TableMerge.MergeYears.mkString(", ")
    s"""WITH o AS (SELECT o_orderkey AS k,
       |    CAST(FLOOR(o_totalprice*100) AS BIGINT) AS total_c,
       |    CAST(year(o_orderdate) AS BIGINT) AS p FROM orders),
       |t AS (SELECT *, p IN ($years) AS my FROM o),
       |keep AS (SELECT * FROM t WHERE NOT (my AND (k % 101 = 0 OR
       |    (k % 97 = 0 AND k % 101 <> 0)))),
       |upd AS (SELECT k, total_c + 100 AS total_c FROM t
       |        WHERE my AND k % 97 = 0 AND k % 101 <> 0),
       |ins AS (SELECT k + ${TableMerge.InsOffset} AS k,
       |          total_c + 50 AS total_c FROM t WHERE my AND k % 103 = 0),
       |c AS (
       |  SELECT 1 AS cs, 1 AS us, COUNT(*) AS n,
       |    CAST(SUM(k) AS BIGINT) AS srid,
       |    CAST(SUM(total_c) AS BIGINT) AS stc FROM keep
       |  UNION ALL
       |  SELECT 1, 2, COUNT(*), CAST(SUM(k) AS BIGINT),
       |    CAST(SUM(total_c) AS BIGINT) FROM upd
       |  UNION ALL
       |  SELECT 2, 2, COUNT(*), CAST(SUM(k) AS BIGINT),
       |    CAST(SUM(total_c) AS BIGINT) FROM ins)
       |SELECT CAST(cs AS BIGINT) AS created_seq,
       |  CAST(us AS BIGINT) AS updated_seq,
       |  CAST(n AS BIGINT) AS n_rows, srid AS sum_row_id,
       |  stc AS sum_total_c
       |FROM c ORDER BY 1, 2""".stripMargin
  }
}
