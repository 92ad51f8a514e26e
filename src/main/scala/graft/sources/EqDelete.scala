package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** EQUALITY DELETES WITH SEQUENCE-NUMBER SEMANTICS — the Iceberg-v2
  * rule [[SnapshotDelete]]'s version-scoped vectors don't exercise:
  * an equality-delete file applies only to data files whose data
  * sequence number is STRICTLY LOWER than the delete's. That one rule
  * is what makes delete-then-reinsert correct on an immutable store:
  * a key deleted at sequence 2 and re-inserted at sequence 3 must
  * come back (the new rows out-sequence the delete) while the
  * original sequence-1 rows stay masked — without sequencing, the
  * reinsert is silently swallowed by its own older delete, the
  * classic merge-on-read resurrection/starvation bug.
  *
  * src_eq_delete stages orders as v1, then walks exactly that
  * history: v2 equality-deletes k ≡ 3 (mod 10); v3 RE-INSERTS the
  * k ≡ 3 (mod 20) half of the deleted keys with a +7-cent payload (so
  * the emitted sums prove the surviving rows are the NEW generation,
  * not the old); v4 adds a second delete of k ≡ 3 (mod 40), which
  * out-sequences BOTH generations and so masks half the reinserted
  * keys again. The per-version report (rows / key sum / cents sum /
  * visible residue-3 count) certifies every arm: a resurrection at
  * v2, a swallowed reinsert at v3 (n_res3 would read 0), or a
  * mis-sequenced second delete at v4 each hash-mismatch, and time
  * travel to every prior version stays exact (spec-pinned, along
  * with the compaction that folds the delete debt away).
  *
  * Scale shape: delete vectors are bounded (a commit's deletions,
  * not the table), so every masking anti-join broadcasts; the scan
  * groups data files by sequence — one group per file-adding commit,
  * a handful — and each group is one pruned parquet scan. Sequence
  * derivation is driver-side arithmetic over manifest metadata.
  */
object EqDelete {

  /** Stage the four-version delete/reinsert/delete history; returns
    * the store root (caller drops it).
    */
  private[sources] def stage(spark: SparkSession, dir: String): String = {
    val store = TableMerge.stageStore(spark, dir, "eqdel")
    val v1files = SnapshotStore.files(store, 1)
    val base = SnapshotStore.read(spark, store, 1)
    // v2: equality-delete k%10==3 (delete file sequence 2)
    base.filter(col("k") % 10 === 3).select("k").coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$store/_deletes/eq1")
    SnapshotStore.commitWithDeletes(store, v1files, Seq("_deletes/eq1")): Unit
    // v3: RE-INSERT half the deleted keys with a new payload
    // (data file sequence 3 — out-sequences the eq1 delete)
    val before = SnapshotStore.listDataFiles(store).toSet
    base.filter(col("k") % 20 === 3)
      .select(col("k"), col("ck"), (col("total_c") + 7L).as("total_c"),
        col("p").cast("long").as("p"))
      .transform(ManifestTable.byPartition("p"))
      .write.mode(SaveMode.Append).partitionBy("p").parquet(store)
    val reins = SnapshotStore.listDataFiles(store).filterNot(before)
    SnapshotStore.commitWithDeletes(store, v1files ++ reins,
      Seq("_deletes/eq1")): Unit
    // v4: second delete k%40==3 (sequence 4 — masks both generations)
    base.filter(col("k") % 40 === 3).select("k").coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$store/_deletes/eq2")
    SnapshotStore.commitWithDeletes(store, v1files ++ reins,
      Seq("_deletes/eq1", "_deletes/eq2")): Unit
    store
  }

  def eqDelete(spark: SparkSession, dir: String): DataFrame = {
    val store = stage(spark, dir)
    try {
      val agg = (1 to 4).map { v =>
        SnapshotStore.readWithSeqDeletes(spark, store, v, "k")
          .agg(count(lit(1)).as("n_rows"), sum("k").as("sum_key"),
            sum("total_c").as("sum_total_c"),
            sum(when(col("k") % 10 === 3, 1L).otherwise(0L)).as("n_res3"))
          .select(lit(v.toLong).as("version"), col("n_rows"),
            col("sum_key"), col("sum_total_c"), col("n_res3"))
      }.reduce(_ unionByName _).orderBy("version")
      val rows = agg.collect().toIndexedSeq
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), agg.schema)
    } finally TableMerge.dropStore(store)
  }

  /** stream_eq_delete — the delete/reinsert/delete history driven as
    * a STREAM of mutation batches (the CDC-deletion ingest shape:
    * scattered deletions arrive continuously and each lands as a tiny
    * merge-on-read commit, never a rewrite): three micro-batches
    * apply the eq1 delete, the +7¢ reinsert, and the eq2 delete, each
    * guarded idempotently by the version it targets — a replayed
    * batch sees its commit already landed and is a no-op, and a crash
    * between data write and manifest commit leaves only orphans
    * [[SnapshotStore.orphanGc]] reclaims. The drained per-version
    * report (sequence-number reads of all four states) shares
    * [[eqDeleteOracle]] VERBATIM — batch staging and exactly-once
    * stream ingestion are two formulations of one SQL.
    */
  def streamEqDelete(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val store = TableMerge.stageStore(spark, dir, "seqdel")
    try {
      val v1files = SnapshotStore.files(store, 1)
      val base = SnapshotStore.read(spark, store, 1)
      var reins: Seq[String] = Seq.empty
      def applyWave(w: Long): Unit = {
        val sp = base.sparkSession
        // idempotence: each wave targets exactly one predecessor
        // version — a replay sees it committed and does nothing, and
        // an out-of-order wave (predecessor not yet applied) is also
        // a no-op instead of reading a nonexistent manifest
        if (SnapshotStore.latest(store) == w) w match {
          case 1L =>
            base.filter(col("k") % 10 === 3).select("k").coalesce(1)
              .write.mode(SaveMode.Overwrite).parquet(s"$store/_deletes/eq1")
            SnapshotStore.commitWithDeletes(store, v1files,
              Seq("_deletes/eq1")): Unit
          case 2L =>
            val before = SnapshotStore.listDataFiles(store).toSet
            base.filter(col("k") % 20 === 3)
              .select(col("k"), col("ck"), (col("total_c") + 7L).as("total_c"),
                col("p").cast("long").as("p"))
              .transform(ManifestTable.byPartition("p"))
              .write.mode(SaveMode.Append).partitionBy("p").parquet(store)
            reins = SnapshotStore.listDataFiles(store).filterNot(before)
            SnapshotStore.commitWithDeletes(store, v1files ++ reins,
              Seq("_deletes/eq1")): Unit
          case _ =>
            base.filter(col("k") % 40 === 3).select("k").coalesce(1)
              .write.mode(SaveMode.Overwrite).parquet(s"$store/_deletes/eq2")
            // the file set comes from v3's MANIFEST, not driver state —
            // a restarted stream (empty `reins`) commits identically
            SnapshotStore.commitWithDeletes(store, SnapshotStore.files(store, 3),
              Seq("_deletes/eq1", "_deletes/eq2")): Unit
        }
        val _ = sp
      }
      val input = MemoryStream[Long]
      val q = input.toDF().writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.select("value").collect().map(_.getLong(0)).sorted.foreach(applyWave)
        }
        .option("checkpointLocation", s"${store}_ckpt")
        .start()
      for (w <- 1L to 3L) { input.addData(w); q.processAllAvailable() }
      // replay of an already-applied wave must be a no-op
      input.addData(3L); q.processAllAvailable()
      q.stop()
      require(SnapshotStore.latest(store) == 4,
        s"exactly-once ingest drifted: head=${SnapshotStore.latest(store)}")
      val agg = (1 to 4).map { v =>
        SnapshotStore.readWithSeqDeletes(spark, store, v, "k")
          .agg(count(lit(1)).as("n_rows"), sum("k").as("sum_key"),
            sum("total_c").as("sum_total_c"),
            sum(when(col("k") % 10 === 3, 1L).otherwise(0L)).as("n_res3"))
          .select(lit(v.toLong).as("version"), col("n_rows"),
            col("sum_key"), col("sum_total_c"), col("n_res3"))
      }.reduce(_ unionByName _).orderBy("version")
      val rows = agg.collect().toIndexedSeq
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), agg.schema)
    } finally {
      TableMerge.dropStore(store)
      TableMerge.dropStore(s"${store}_ckpt")
    }
  }

  /** Closed-form oracle: the four visibility states restated from
    * `orders` — v3's n_res3 > 0 IS the reinsert-survives-its-older-
    * delete certificate, and v3/v4's +7-cent sums prove the surviving
    * rows are the new generation.
    */
  val eqDeleteOracle: String =
    """WITH b AS (SELECT o_orderkey AS k,
      |    CAST(FLOOR(o_totalprice*100) AS BIGINT) AS total_c FROM orders),
      |v AS (SELECT * FROM (VALUES (1), (2), (3), (4)) t(version)),
      |vis AS (
      |  SELECT v.version, b.k,
      |    CASE WHEN v.version >= 3 AND b.k % 20 = 3
      |         THEN b.total_c + 7 ELSE b.total_c END AS total_c
      |  FROM v JOIN b ON
      |    (v.version = 1) OR
      |    (v.version = 2 AND b.k % 10 <> 3) OR
      |    (v.version = 3 AND (b.k % 10 <> 3 OR b.k % 20 = 3)) OR
      |    (v.version = 4 AND (b.k % 10 <> 3 OR
      |       (b.k % 20 = 3 AND b.k % 40 <> 3))))
      |SELECT CAST(version AS BIGINT) AS version, COUNT(*) AS n_rows,
      |  CAST(SUM(k) AS BIGINT) AS sum_key,
      |  CAST(SUM(total_c) AS BIGINT) AS sum_total_c,
      |  CAST(SUM(CASE WHEN k % 10 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_res3
      |FROM vis GROUP BY 1 ORDER BY 1""".stripMargin
}
