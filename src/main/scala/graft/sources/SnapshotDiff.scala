package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.Scratch

/** INCREMENTAL CHANGELOG SCAN between two snapshot versions — the
  * Iceberg `changelog` / Delta CDF idea: a downstream consumer of a
  * versioned 100 TB table must not re-read the table to learn what a
  * merge changed; the manifests already say. The diff plans from
  * metadata alone: `removed` = files referenced by v1 but not v2,
  * `added` = files referenced by v2 but not v1 (for a copy-on-write
  * merge, exactly the touched partitions' before/after files), then
  * ONE full-outer key join over those bounded file sets classifies
  * every key as I (inserted), D (deleted), U (updated — value
  * changed) or N (rewritten unchanged — the copy-on-write
  * amplification made visible: rows that were rewritten only because
  * they share a partition with a change).
  *
  * src_snapshot_diff runs the deterministic merge and emits the
  * per-op aggregate; the oracle restates the changeset rules in
  * closed form, so a lost delete, a double-applied update, or a diff
  * that silently read untouched partitions all hash-mismatch.
  *
  * Scale shape: the file-set difference is driver-side manifest
  * arithmetic (no listing, no data IO); the scans read ONLY the
  * added/removed files — O(churn), never O(table); the join keys are
  * the touched partitions' rows.
  */
object SnapshotDiff {

  /** The diff frame between two committed versions: (k, op, total_c)
    * where total_c is the post-image for I/U/N and the pre-image for D.
    */
  private[sources] def diff(spark: SparkSession, store: String,
      v1: Int, v2: Int): DataFrame = {
    val f1 = SnapshotStore.files(store, v1).toSet
    val f2 = SnapshotStore.files(store, v2).toSet
    def rd(fs: Seq[String]): DataFrame =
      ManifestTable.readFiles(spark, store, fs.sorted.map(f => s"$store/$f"),
        ManifestTable.longs("k", "total_c"))
    val removed = rd((f1 -- f2).toSeq)
    val added = rd((f2 -- f1).toSeq)
    removed.select(col("k"), col("total_c").as("tc_old"))
      .join(added.select(col("k"), col("total_c").as("tc_new")),
        Seq("k"), "full_outer")
      .select(col("k"),
        when(col("tc_old").isNull, "I")
          .when(col("tc_new").isNull, "D")
          .when(col("tc_old") =!= col("tc_new"), "U")
          .otherwise("N").as("op"),
        coalesce(col("tc_new"), col("tc_old")).as("total_c"))
  }

  /** src_snapshot_diff — merge then read the change feed from the
    * manifests.
    */
  def snapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    Scratch.withDir("sdiff") { store =>
      val (v1, v2, _) = TableMerge.runMerge(spark, dir, store)
      val agg = diff(spark, store, v1, v2)
        .groupBy("op")
        .agg(count(lit(1)).as("n_keys"), sum("k").as("sum_key"),
          sum("total_c").as("sum_total_c"))
        .orderBy("op")
      val rows = agg.collect().toIndexedSeq
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), agg.schema)
    }
  }

  /** The columns [[snapshotTail]] writes each `diff-v<v>` with. */
  private val DiffCols = StructType(StructField("op", StringType) +:
    ManifestTable.longs("n_keys", "sum_key", "sum_total_c", "version").fields)

  /** stream_snapshot_tail — the CHANGELOG STREAMING SOURCE, the read
    * twin of stream_cdc_apply: a downstream consumer tails the
    * snapshot log itself (the way Delta's streaming source tails
    * _delta_log / Iceberg's changelog scan walks snapshot history) and
    * replays [[diff]]'s delta semantics per newly discovered commit —
    * never re-reading the table, never reading a commit twice. The
    * writer applies the deterministic changeset over three
    * copy-on-write commits (waves split by k mod 3, the
    * stream_cdc_apply batching); between commits the tailer's
    * micro-batch polls the manifest log for versions beyond its
    * high-water mark, computes each new commit's per-op change
    * aggregate from the manifest file-set difference, and lands it
    * under an idempotent per-version output dir — a replayed
    * micro-batch (or two ticks racing the same commit) skips versions
    * whose output already exists, the same exactly-once shape as the
    * write twins. The drained result is the full per-(version, op)
    * change feed; the oracle restates all three commits' deltas in
    * closed form — including the copy-on-write N rows, whose touched-
    * partition sets are data-driven per wave — so a missed commit, a
    * double-applied replay, or a diff that read untouched partitions
    * all hash-mismatch.
    *
    * Scale shape: discovery is manifest-log metadata (no listing of
    * data dirs); each micro-batch reads ONLY the commit's added and
    * removed files — O(churn per commit), never O(table).
    */
  def snapshotTail(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val store = TableMerge.stageStore(spark, dir, "stail")
    val outRoot = s"${store}_tail"
    try {
      val cs = TableMerge.changeset(TableMerge.baseTable(spark, dir))
        .localCheckpoint()
      def tailBatch(batch: DataFrame, batchId: Long): Unit = {
        val sp = batch.sparkSession
        SnapshotStore.versions(store).filter(_ > 1).foreach { v =>
          // idempotent per-version output: the exactly-once guard for
          // replays and for two ticks discovering the same commit.
          // Publication is write-to-temp + atomic rename: a crash
          // mid-write leaves only `_tmp-diff-v$v` (retried with
          // Overwrite next tick), never a partial `diff-v$v` that a
          // later tick would mistake for committed
          if (!new java.io.File(s"$outRoot/diff-v$v").exists()) {
            val tmp = s"$outRoot/_tmp-diff-v$v"
            diff(sp, store, v - 1, v)
              .groupBy("op")
              .agg(count(lit(1)).as("n_keys"), sum("k").as("sum_key"),
                sum("total_c").as("sum_total_c"))
              .withColumn("version", lit(v.toLong))
              .coalesce(1)
              .write.mode(SaveMode.Overwrite).parquet(tmp)
            require(new java.io.File(tmp)
              .renameTo(new java.io.File(s"$outRoot/diff-v$v")),
              s"atomic publish of diff-v$v failed")
          }
        }
      }
      val input = MemoryStream[Long]
      val q = input.toDF().writeStream
        .foreachBatch(tailBatch _)
        .option("checkpointLocation", s"${store}_ckpt")
        .start()
      // writer and tailer interleave: commit a wave, tick the tailer
      for (w <- 0L until 3L) {
        TableMerge.applyChangeset(spark, store,
          cs.filter(col("k") % 3 === w)): Unit
        input.addData(w); q.processAllAvailable()
      }
      q.stop()
      val diffs = Option(new java.io.File(outRoot).list()).toSeq.flatten
        .filter(_.startsWith("diff-v")).sorted.map(d => s"$outRoot/$d")
      val agg = spark.read.schema(DiffCols).parquet(diffs: _*)
        .select("version", "op", "n_keys", "sum_key", "sum_total_c")
        .orderBy("version", "op")
      val rows = agg.collect().toIndexedSeq
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), agg.schema)
    } finally {
      Scratch.rm(store); Scratch.rm(outRoot)
      Scratch.rm(s"${store}_ckpt")
    }
  }

  /** Closed-form oracle for [[snapshotTail]]: the three commits'
    * per-op deltas. Wave membership is k mod 3 on the CHANGE key
    * (inserts use their offset key — the stream_cdc_apply split);
    * state evolution applies D/U/I cumulatively; N rows are the
    * copy-on-write amplification over each wave's own (data-driven)
    * touched-partition set.
    */
  val tailOracle: String = {
    val ys = TableMerge.MergeYears.mkString(", ")
    val off = TableMerge.InsOffset
    s"""WITH base AS (
       |  SELECT o_orderkey AS k,
       |    CAST(FLOOR(o_totalprice*100) AS BIGINT) AS total_c,
       |    CAST(year(o_orderdate) AS BIGINT) AS p
       |  FROM orders),
       |t AS (SELECT * FROM base WHERE p IN ($ys)),
       |cs AS (
       |  SELECT k, p, k % 3 AS wave, 'D' AS op, total_c AS tc
       |  FROM t WHERE k % 101 = 0
       |  UNION ALL
       |  SELECT k, p, k % 3, 'U', total_c + 100
       |  FROM t WHERE k % 97 = 0 AND k % 101 <> 0
       |  UNION ALL
       |  SELECT k + $off, p, (k + $off) % 3, 'I', total_c + 50
       |  FROM t WHERE k % 103 = 0),
       |w AS (SELECT * FROM (VALUES (0), (1), (2)) v(wave)),
       |touched AS (SELECT DISTINCT wave, p FROM cs),
       |st AS (
       |  SELECT w.wave, b.k, b.p,
       |    CASE WHEN b.p IN ($ys) AND b.k % 97 = 0 AND b.k % 101 <> 0
       |           AND b.k % 3 <= w.wave
       |         THEN b.total_c + 100 ELSE b.total_c END AS tc
       |  FROM w, base b
       |  WHERE NOT (b.p IN ($ys) AND b.k % 101 = 0 AND b.k % 3 <= w.wave)
       |  UNION ALL
       |  SELECT w.wave, t.k + $off, t.p, t.total_c + 50
       |  FROM w, t WHERE t.k % 103 = 0 AND (t.k + $off) % 3 <= w.wave),
       |n AS (
       |  SELECT s.wave, 'N' AS op, s.k, s.tc
       |  FROM st s JOIN touched tt ON s.wave = tt.wave AND s.p = tt.p
       |  WHERE NOT EXISTS (SELECT 1 FROM cs c
       |    WHERE c.wave = s.wave AND c.k = s.k AND c.op IN ('U', 'I'))),
       |d AS (
       |  SELECT wave, op, k, tc FROM cs
       |  UNION ALL SELECT wave, op, k, tc FROM n)
       |SELECT CAST(wave + 2 AS BIGINT) AS version, op,
       |  COUNT(*) AS n_keys, CAST(SUM(k) AS BIGINT) AS sum_key,
       |  CAST(SUM(tc) AS BIGINT) AS sum_total_c
       |FROM d GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  /** Closed-form oracle: the changeset rules per op. D carries the
    * pre-image value, U the +100 post-image, I the +50 clone at
    * k+offset, N the untouched rows of the touched partitions.
    */
  val diffOracle: String = {
    val ys = TableMerge.MergeYears.mkString(", ")
    s"""WITH base AS (
       |  SELECT o_orderkey AS k,
       |    CAST(FLOOR(o_totalprice*100) AS BIGINT) AS total_c,
       |    CAST(year(o_orderdate) AS BIGINT) AS p
       |  FROM orders),
       |t AS (SELECT * FROM base WHERE p IN ($ys)),
       |d AS (
       |  SELECT k, 'D' AS op, total_c FROM t WHERE k % 101 = 0
       |  UNION ALL
       |  SELECT k, 'U', total_c + 100 FROM t WHERE k % 97 = 0 AND k % 101 <> 0
       |  UNION ALL
       |  SELECT k + ${TableMerge.InsOffset}, 'I', total_c + 50
       |  FROM t WHERE k % 103 = 0
       |  UNION ALL
       |  SELECT k, 'N', total_c FROM t WHERE k % 101 <> 0 AND k % 97 <> 0)
       |SELECT op, COUNT(*) AS n_keys, CAST(SUM(k) AS BIGINT) AS sum_key,
       |  CAST(SUM(total_c) AS BIGINT) AS sum_total_c
       |FROM d GROUP BY 1 ORDER BY 1""".stripMargin
  }
}
