package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.Scratch
import graft.Tables

/** CDC MERGE (upsert + delete) against a [[SnapshotStore]]-versioned
  * partitioned table — the Delta/Iceberg `MERGE INTO` re-expressed as
  * manifest-planned copy-on-write: apply a changeset of inserts,
  * updates, and deletes by rewriting ONLY the partitions the
  * changeset touches, commit a new manifest referencing the untouched
  * partitions' ORIGINAL immutable files plus the rewritten ones, and
  * leave every older version readable until expire. At 100 TB this is
  * the difference between a merge that rewrites terabytes and one
  * that rewrites the handful of date partitions a day's CDC feed
  * lands in — the read side plans from the manifest's explicit file
  * list either way, so concurrent readers of v1 never see a torn
  * table.
  *
  * The changeset here is derived deterministically from the orders
  * table itself (key-residue rules over two target years), so the
  * DuckDB oracle can state the post-merge table in closed form; the
  * spec additionally pins the file-level contract — untouched
  * partitions keep byte-identical file lists across the merge, and
  * time travel to v1 still reads the pre-merge table.
  */
object TableMerge {

  /** Partitions (order years) the synthetic changeset touches. */
  val MergeYears: Seq[Int] = Seq(1994, 1996)

  /** Insert-key offset — far above any base o_orderkey at every data
    * scale this engine stages, INCLUDING the synthetic fact scale-ups
    * (scripts/gen_sf1_facts.py shifts cloned orderkeys to ~60M at 10×
    * facts; 10¹² clears even a 100,000× clone sweep), so cloned
    * insert keys can never collide with real keys. Shared verbatim by
    * the DuckDB oracles (interpolated into their SQL), so engine and
    * oracle stay in lock-step by construction.
    */
  val InsOffset = 1000000000000L

  /** The columns a [[stageStore]] store is written with: the data
    * files' `k`, `ck`, `total_c`, then `p` from the partition
    * directories.
    */
  private[sources] val BaseCols = ManifestTable.longs("k", "ck", "total_c", "p")

  /** The base table: one row per order, partitioned by order year. */
  private[sources] def baseTable(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "orders")
      .select(col("o_orderkey").as("k"), col("o_custkey").as("ck"),
        floor(col("o_totalprice") * 100).cast("long").as("total_c"),
        year(col("o_orderdate")).cast("long").as("p"))

  /** The deterministic changeset over [[MergeYears]]: deletes
    * (k ≡ 0 mod 101), updates (k ≡ 0 mod 97, not deleted; +100 cents),
    * inserts (a clone of k ≡ 0 mod 103 rows at k + [[InsOffset]],
    * +50 cents). `op` ∈ D/U/I.
    */
  private[sources] def changeset(base: DataFrame): DataFrame = {
    val t = base.filter(col("p").isin(MergeYears.map(_.toLong): _*))
    val del = t.filter(col("k") % 101 === 0)
      .select(col("k"), col("ck"), col("total_c"), col("p"), lit("D").as("op"))
    val upd = t.filter(col("k") % 97 === 0 && col("k") % 101 =!= 0)
      .select(col("k"), col("ck"), (col("total_c") + 100L).as("total_c"),
        col("p"), lit("U").as("op"))
    val ins = t.filter(col("k") % 103 === 0)
      .select((col("k") + InsOffset).as("k"), col("ck"),
        (col("total_c") + 50L).as("total_c"), col("p"), lit("I").as("op"))
    del.unionByName(upd).unionByName(ins)
  }

  /** Stage the base table into `store` and commit it as v1. */
  private[sources] def stageBase(spark: SparkSession, dir: String,
      store: String): Int = {
    baseTable(spark, dir).write.mode(SaveMode.Overwrite)
      .partitionBy("p").parquet(store)
    // drop Spark's _SUCCESS marker etc.: the manifest lists data files
    SnapshotStore.commit(store, SnapshotStore.listDataFiles(store))
  }

  /** Apply ONE changeset to the latest committed version as a
    * copy-on-write partition rewrite; commit and return the new
    * version (tagged for exactly-once replay skip when `batch` is
    * set). Returns the touched partition values alongside.
    */
  private[sources] def applyChangeset(spark: SparkSession, store: String,
      cs0: DataFrame, batch: Option[Long] = None): (Int, Seq[Long]) = {
    // lazy checkpoint: the touched-partition collect right below is
    // the materializing action — one job instead of two
    val cs = cs0.localCheckpoint(eager = false)
    // the touched-partition list is bounded by the table's partition
    // count (a CDC batch touches a handful of dates) — a legitimate
    // driver-side plan input, like any partition-pruning predicate
    val touched = cs.select("p").distinct().collect().map(_.getLong(0)).toSeq.sorted
    val v1 = SnapshotStore.latest(store)
    val v1Files = SnapshotStore.files(store, v1)
    val touchedFiles = v1Files.filter(f =>
      touched.exists(p => f.startsWith(s"p=$p/")))
    val untouched = v1Files.filterNot(touchedFiles.toSet)
    val cur = ManifestTable.readFiles(spark, store,
      touchedFiles.map(f => s"$store/$f"),
      ManifestTable.longs("k", "ck", "total_c", "p"))
    // MERGE semantics: D/U keys leave, U/I rows enter — one key-keyed
    // anti join over ONLY the touched partitions' rows
    val gone = cs.filter(col("op").isin("D", "U")).select(col("k"))
    val enter = cs.filter(col("op").isin("U", "I"))
      .select(col("k"), col("ck"), col("total_c"), col("p"))
    val before = SnapshotStore.listDataFiles(store).toSet
    cur.join(gone, Seq("k"), "left_anti")
      .unionByName(enter)
      .transform(ManifestTable.byPartition("p"))
      .write.mode(SaveMode.Append).partitionBy("p").parquet(store)
    val newFiles = SnapshotStore.listDataFiles(store).filterNot(before)
    val files = untouched ++ newFiles
    val v2 = batch match {
      case Some(b) =>
        SnapshotStore.commitBatchReplacing(store, b, files)
          .getOrElse(SnapshotStore.latest(store))
      case None => SnapshotStore.commit(store, files)
    }
    (v2, touched)
  }

  /** Run the one-shot copy-on-write merge inside `store`; returns
    * (v1, v2, touched partition values). Exposed for the spec.
    */
  private[sources] def runMerge(spark: SparkSession, dir: String,
      store: String): (Int, Int, Seq[Long]) = {
    val v1 = stageBase(spark, dir, store)
    val (v2, touched) = applyChangeset(spark, store,
      changeset(baseTable(spark, dir)))
    (v1, v2, touched)
  }

  /** Shared oracle of src_snapshot_merge AND stream_cdc_apply (the
    * one-shot merge and the exactly-once micro-batch CDC stream drain
    * to the same table, so one SQL certifies both): the post-merge
    * table stated in closed form from `orders`.
    */
  val mergeOracle: String = {
    val ys = MergeYears.mkString(", ")
    s"""WITH base AS (
       |  SELECT o_orderkey AS k,
       |    CAST(FLOOR(o_totalprice*100) AS BIGINT) AS total_c,
       |    CAST(year(o_orderdate) AS BIGINT) AS p
       |  FROM orders),
       |merged AS (
       |  SELECT k,
       |    total_c + CASE WHEN p IN ($ys) AND k % 97 = 0 AND k % 101 <> 0
       |      THEN 100 ELSE 0 END AS total_c, p
       |  FROM base WHERE NOT (p IN ($ys) AND k % 101 = 0)
       |  UNION ALL
       |  SELECT k + $InsOffset, total_c + 50, p
       |  FROM base WHERE p IN ($ys) AND k % 103 = 0)
       |SELECT p, COUNT(*) AS n_rows,
       |  CAST(SUM(total_c) AS BIGINT) AS sum_total_c,
       |  CAST(SUM(k) AS BIGINT) AS sum_key
       |FROM merged GROUP BY p ORDER BY p""".stripMargin
  }

  /** The per-partition post-merge report read from the store's latest
    * version — shared by the batch and streaming rows.
    */
  private[graft] def mergeReport(spark: SparkSession, store: String): DataFrame = {
    val out = SnapshotStore.read(spark, store, SnapshotStore.latest(store))
      .select(col("k"), col("total_c"), col("p").cast("long").as("p"))
      .groupBy("p")
      .agg(count(lit(1)).as("n_rows"), sum(col("total_c")).as("sum_total_c"),
        sum(col("k")).as("sum_key"))
      .orderBy("p")
    val rows = out.collect().toIndexedSeq
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), out.schema)
  }

  /** The changeset as collected rows for the streaming twin's
    * MemoryStream feed: (k, ck, total_c, p, op).
    */
  private[graft] def changesetRows(spark: SparkSession,
      dir: String): Seq[(Long, Long, Long, Long, String)] =
    changeset(baseTable(spark, dir)).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4)))

  /** Stage the base and return the store path — streaming-twin entry. */
  private[graft] def stageStore(spark: SparkSession, dir: String,
      tag: String): String = {
    val store = Scratch.path(tag)
    Scratch.rm(store)
    stageBase(spark, dir, store): Unit
    store
  }

  private[graft] def dropStore(store: String): Unit =
    Scratch.rm(store)

  /** Exactly-once streaming CDC application — the foreachBatch body:
    * skip a replayed batch entirely (its previous attempt committed),
    * otherwise run the copy-on-write merge and commit the manifest
    * under the batch tag. A crash between write and commit leaves
    * only orphan files no manifest references.
    */
  private[graft] def cdcBatch(store: String)(
      batch: DataFrame, batchId: Long): Unit =
    if (!SnapshotStore.hasBatch(store, batchId))
      applyChangeset(batch.sparkSession, store, batch, Some(batchId)): Unit

  /** src_snapshot_merge — the oracle row: run the merge, read v2
    * through its manifest, report per-partition row counts and exact
    * checksums. The oracle states the post-merge table in closed form
    * from `orders`, so a lost delete, double-applied update, or
    * leaked untouched-partition rewrite all hash-mismatch.
    */
  def snapshotMerge(spark: SparkSession, dir: String): DataFrame = {
    Scratch.withDir("tmerge") { store =>
      runMerge(spark, dir, store): Unit
      mergeReport(spark, store)
    }
  }
}
