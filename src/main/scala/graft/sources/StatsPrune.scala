package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.Scratch
import graft.Tables

/** Manifest-level statistics pruning — the Iceberg idea that
  * completes [[graft.relational.Queries.qZorderSkip]]'s arithmetic
  * report with an ACTUAL pruned read: the writer records per-file
  * min/max column stats as a stats table beside the data (what
  * Iceberg keeps in manifest files), and a reader with a range
  * predicate plans its file list FROM THE STATS — the data files a
  * 100 TB scan never opens are the whole point. The op certifies the
  * pruned read end to end: the emitted row carries files_total /
  * files_read / rows_read plus the exact aggregate of the matching
  * rows, and the closed-form oracle recomputes all of it from
  * `orders` — a pruned-away file that contained a match would
  * hash-mismatch the aggregate, an under-pruned plan would
  * hash-mismatch files_read.
  */
object StatsPrune {

  /** Files per partition (orderkey-range split). */
  val PruneFiles = 4L

  /** Staged store handle shared by the batch op and its streaming
    * twin: root, stats-cell count, the key maximum the bands are
    * fractions of, and the collected per-file stats manifest (bounded
    * metadata — what an Iceberg manifest hands any planner).
    */
  private[graft] final case class PStore(store: String, filesTotal: Long,
      mk: Long, stats: Seq[(Long, Long, Long, Long)] = Nil) {
    def drop(): Unit = Scratch.rm(store)
  }

  /** Write orders as (year, orderkey-range) files with the per-file
    * min/max/count stats table beside them.
    *
    * One pass over orders (guide §1.2/§5): mk is collected first (one
    * tiny agg job) and baked into the fid expression as a literal —
    * the old crossJoin(broadcast(mx)) re-ran the max-subquery
    * broadcast inside every execution that touched `base`. The staged
    * base is lazily checkpointed (the data write materializes it), so
    * the stats aggregation reads pinned blocks instead of re-scanning
    * orders; the bounded stats manifest is collected once — the
    * parquet manifest is written from the collected rows and the
    * planner gets them driver-side for free.
    */
  private[graft] def stage(spark: SparkSession, dir: String): PStore = {
    val store = Scratch.path("sprune")
    Scratch.rm(store)
    val o = Tables(spark, dir, "orders")
      .select(col("o_orderkey").as("k"),
        floor(col("o_totalprice") * 100).cast("long").as("total_c"),
        year(col("o_orderdate")).cast("long").as("p"))
    val mk = o.agg(max("k").as("mk")).collect()(0).getLong(0)
    val base = o
      .withColumn("fid", expr(s"(k * $PruneFiles) div ${mk + 1}L"))
      .select(col("k"), col("total_c"), col("p"), col("fid"))
      .localCheckpoint(eager = false)
    base
      .repartition(col("p"), col("fid"))
      .write.mode(SaveMode.Overwrite).partitionBy("p", "fid")
      .parquet(s"$store/data")
    // the "manifest": per-file min/max/count stats, persisted beside
    // the data exactly like Iceberg manifest entries
    val statsDf = base.groupBy("p", "fid")
      .agg(min("k").as("lo_k"), max("k").as("hi_k"),
        count(lit(1)).as("n_rows"))
    val statsRows = statsDf.collect().toIndexedSeq
    spark.createDataFrame(spark.sparkContext.parallelize(statsRows, 1),
        statsDf.schema)
      .write.mode(SaveMode.Overwrite).parquet(s"$store/stats")
    PStore(store, statsRows.length.toLong, mk,
      statsRows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))))
  }

  /** Serve ONE key-band query [loB, hiB] from the staged store: plan
    * the file list from the stats (bounded driver-side metadata, the
    * same order Iceberg manifests hand a planner), read only the
    * overlapping files, return the certified aggregate row
    * (files_read, rows_read, n_match, sum_total_c, sum_key).
    */
  private[graft] def servePlanned(spark: SparkSession, st: PStore,
      loB: Long, hiB: Long): (Long, Long, Long, Long, Long) = {
    // plan from the already-collected manifest: pure driver arithmetic
    // (was a parquet read + collect job per served band)
    val hit = st.stats
      .filter { case (_, _, lo, hi) => hi >= loB && lo <= hiB }
      .map { case (p, fid, _, _) => s"${st.store}/data/p=$p/fid=$fid" }
      .toArray
    // empty plan arm: spark.read.parquet() with zero paths throws
    // ("unable to infer schema"), so a predicate overlapping no stats
    // cell must emit the zero-row aggregate directly
    val pruned =
      if (hit.isEmpty)
        spark.range(0).select(lit(0L).as("k"), lit(0L).as("total_c"))
      else spark.read.option("basePath", s"${st.store}/data")
        .parquet(hit.toIndexedSeq: _*)
    val a = pruned
      .agg(count(lit(1)).as("rows_read"),
        sum(when(col("k") >= loB && col("k") <= hiB, 1L).otherwise(0L))
          .as("n_match"),
        coalesce(sum(when(col("k") >= loB && col("k") <= hiB,
          col("total_c"))), lit(0L)).as("sum_total_c"),
        coalesce(sum(when(col("k") >= loB && col("k") <= hiB, col("k"))),
          lit(0L)).as("sum_key"))
      .collect()(0)
    (hit.length.toLong, a.getLong(0), a.getLong(1), a.getLong(2), a.getLong(3))
  }

  /** src_stats_prune — write orders as (year, orderkey-range) files
    * with a per-file stats table, then serve a key-range query by
    * reading ONLY the stats-overlapping files.
    */
  def statsPrune(spark: SparkSession, dir: String): DataFrame = {
    val st = stage(spark, dir)
    try {
      val (loB, hiB) = ((30L * st.mk) / 100L, (35L * st.mk) / 100L)
      val (fr, rr, nm, stc, sk) = servePlanned(spark, st, loB, hiB)
      val out = spark.range(1).select(
        lit(st.filesTotal).as("files_total"), lit(fr).as("files_read"),
        lit(rr).as("rows_read"), lit(nm).as("n_match"),
        lit(stc).as("sum_total_c"), lit(sk).as("sum_key"))
      val rows = out.collect().toIndexedSeq
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), out.schema)
    } finally st.drop()
  }

  /** Closed-form oracle: the same stats arithmetic from `orders`. */
  val pruneOracle: String =
    s"""WITH o AS (SELECT o_orderkey AS k,
       |    CAST(FLOOR(o_totalprice*100) AS BIGINT) AS total_c,
       |    CAST(year(o_orderdate) AS BIGINT) AS p
       |  FROM orders),
       |mx AS (SELECT MAX(k) AS mk FROM o),
       |b AS (SELECT o.*, (k * $PruneFiles) // (mk + 1) AS fid,
       |        (30 * mk) // 100 AS lo_b, (35 * mk) // 100 AS hi_b
       |      FROM o, mx),
       |st AS (SELECT p, fid, MIN(k) AS lo_k, MAX(k) AS hi_k,
       |         COUNT(*) AS n_rows, MAX(lo_b) AS lo_b, MAX(hi_b) AS hi_b
       |       FROM b GROUP BY 1, 2),
       |hit AS (SELECT * FROM st WHERE hi_k >= lo_b AND lo_k <= hi_b)
       |SELECT (SELECT COUNT(*) FROM st) AS files_total,
       |  (SELECT COUNT(*) FROM hit) AS files_read,
       |  CAST((SELECT COALESCE(SUM(n_rows), 0) FROM hit) AS BIGINT) AS rows_read,
       |  (SELECT COUNT(*) FROM b WHERE k BETWEEN lo_b AND hi_b) AS n_match,
       |  CAST((SELECT COALESCE(SUM(total_c), 0) FROM b
       |        WHERE k BETWEEN lo_b AND hi_b) AS BIGINT) AS sum_total_c,
       |  CAST((SELECT COALESCE(SUM(k), 0) FROM b
       |        WHERE k BETWEEN lo_b AND hi_b) AS BIGINT) AS sum_key""".stripMargin
}
