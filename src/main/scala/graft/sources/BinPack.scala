package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.Scratch
import graft.Tables

/** BIN-PACKING COMPACTION — the table-maintenance action every
  * streaming-ingested 100 TB table needs on a schedule: thousands of
  * small commit-sized files are rewritten into size-targeted bins
  * (Iceberg's `rewrite_data_files` binpack strategy, Delta's
  * OPTIMIZE). The policy here is order-preserving prefix packing:
  * files sorted by their key range, bin id = (rows before this file)
  * div (ceil(total/8)) — a deterministic, closed-form policy, so the
  * whole rewrite is oracle-certifiable.
  *
  * The op measures BOTH sides of the trade on the same key-band query
  * (30–35 % of the key domain): against the 64-small-file layout the
  * band opens several files (per-file open/footer overhead — the cost
  * that dominates small-file tables); against the 8-bin layout it
  * opens fewer, larger files but over-reads more rows inside them
  * (coarser min/max granularity). files_read drops, rows_read rises —
  * both pinned by the oracle, the honest compaction trade. Rewrite
  * losslessness is certified by the full-table row/key aggregates of
  * the compacted version, and the old version stays readable until
  * expire (snapshot isolation, as everywhere in the store).
  *
  * Scale shape: packing arithmetic runs on the bounded stats metadata
  * (one row per file — what a manifest hands the planner); the
  * rewrite is one shuffle keyed by bin; reads are pruned scans.
  */
object BinPack {

  /** Small files the ingest left behind. */
  val NSmall = 64L

  /** Target bins after compaction. */
  val NBins = 8L

  /** Staged store handle: per-file stats as (fid, lo_k, hi_k, n). */
  private[sources] final case class BStore(store: String, mk: Long,
      stats: Seq[(Long, Long, Long, Long)], binOf: Map[Long, Long],
      v1: Int, v2: Int) {
    /** Bin stats derived from member-file stats — metadata arithmetic. */
    def binStats: Seq[(Long, Long, Long, Long)] =
      stats.groupBy(s => binOf(s._1)).map { case (bin, ss) =>
        (bin, ss.map(_._2).min, ss.map(_._3).max, ss.map(_._4).sum)
      }.toSeq.sortBy(_._1)
    def drop(): Unit = Scratch.rm(store)
  }

  /** Stage the 64-small-file layout (v1), plan the packing from the
    * stats metadata, and run the compaction rewrite (v2).
    */
  private[sources] def stage(spark: SparkSession, dir: String): BStore = {
    val store = Scratch.path("binpack")
    Scratch.rm(store)
    val o = Tables(spark, dir, "orders")
      .select(col("o_orderkey").as("k"),
        floor(col("o_totalprice") * 100).cast("long").as("total_c"))
    val mk = o.agg(max("k")).collect()(0).getLong(0)
    val b = o.withColumn("fid", expr(s"(k * $NSmall) div (${mk + 1}L)"))
    b.transform(ManifestTable.byPartition("fid")).sortWithinPartitions("fid", "k")
      .write.mode(SaveMode.Overwrite).partitionBy("fid")
      .parquet(s"$store/data")
    val v1 = SnapshotStore.commit(store, SnapshotStore.listDataFiles(store))

    // per-file stats — the manifest metadata the packer plans from
    val stats = b.groupBy("fid")
      .agg(min("k").as("lo_k"), max("k").as("hi_k"),
        count(lit(1)).as("n")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toIndexedSeq
    val total = stats.map(_._4).sum
    val target = (total + NBins - 1) / NBins
    // order-preserving prefix packing: bin = rows-before div target
    val prefixes = stats.map(_._4).scanLeft(0L)(_ + _)
    val binOf: Map[Long, Long] =
      stats.zip(prefixes).map { case ((fid, _, _, _), pfx) =>
        fid -> pfx / target
      }.toMap

    // the rewrite: one shuffle keyed by bin, one file per bin
    import spark.implicits._
    val binMap = binOf.toSeq.toDF("fid", "bin")
    SnapshotStore.read(spark, store, v1)
      .join(broadcast(binMap), Seq("fid"))
      .transform(ManifestTable.byPartition("bin")).sortWithinPartitions("bin", "k")
      .select("k", "total_c", "bin")
      .write.mode(SaveMode.Append).partitionBy("bin")
      .parquet(s"$store/data2")
    val v2files = SnapshotStore.listDataFiles(store)
      .filter(_.startsWith("data2/"))
    val v2 = SnapshotStore.commit(store, v2files)
    BStore(store, mk, stats, binOf, v1, v2)
  }

  def binpackCompact(spark: SparkSession, dir: String): DataFrame = {
    val st = stage(spark, dir)
    val store = st.store
    try {
      val mk = st.mk
      val stats = st.stats
      val binStats = st.binStats

      // the same band query against both layouts
      val (loB, hiB) = ((30L * mk) / 100L, (35L * mk) / 100L)
      val hitBefore = stats.filter(s => s._3 >= loB && s._2 <= hiB)
      val hitAfter = binStats.filter(s => s._3 >= loB && s._2 <= hiB)
      val after = SnapshotStore.read(spark, store, st.v2)
      // the planned bins as a partition filter: only they open, and a
      // band overlapping no bin reads zero rows
      val m = after.filter(col("bin").isin(hitAfter.map(_._1): _*))
        .agg(coalesce(sum(when(col("k").between(loB, hiB), 1L).otherwise(0L)),
            lit(0L)).as("n_match"),
          coalesce(sum(when(col("k").between(loB, hiB), col("total_c"))),
            lit(0L)).as("sum_total_c")).collect()(0)
      // rewrite losslessness: the compacted version's full aggregate
      val full = after
        .agg(count(lit(1)).as("n"), sum("k").as("s")).collect()(0)

      val out = spark.range(1).select(
        lit(stats.length.toLong).as("files_before"),
        lit(binStats.length.toLong).as("files_after"),
        lit(hitBefore.length.toLong).as("files_read_before"),
        lit(hitBefore.map(_._4).sum).as("rows_read_before"),
        lit(hitAfter.length.toLong).as("files_read_after"),
        lit(hitAfter.map(_._4).sum).as("rows_read_after"),
        lit(m.getLong(0)).as("n_match"),
        lit(m.getLong(1)).as("sum_total_c"),
        lit(full.getLong(0)).as("n_rows_after"),
        lit(full.getLong(1)).as("sum_key_after"))
      val rows = out.collect().toIndexedSeq
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), out.schema)
    } finally st.drop()
  }

  /** Closed-form oracle: layout, packing arithmetic, both plans and
    * the matched aggregate restated from `orders`.
    */
  val binpackOracle: String =
    s"""WITH o AS (SELECT o_orderkey AS k,
       |    CAST(FLOOR(o_totalprice*100) AS BIGINT) AS total_c FROM orders),
       |mx AS (SELECT MAX(k) AS mk FROM o),
       |b AS (SELECT o.*, (k * $NSmall) // (mk + 1) AS fid,
       |        (30 * mk) // 100 AS lo_b, (35 * mk) // 100 AS hi_b
       |      FROM o, mx),
       |st AS (SELECT fid, MIN(k) AS lo_k, MAX(k) AS hi_k, COUNT(*) AS n,
       |         MAX(lo_b) AS lo_b, MAX(hi_b) AS hi_b
       |       FROM b GROUP BY 1),
       |tot AS (SELECT SUM(n) AS total FROM st),
       |pre AS (SELECT st.*, COALESCE(SUM(n) OVER (ORDER BY fid
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |          AS pfx, total
       |        FROM st, tot),
       |bins AS (SELECT *, pfx // ((total + $NBins - 1) // $NBins) AS bin
       |         FROM pre),
       |bst AS (SELECT bin, MIN(lo_k) AS lo_k, MAX(hi_k) AS hi_k,
       |          SUM(n) AS n, MAX(lo_b) AS lo_b, MAX(hi_b) AS hi_b
       |        FROM bins GROUP BY 1),
       |fb AS (SELECT COUNT(*) AS c, COALESCE(SUM(n), 0) AS r FROM st
       |       WHERE hi_k >= lo_b AND lo_k <= hi_b),
       |fa AS (SELECT COUNT(*) AS c, COALESCE(SUM(n), 0) AS r FROM bst
       |       WHERE hi_k >= lo_b AND lo_k <= hi_b),
       |m AS (SELECT COUNT(*) AS c, COALESCE(SUM(total_c), 0) AS s FROM b
       |      WHERE k BETWEEN lo_b AND hi_b)
       |SELECT (SELECT COUNT(*) FROM st) AS files_before,
       |  (SELECT COUNT(*) FROM bst) AS files_after,
       |  (SELECT c FROM fb) AS files_read_before,
       |  CAST((SELECT r FROM fb) AS BIGINT) AS rows_read_before,
       |  (SELECT c FROM fa) AS files_read_after,
       |  CAST((SELECT r FROM fa) AS BIGINT) AS rows_read_after,
       |  (SELECT c FROM m) AS n_match,
       |  CAST((SELECT s FROM m) AS BIGINT) AS sum_total_c,
       |  (SELECT COUNT(*) FROM b) AS n_rows_after,
       |  CAST((SELECT SUM(k) FROM b) AS BIGINT) AS sum_key_after""".stripMargin
}
