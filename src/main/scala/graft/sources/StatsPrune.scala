package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Manifest-level statistics pruning — the Iceberg idea that
  * completes [[graft.relational.Queries.qZorderSkip]]'s arithmetic
  * report with an ACTUAL pruned read: orders are written as
  * (year, orderkey-range) files on the [[ManifestTable]] core with
  * per-file min/max key stats, and a key-range query plans its file
  * list FROM THE STATS. The op certifies the pruned read end to end:
  * the emitted row carries files_total / files_read / rows_read plus
  * the exact aggregate of the matching rows, and the closed-form
  * oracle recomputes all of it from `orders` — a pruned-away file
  * that contained a match would hash-mismatch the aggregate, an
  * under-pruned plan would hash-mismatch files_read.
  */
object StatsPrune {

  /** Files per partition (orderkey-range split). */
  val PruneFiles = 4L

  /** Write orders as (year, orderkey-range) files with per-file
    * row counts and key bounds (`n_rows`, `lo_k`, `hi_k`). The key maximum the bands are fractions
    * of is the largest `hi_k` ([[keyMax]]).
    */
  private[graft] def stage(spark: SparkSession, dir: String): ManifestTable = {
    val o = Tables(spark, dir, "orders")
      .select(col("o_orderkey").as("k"),
        floor(col("o_totalprice") * 100).cast("long").as("total_c"),
        year(col("o_orderdate")).cast("long").as("p"))
    val mk = o.agg(max("k")).collect()(0).getLong(0)
    ManifestTable.write("sprune",
      o.withColumn("fid", expr(s"(k * $PruneFiles) div ${mk + 1}L")),
      Seq("p", "fid"), Nil, Seq("k"))
  }

  private[graft] def keyMax(t: ManifestTable): Long = t.max("hi_k")

  /** Serve ONE key-band query [loB, hiB] from the staged store: plan
    * the files whose key envelope overlaps the band, read only those,
    * and return the certified aggregate row (files_read, rows_read,
    * n_match, sum_total_c, sum_key).
    */
  private[graft] def servePlanned(t: ManifestTable,
      loB: Long, hiB: Long): (Long, Long, Long, Long, Long) = {
    val hit = t.stats.filter(r =>
      r.getAs[Long]("hi_k") >= loB && r.getAs[Long]("lo_k") <= hiB)
    val Seq(rr, nm, stc, sk) =
      t.tally(hit, col("k") >= loB && col("k") <= hiB, "total_c", "k")
    (hit.length.toLong, rr, nm, stc, sk)
  }

  /** src_stats_prune — serve the 30–35 % key band from the
    * stats-planned read.
    */
  def statsPrune(spark: SparkSession, dir: String): DataFrame = {
    val t = stage(spark, dir)
    try {
      val mk = keyMax(t)
      val (fr, rr, nm, stc, sk) =
        servePlanned(t, (30L * mk) / 100L, (35L * mk) / 100L)
      ManifestTable.row(spark, "files_total" -> t.stats.length.toLong,
        "files_read" -> fr, "rows_read" -> rr, "n_match" -> nm,
        "sum_total_c" -> stc, "sum_key" -> sk)
    } finally t.drop()
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
