package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.relational.Queries

/** TWO-LEVEL PRUNING COMPOSITION — hidden partitioning OVER a Z-order
  * file layout, the way a production 100 TB table actually combines
  * them ([[HiddenPartition]] proves the transform-derived cell prune,
  * [[ZOrderStore]] the stats-planned file prune; real tables run both
  * in ONE scan): the table is partitioned by a TRANSFORM of the raw
  * date (`pq` = linear quarter number — coarse cells the planner
  * derives from any raw date range), and WITHIN each quarter cell the
  * rows are clustered on the Morton interleave of min-max-normalized
  * (custkey, total_c), files cut on the top 3 z bits with an
  * Iceberg-style per-file min/max stats manifest. A query written
  * against raw columns only — a date range plus a (custkey, price)
  * box — then prunes twice from metadata alone: the date range maps
  * through the quarter transform to a cell interval (level 1), and
  * inside the surviving cells only files whose stats envelope
  * overlaps the box on BOTH clustered dimensions open (level 2).
  *
  * The emitted row pins each layer separately: files_after_quarter
  * (level 1 alone) sits strictly between files_total and files_read,
  * so an inactive layer is visible in the row itself — not just in a
  * plan dump — and n_match / sum_total_c certify no file holding a
  * match was pruned (the date predicate keeps filtering inside
  * boundary quarters: rows_read > n_match is the honest cell-grain
  * cost, exactly as in [[HiddenPartition]]). Both prune layers are
  * driver-side filters over the one [[ManifestTable]] stats manifest.
  */
object HiddenZOrder {

  /** Raw-column query window (no partition column named) — shared
    * with [[HiddenPartition]]'s scenario.
    */
  val DLo = "1997-03-10"
  val DHi = "1997-07-20"

  /** Quarter transform of the window bounds: 1997Q1 .. 1997Q3. */
  val PqLo: Long = 1997L * 4
  val PqHi: Long = 1997L * 4 + 2

  /** Files per quarter cell: top [[FidBits]] bits of the z value. */
  val FidBits = 3

  /** The raw projection the transforms apply over. */
  private def rawOrders(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "orders").select(
      col("o_custkey").as("c"),
      floor(col("o_totalprice") * 100).cast("long").as("total_c"),
      col("o_orderdate").as("d"),
      (year(col("o_orderdate")).cast("long") * 4 +
        floor((month(col("o_orderdate")) - 1) / 3.0).cast("long")).as("pq"))

  /** Orders with the quarter transform and the z assignment applied:
    * (c, total_c, d, pq, z, fid). The normalization maxima (mc, mtc)
    * are collected first (one tiny agg job) and baked in as literals.
    */
  private[sources] def base(spark: SparkSession, dir: String): DataFrame = {
    val o = rawOrders(spark, dir)
    val r = o.agg(max("c"), max("total_c")).collect()(0)
    o.withColumn("cn", expr(s"(c * ${1L << Queries.ZBits}) div ${r.getLong(0) + 1}L"))
      .withColumn("tn", expr(s"(total_c * ${1L << Queries.ZBits}) div ${r.getLong(1) + 1}L"))
      .withColumn("z", expr(Queries.zInterleaveExpr("cn", "tn")))
      .withColumn("fid", expr(s"z div ${1L << (2 * Queries.ZBits - FidBits)}"))
      .select("c", "total_c", "d", "pq", "z", "fid")
  }

  /** Write the two-level layout: (quarter cell, z file) partitions,
    * z-sorted inside each file, with per-file envelopes on BOTH
    * clustered dimensions.
    */
  private[sources] def stage(spark: SparkSession, dir: String): ManifestTable =
    ManifestTable.write("hidz", base(spark, dir), Seq("pq", "fid"), Seq("z"),
      Seq("c", "total_c"))

  /** The (custkey, price) box (cLo, cHi, tcLo, tcHi): fixed fractions
    * of the maxima, which are the largest file envelopes.
    */
  private[sources] def box(t: ManifestTable): (Long, Long, Long, Long) = {
    val (mc, mtc) = (t.max("hi_c"), t.max("hi_total_c"))
    ((30L * mc) / 100L, (45L * mc) / 100L, (20L * mtc) / 100L, (50L * mtc) / 100L)
  }

  /** Level 1: the raw date range derives a quarter interval through
    * the transform (quarter numbers are order-preserving in date).
    */
  private[sources] def afterQuarter(t: ManifestTable): Seq[Row] =
    t.stats.filter(r => r.getAs[Long]("pq") >= PqLo && r.getAs[Long]("pq") <= PqHi)

  /** Level 2: within surviving cells, stats-envelope overlap on the
    * (custkey, price) box.
    */
  private[sources] def plan(t: ManifestTable): Seq[Row] = {
    val (cLo, cHi, tcLo, tcHi) = box(t)
    afterQuarter(t).filter(r =>
      r.getAs[Long]("hi_c") >= cLo && r.getAs[Long]("lo_c") <= cHi &&
        r.getAs[Long]("hi_total_c") >= tcLo && r.getAs[Long]("lo_total_c") <= tcHi)
  }

  def hiddenZorder(spark: SparkSession, dir: String): DataFrame = {
    val t = stage(spark, dir)
    try {
      val (cLo, cHi, tcLo, tcHi) = box(t)
      val hit = plan(t)
      val isMatch = col("d") >= lit(DLo).cast("timestamp") &&
        col("d") <= lit(DHi).cast("timestamp") &&
        col("c").between(cLo, cHi) && col("total_c").between(tcLo, tcHi)
      val Seq(rr, nm, stc) = t.tally(hit, isMatch, "total_c")
      ManifestTable.row(spark, "files_total" -> t.stats.length.toLong,
        "files_after_quarter" -> afterQuarter(t).length.toLong,
        "files_read" -> hit.length.toLong, "rows_read" -> rr,
        "n_match" -> nm, "sum_total_c" -> stc)
    } finally t.drop()
  }

  /** Closed-form oracle: transform, z assignment, per-file envelopes,
    * BOTH plan layers and the matched aggregate re-derived from
    * `orders`.
    */
  val hiddenZorderOracle: String = {
    val zsql = Queries.zInterleaveSql("cn", "tn")
    s"""WITH o AS (SELECT o_custkey AS c,
       |    CAST(FLOOR(o_totalprice*100) AS BIGINT) AS total_c,
       |    o_orderdate AS d,
       |    CAST(year(o_orderdate)*4 + (month(o_orderdate)-1)//3 AS BIGINT) AS pq
       |  FROM orders),
       |mx AS (SELECT MAX(c) AS mc, MAX(total_c) AS mtc FROM o),
       |bx AS (SELECT (30*mc)//100 AS c_lo, (45*mc)//100 AS c_hi,
       |         (20*mtc)//100 AS tc_lo, (50*mtc)//100 AS tc_hi FROM mx),
       |z AS (SELECT o.*,
       |    (c * ${1L << Queries.ZBits}) // (mc + 1) AS cn,
       |    (total_c * ${1L << Queries.ZBits}) // (mtc + 1) AS tn
       |  FROM o, mx),
       |zf AS (SELECT *, $zsql // ${1L << (2 * Queries.ZBits - FidBits)} AS fid
       |       FROM z),
       |st AS (SELECT pq, fid, MIN(c) AS lo_c, MAX(c) AS hi_c,
       |         MIN(total_c) AS lo_tc, MAX(total_c) AS hi_tc,
       |         COUNT(*) AS n_rows
       |       FROM zf GROUP BY 1, 2),
       |aq AS (SELECT * FROM st WHERE pq BETWEEN $PqLo AND $PqHi),
       |hit AS (SELECT aq.* FROM aq, bx
       |        WHERE hi_c >= c_lo AND lo_c <= c_hi
       |          AND hi_tc >= tc_lo AND lo_tc <= tc_hi),
       |m AS (SELECT zf.* FROM zf, bx
       |      WHERE d BETWEEN TIMESTAMP '$DLo' AND TIMESTAMP '$DHi'
       |        AND c BETWEEN c_lo AND c_hi
       |        AND total_c BETWEEN tc_lo AND tc_hi)
       |SELECT (SELECT COUNT(*) FROM st) AS files_total,
       |  (SELECT COUNT(*) FROM aq) AS files_after_quarter,
       |  (SELECT COUNT(*) FROM hit) AS files_read,
       |  CAST((SELECT COALESCE(SUM(n_rows), 0) FROM hit) AS BIGINT) AS rows_read,
       |  (SELECT COUNT(*) FROM m) AS n_match,
       |  CAST((SELECT COALESCE(SUM(total_c), 0) FROM m) AS BIGINT) AS sum_total_c""".stripMargin
  }
}
