package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** HIDDEN PARTITIONING — Iceberg's signature planning idea, the one
  * piece of the table-format layer [[PartitionEvolve]] and
  * [[StatsPrune]] don't cover: the table is laid out by TRANSFORMS of
  * raw columns (here `pm = month(o_orderdate)` as a linear month
  * number and `pb = bucket(4, o_custkey)` via the engine's shared
  * md5-prefix hash), but queries are written against the RAW columns
  * only — the user never names, or even knows, the partition scheme.
  * The planner derives partition predicates from raw predicates
  * through the transforms: a date range maps to a month-number range
  * (month is order-preserving, so interval bounds transform to
  * interval bounds), and a custkey point predicate maps to exactly
  * one bucket (hash transforms prune equality predicates only). Files
  * are then planned from the cell manifest — the [[ManifestTable]]
  * stats, one row per populated (pm, pb) cell — and only the cells in
  * (month-range × one bucket) open.
  *
  * This is the fix for the classic hand-partitioning failure at
  * 100 TB: with an explicit `month` COLUMN, every query author must
  * remember to add `AND month BETWEEN …` next to their date range or
  * silently full-scan; with the transform owned by the table spec,
  * the raw date range alone prunes, always.
  *
  * The emitted row certifies both sides: files_read / rows_read pin
  * the plan (an under-derived transform range over-reads, an
  * over-derived one under-reads), and n_match / sum_total_c pin the
  * answer (a cell wrongly pruned loses matches). The over-read inside
  * boundary months and within the shared bucket stays visible as
  * rows_read > n_match — the honest cost of month/bucket granularity.
  *
  * Reference surface: the reference walks octant-named directory
  * trees it must know the layout of (tiff2octree.py:272-381 —
  * os.path.join(relpath, octant_path) / "default.{ch}.tif" naming
  * baked into every reader); hidden partitioning is the table-format
  * answer to layout knowledge leaking into readers.
  */
object HiddenPartition {

  /** Bucket-transform width. */
  val Buckets = 4L

  /** Raw-column query window (the user's predicate — no partition
    * column named).
    */
  val DLo = "1997-03-10"
  val DHi = "1997-07-20"

  /** Month transform of the window bounds: 1997-03 .. 1997-07. */
  val PmLo: Long = 1997L * 12 + (3 - 1)
  val PmHi: Long = 1997L * 12 + (7 - 1)

  /** Write orders under the hidden (month, bucket) spec; the stats
    * are the cell manifest, a row count and custkey bounds per
    * populated (pm, pb) cell.
    */
  private[sources] def stage(spark: SparkSession, dir: String): ManifestTable =
    ManifestTable.write("hidpart", base(spark, dir), Seq("pm", "pb"), Nil, Seq("c"))

  /** Orders with the two hidden transforms applied. */
  private[sources] def base(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "orders").select(
      col("o_custkey").as("c"),
      floor(col("o_totalprice") * 100).cast("long").as("total_c"),
      col("o_orderdate").as("d"),
      (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1)
        .cast("long").as("pm"),
      expr(s"graft_md5_prefix(concat('hp:', cast(o_custkey as string)))" +
        s" % $Buckets").as("pb"))

  /** The cells the raw date window derives through the month
    * transform: its month range, in every bucket.
    */
  private def window(t: ManifestTable): Seq[Row] =
    t.stats.filter(r => r.getAs[Long]("pm") >= PmLo && r.getAs[Long]("pm") <= PmHi)

  /** The cells the raw-column query derives through the transforms:
    * the window's month range in the point key's bucket.
    */
  private[sources] def plan(t: ManifestTable, kb: Long): Seq[Row] =
    window(t).filter(_.getAs[Long]("pb") == kb)

  def hiddenPartition(spark: SparkSession, dir: String): DataFrame = {
    val t = stage(spark, dir)
    try {
      // the query's point key: smallest custkey >= 40% of max that HAS
      // an order inside the raw date window (guarantees n_match >= 1),
      // found over the window's cells read back
      val k = t.read(window(t)).filter(col("c") >= (4L * t.max("hi_c")) / 10L &&
          col("d") >= lit(DLo).cast("timestamp") &&
          col("d") <= lit(DHi).cast("timestamp"))
        .agg(min("c")).collect()(0).getLong(0)
      // bucket(k) through the SAME JVM hash the layout used
      val kb = graft.functions.GraftHash.md5PrefixLong(
        org.apache.spark.unsafe.types.UTF8String.fromString(s"hp:$k")) % Buckets
      val hit = plan(t, kb)
      val isMatch = col("c") === k &&
        col("d") >= lit(DLo).cast("timestamp") &&
        col("d") <= lit(DHi).cast("timestamp")
      val Seq(rr, nm, stc) = t.tally(hit, isMatch, "total_c")
      ManifestTable.row(spark, "files_total" -> t.stats.length.toLong,
        "files_read" -> hit.length.toLong, "rows_read" -> rr,
        "n_match" -> nm, "sum_total_c" -> stc, "match_custkey" -> k)
    } finally t.drop()
  }

  /** Closed-form oracle: transforms, cell manifest, plan arithmetic
    * and the matched aggregate all re-derived from `orders` (md5
    * prefix as the strpos polynomial — bit-equal to graft_md5_prefix).
    */
  val hiddenOracle: String = {
    val md5k = graft.ops.OpsOracles.md5Int("CONCAT('hp:', CAST(c AS VARCHAR))")
    s"""WITH o AS (SELECT o_custkey AS c,
       |    CAST(FLOOR(o_totalprice*100) AS BIGINT) AS total_c,
       |    o_orderdate AS d,
       |    CAST(year(o_orderdate)*12 + month(o_orderdate) - 1 AS BIGINT) AS pm
       |  FROM orders),
       |ob AS (SELECT *, CAST($md5k % $Buckets AS BIGINT) AS pb FROM o),
       |mx AS (SELECT MAX(c) AS mk FROM ob),
       |kk AS (SELECT MIN(c) AS k FROM ob, mx
       |       WHERE c >= (4*mk)//10
       |         AND d BETWEEN TIMESTAMP '$DLo' AND TIMESTAMP '$DHi'),
       |kb AS (SELECT k, CAST($md5k % $Buckets AS BIGINT) AS b
       |       FROM (SELECT k, k AS c FROM kk)),
       |cells AS (SELECT pm, pb, COUNT(*) AS n_rows FROM ob GROUP BY 1, 2),
       |hit AS (SELECT cells.* FROM cells, kb
       |        WHERE pm BETWEEN $PmLo AND $PmHi AND pb = kb.b),
       |m AS (SELECT ob.* FROM ob, kk WHERE c = k
       |      AND d BETWEEN TIMESTAMP '$DLo' AND TIMESTAMP '$DHi')
       |SELECT (SELECT COUNT(*) FROM cells) AS files_total,
       |  (SELECT COUNT(*) FROM hit) AS files_read,
       |  CAST((SELECT COALESCE(SUM(n_rows), 0) FROM hit) AS BIGINT) AS rows_read,
       |  (SELECT COUNT(*) FROM m) AS n_match,
       |  CAST((SELECT COALESCE(SUM(total_c), 0) FROM m) AS BIGINT) AS sum_total_c,
       |  (SELECT k FROM kk) AS match_custkey""".stripMargin
  }
}
