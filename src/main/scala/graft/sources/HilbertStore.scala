package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.relational.Queries

/** HILBERT-curve clustering — the locality upgrade over the Morton
  * interleave [[ZOrderStore]] writes: the Hilbert curve visits every
  * cell of the 2-D grid with NO long jumps (consecutive curve
  * positions are always grid neighbors, where the Z curve teleports
  * across half the space at every quadrant seam), so files cut on
  * curve ranges get TIGHTER min/max envelopes on both dimensions and
  * a box query prunes more files at the same file count — which is
  * why Databricks added liquid clustering on Hilbert after years of
  * OPTIMIZE ZORDER. Same physical contract as the z twin: lineitem
  * clustered on the curve position of min-max-normalized
  * (l_partkey, l_suppkey), 64 files cut on the top 6 curve bits with
  * rows curve-sorted inside each, an Iceberg-style per-file stats
  * table, and a 2-D box query planned FROM THE STATS.
  *
  * The curve position is computed by the standard xy→d loop —
  * [[Queries.ZBits]] levels of quadrant-code accumulation plus the
  * Hilbert ROTATION (the part Morton lacks, and exactly what removes
  * the seams) — unrolled into per-level integer column expressions:
  * no UDF, whole-stage codegen'd, and the SAME unrolled chain is
  * emitted as SQL for the oracle so the two engines cannot drift.
  *
  * Stage and serve are the z twin's ([[ZOrderStore.serve]]); only
  * the curve differs. The spec measures the locality claim directly:
  * the same box over both layouts, hilbert files_read ≤ zorder
  * files_read.
  */
object HilbertStore {

  /** Quadrant code (3·rx) XOR ry without a xor operator (portable
    * across both engines' SQL): rx,ry ∈ {0,1} → 00→0, 01→1, 10→3,
    * 11→2, i.e. 3·rx + ry − 2·rx·ry·2 … stated directly as a CASE.
    */
  private val quad =
    "CASE WHEN rx = 1 AND ry = 1 THEN 2 WHEN rx = 1 THEN 3 " +
      "WHEN ry = 1 THEN 1 ELSE 0 END"

  /** The Spark-side position of the grid columns `x`, `y`, as
    * [[Hilbert]] computes it: ONE native codegen'd expression
    * ([[graft.functions.HilbertIndex]]) — the unrolled column chain
    * below is kept for the spec's independent cross-check, but the hot
    * path must not pay its plan-size blowup (the rotation makes each
    * level reference the previous one several times; measured: 15 s →
    * z-order parity after the swap).
    */
  private[graft] def position(x: String, y: String, bits: Int): String =
    s"graft_hilbert($x, $y, $bits)"

  /** The unrolled column chain — the spec's second, plan-level
    * formulation of the same walk (adds hd to `df`).
    */
  private[graft] def hilbertCol(df: DataFrame, xCol: String, yCol: String,
      bits: Int): DataFrame = {
    var d = df.withColumn("hx", col(xCol)).withColumn("hy", col(yCol))
      .withColumn("hd", lit(0L))
    for (k <- bits - 1 to 0 by -1) {
      val s = 1L << k
      d = d
        .withColumn("rx", expr(s"CASE WHEN (hx & $s) > 0 THEN 1L ELSE 0L END"))
        .withColumn("ry", expr(s"CASE WHEN (hy & $s) > 0 THEN 1L ELSE 0L END"))
        .withColumn("hd", expr(s"hd + ${s * s}L * ($quad)"))
        .withColumn("nhx",
          expr(s"CASE WHEN ry = 1L THEN hx WHEN rx = 1L THEN ${s}L - 1L - hy ELSE hy END"))
        .withColumn("nhy",
          expr(s"CASE WHEN ry = 1L THEN hy WHEN rx = 1L THEN ${s}L - 1L - hx ELSE hx END"))
        .withColumn("hx", col("nhx")).withColumn("hy", col("nhy"))
        .drop("nhx", "nhy")
    }
    d.drop("rx", "ry", "hx", "hy")
  }

  /** The DuckDB chain: CTEs h{bits-1} … h0 over a source relation
    * exposing hx/hy/hd plus carried columns — one named level per
    * round, so the plan stays linear (a nested expression would
    * re-expand each level twice).
    */
  private def hilbertCtesSql(bits: Int, src: String,
      carry: Seq[String]): String = {
    val cols = carry.mkString(", ")
    (bits - 1 to 0 by -1).map { k =>
      val s = 1L << k
      val prev = if (k == bits - 1) src else s"h${k + 1}"
      s"""h$k AS (SELECT $cols,
         |    CASE WHEN ry = 1 THEN hx WHEN rx = 1 THEN $s - 1 - hy ELSE hy END AS hx,
         |    CASE WHEN ry = 1 THEN hy WHEN rx = 1 THEN $s - 1 - hx ELSE hx END AS hy,
         |    hd + CAST(${s * s} AS BIGINT) * ($quad) AS hd
         |  FROM (SELECT *,
         |      CASE WHEN (hx & $s) > 0 THEN 1 ELSE 0 END AS rx,
         |      CASE WHEN (hy & $s) > 0 THEN 1 ELSE 0 END AS ry
         |    FROM $prev))""".stripMargin
    }.mkString(",\n")
  }

  /** The Hilbert walk as a [[ZOrderStore.Curve]]. */
  private[graft] val Hilbert = ZOrderStore.Curve("hstore",
    position("pkn", "skn", Queries.ZBits))

  /** src_hilbert_store — the z twin's stage and serve on the Hilbert
    * layout.
    */
  def hilbertStore(spark: SparkSession, dir: String): DataFrame =
    ZOrderStore.serve(spark, dir, Hilbert)

  /** Closed-form oracle: the same normalize → Hilbert chain → file
    * cut → stats plan → matched aggregates from `lineitem`, the
    * per-level chain emitted by the SAME generator as the Spark side.
    */
  val hilbertOracle: String = {
    val scale = 1L << Queries.ZBits
    val fidDiv = 1L << (2 * Queries.ZBits - 6)
    val carry = Seq("pk", "sk", "price_c", "pk_lo", "pk_hi", "sk_lo", "sk_hi")
    s"""WITH li AS (SELECT l_partkey AS pk, l_suppkey AS sk,
       |    CAST(FLOOR(l_extendedprice*100) AS BIGINT) AS price_c
       |  FROM lineitem),
       |mx AS (SELECT MAX(pk) AS mpk, MAX(sk) AS msk FROM li),
       |b AS (SELECT li.*,
       |    (pk * $scale) // (mpk + 1) AS hx,
       |    (sk * $scale) // (msk + 1) AS hy,
       |    CAST(0 AS BIGINT) AS hd,
       |    (30 * mpk) // 100 AS pk_lo, (35 * mpk) // 100 AS pk_hi,
       |    (30 * msk) // 100 AS sk_lo, (35 * msk) // 100 AS sk_hi
       |  FROM li, mx),
       |${hilbertCtesSql(Queries.ZBits, "b", carry)},
       |f AS (SELECT *, hd // $fidDiv AS fid FROM h0),
       |st AS (SELECT fid, MIN(pk) AS lo_pk, MAX(pk) AS hi_pk,
       |    MIN(sk) AS lo_sk, MAX(sk) AS hi_sk, COUNT(*) AS n_rows,
       |    MAX(pk_lo) AS pk_lo, MAX(pk_hi) AS pk_hi,
       |    MAX(sk_lo) AS sk_lo, MAX(sk_hi) AS sk_hi
       |  FROM f GROUP BY 1),
       |hit AS (SELECT * FROM st
       |  WHERE hi_pk >= pk_lo AND lo_pk <= pk_hi
       |    AND hi_sk >= sk_lo AND lo_sk <= sk_hi)
       |SELECT (SELECT COUNT(*) FROM st) AS files_total,
       |  (SELECT COUNT(*) FROM hit) AS files_read,
       |  CAST((SELECT COALESCE(SUM(n_rows), 0) FROM hit) AS BIGINT) AS rows_read,
       |  (SELECT COUNT(*) FROM f
       |   WHERE pk BETWEEN pk_lo AND pk_hi AND sk BETWEEN sk_lo AND sk_hi) AS n_match,
       |  CAST((SELECT COALESCE(SUM(price_c), 0) FROM f
       |   WHERE pk BETWEEN pk_lo AND pk_hi AND sk BETWEEN sk_lo AND sk_hi) AS BIGINT) AS sum_price_c,
       |  CAST((SELECT COALESCE(SUM(pk), 0) FROM f
       |   WHERE pk BETWEEN pk_lo AND pk_hi AND sk BETWEEN sk_lo AND sk_hi) AS BIGINT) AS sum_pk""".stripMargin
  }
}
