package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.relational.Queries

/** The PHYSICAL twin of [[graft.relational.Queries.qZorderSkip]]: that
  * op proves the Z-order pruning arithmetic in a report; this one
  * actually WRITES the layout and serves a query from it. lineitem is
  * clustered on a 2-D curve position of min-max-normalized
  * (l_partkey, l_suppkey) — files cut on the top 6 curve bits (64
  * curve-aligned ranges, rows curve-sorted within each file, the
  * shape Delta's OPTIMIZE ZORDER produces) — on the [[ManifestTable]]
  * core with per-file min/max envelopes on both dimensions. A 2-D box
  * predicate then plans its file list FROM THE STATS and reads only
  * the overlapping files. The emitted row carries files_total /
  * files_read / rows_read plus the exact matched-row aggregates, and
  * the closed-form oracle recomputes all of it from `lineitem` — a
  * pruned-away file that contained a match would hash-mismatch the
  * aggregates, an under-pruned plan would hash-mismatch files_read.
  *
  * The curve is the one parameter: the Morton interleave here, the
  * Hilbert walk in [[HilbertStore]]. Min-max normalization comes
  * before either (qZorderSkip's measured lesson: unnormalized, the
  * wide column monopolizes the curve's high bits and the narrow one
  * never prunes).
  */
object ZOrderStore {

  /** A clustering curve: the scratch prefix of its store and its
    * position expression over the normalized grid columns `pkn`, `skn`.
    */
  private[graft] final case class Curve(prefix: String, position: String)

  private[graft] val Morton = Curve("zstore", Queries.zInterleaveExpr("pkn", "skn"))

  /** Write lineitem clustered on `curve` with the per-file envelopes. */
  private[graft] def stage(spark: SparkSession, dir: String,
      curve: Curve = Morton): ManifestTable = {
    val li = Tables(spark, dir, "lineitem")
      .select(col("l_partkey").as("pk"), col("l_suppkey").as("sk"),
        floor(col("l_extendedprice") * 100).cast("long").as("price_c"))
    val mx = li.agg(max("pk"), max("sk")).collect()(0)
    ManifestTable.write(curve.prefix,
      li.withColumn("pkn", expr(s"(pk * ${1L << Queries.ZBits}) div ${mx.getLong(0) + 1}L"))
        .withColumn("skn", expr(s"(sk * ${1L << Queries.ZBits}) div ${mx.getLong(1) + 1}L"))
        .withColumn("cd", expr(curve.position))
        .withColumn("fid", expr(s"cd div ${1L << (2 * Queries.ZBits - 6)}"))
        .select("pk", "sk", "price_c", "cd", "fid"),
      Seq("fid"), Seq("cd"), Seq("pk", "sk"))
  }

  /** The box (pkLo, pkHi, skLo, skHi): 30–35 % of each key maximum,
    * the maxima being the largest file envelopes.
    */
  private[graft] def box(t: ManifestTable): (Long, Long, Long, Long) = {
    val (mpk, msk) = (t.max("hi_pk"), t.max("hi_sk"))
    ((30L * mpk) / 100L, (35L * mpk) / 100L, (30L * msk) / 100L, (35L * msk) / 100L)
  }

  /** A file is read iff its envelope overlaps the box on EVERY
    * constrained dimension.
    */
  private[graft] def plan(t: ManifestTable): Seq[Row] = {
    val (pkLo, pkHi, skLo, skHi) = box(t)
    t.stats.filter(r => r.getAs[Long]("hi_pk") >= pkLo && r.getAs[Long]("lo_pk") <= pkHi &&
      r.getAs[Long]("hi_sk") >= skLo && r.getAs[Long]("lo_sk") <= skHi)
  }

  /** Write the `curve` layout, then serve the 2-D box query from the
    * stats-planned pruned read.
    */
  private[graft] def serve(spark: SparkSession, dir: String, curve: Curve): DataFrame = {
    val t = stage(spark, dir, curve)
    try {
      val (pkLo, pkHi, skLo, skHi) = box(t)
      val hit = plan(t)
      val Seq(rr, nm, spc, spk) = t.tally(hit,
        col("pk").between(pkLo, pkHi) && col("sk").between(skLo, skHi),
        "price_c", "pk")
      ManifestTable.row(spark, "files_total" -> t.stats.length.toLong,
        "files_read" -> hit.length.toLong, "rows_read" -> rr,
        "n_match" -> nm, "sum_price_c" -> spc, "sum_pk" -> spk)
    } finally t.drop()
  }

  /** src_zorder_store — the Morton layout. */
  def zorderStore(spark: SparkSession, dir: String): DataFrame =
    serve(spark, dir, Morton)

  /** Closed-form oracle: the same layout + plan arithmetic from
    * `lineitem`, sharing [[Queries.zInterleaveSql]] with the report op.
    */
  val zorderOracle: String = {
    val scale = 1L << Queries.ZBits
    val fidDiv = 1L << (2 * Queries.ZBits - 6)
    s"""WITH li AS (SELECT l_partkey AS pk, l_suppkey AS sk,
       |    CAST(FLOOR(l_extendedprice*100) AS BIGINT) AS price_c
       |  FROM lineitem),
       |mx AS (SELECT MAX(pk) AS mpk, MAX(sk) AS msk FROM li),
       |b AS (SELECT li.*,
       |    (pk * $scale) // (mpk + 1) AS pkn,
       |    (sk * $scale) // (msk + 1) AS skn,
       |    (30 * mpk) // 100 AS pk_lo, (35 * mpk) // 100 AS pk_hi,
       |    (30 * msk) // 100 AS sk_lo, (35 * msk) // 100 AS sk_hi
       |  FROM li, mx),
       |f AS (SELECT *,
       |    ${Queries.zInterleaveSql("pkn", "skn")} // $fidDiv AS fid
       |  FROM b),
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
