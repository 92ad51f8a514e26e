package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.Scratch
import graft.Tables
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
  * Scale shape: identical to the z twin — scan-side integer
  * arithmetic against a broadcast maxima row, one shuffle keyed by
  * file id, a 64-cell stats aggregate, O(selectivity) files opened by
  * the planned read. The spec measures the locality claim directly:
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

  /** The Spark-side position: ONE native codegen'd expression
    * ([[graft.functions.HilbertIndex]]) — the unrolled column chain
    * below is kept for the spec's independent cross-check, but the
    * hot path must not pay its plan-size blowup (the rotation makes
    * each level reference the previous one several times; measured:
    * 15 s → z-order parity after the swap).
    */
  private[graft] def hilbertExprCol(df: DataFrame, xCol: String,
      yCol: String, bits: Int): DataFrame = {
    df.withColumn("hd", expr(s"graft_hilbert($xCol, $yCol, $bits)"))
  }

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

  private[graft] final case class Staged(store: String, filesTotal: Long,
      hitFids: Seq[Long], pkLo: Long, pkHi: Long, skLo: Long, skHi: Long) {
    def drop(): Unit = Scratch.rm(store)
  }

  private[graft] def stage(spark: SparkSession, dir: String): Staged = {
    val store = Scratch.path("hstore")
    Scratch.rm(store)
    val li = Tables(spark, dir, "lineitem")
      .select(col("l_partkey").as("pk"), col("l_suppkey").as("sk"),
        floor(col("l_extendedprice") * 100).cast("long").as("price_c"))
    val mx = li.agg(max("pk").as("mpk"), max("sk").as("msk"))
    val norm = li.crossJoin(broadcast(mx))
      .withColumn("pkn", expr(s"(pk * ${1L << Queries.ZBits}) div (mpk + 1L)"))
      .withColumn("skn", expr(s"(sk * ${1L << Queries.ZBits}) div (msk + 1L)"))
    val withH = hilbertExprCol(norm, "pkn", "skn", Queries.ZBits)
      .withColumn("fid", expr(s"hd div ${1L << (2 * Queries.ZBits - 6)}"))
    withH.select("pk", "sk", "price_c", "hd", "fid")
      .repartition(col("fid"))
      .sortWithinPartitions("fid", "hd")
      .write.mode(SaveMode.Overwrite).partitionBy("fid")
      .parquet(s"$store/data")
    withH.groupBy("fid")
      .agg(min("pk").as("lo_pk"), max("pk").as("hi_pk"),
        min("sk").as("lo_sk"), max("sk").as("hi_sk"),
        count(lit(1)).as("n_rows"))
      .write.mode(SaveMode.Overwrite).parquet(s"$store/stats")
    val b = mx.select(expr("(30L * mpk) div 100L"), expr("(35L * mpk) div 100L"),
      expr("(30L * msk) div 100L"), expr("(35L * msk) div 100L")).collect()(0)
    val (pkLo, pkHi, skLo, skHi) =
      (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
    val stats = spark.read.parquet(s"$store/stats")
    val hit = stats.filter(col("hi_pk") >= pkLo && col("lo_pk") <= pkHi &&
        col("hi_sk") >= skLo && col("lo_sk") <= skHi)
      .select("fid").collect().map(_.getLong(0)).sorted.toIndexedSeq
    Staged(store, stats.count(), hit, pkLo, pkHi, skLo, skHi)
  }

  /** src_hilbert_store — write the Hilbert layout, then serve the 2-D
    * box query from the stats-planned pruned read.
    */
  def hilbertStore(spark: SparkSession, dir: String): DataFrame = {
    val st = stage(spark, dir)
    try {
      val pruned =
        if (st.hitFids.isEmpty)
          spark.range(0).select(lit(0L).as("pk"), lit(0L).as("sk"),
            lit(0L).as("price_c"))
        else spark.read.option("basePath", s"${st.store}/data")
          .parquet(st.hitFids.map(f => s"${st.store}/data/fid=$f"): _*)
      val isMatch = col("pk") >= st.pkLo && col("pk") <= st.pkHi &&
        col("sk") >= st.skLo && col("sk") <= st.skHi
      val agg = pruned
        .agg(count(lit(1)).as("rows_read"),
          sum(when(isMatch, 1L).otherwise(0L)).as("n_match"),
          coalesce(sum(when(isMatch, col("price_c"))), lit(0L)).as("sum_price_c"),
          coalesce(sum(when(isMatch, col("pk"))), lit(0L)).as("sum_pk"))
        .select(lit(st.filesTotal).as("files_total"),
          lit(st.hitFids.length.toLong).as("files_read"),
          col("rows_read"), col("n_match"), col("sum_price_c"), col("sum_pk"))
      val rows = agg.collect().toIndexedSeq
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), agg.schema)
    } finally st.drop()
  }

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
