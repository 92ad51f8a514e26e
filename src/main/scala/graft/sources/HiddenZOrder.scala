package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.Scratch
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
  * cost, exactly as in [[HiddenPartition]]).
  *
  * Scale shape: both prune layers are driver-side arithmetic over
  * bounded metadata (the cell/file stats manifest); the read is one
  * pruned scan with the box predicate pushed into parquet row-group
  * pruning inside the surviving z-sorted files; the layout write is
  * one shuffle keyed by (cell, fid). No stage touches more than
  * O(selectivity) of the table after the write.
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

  /** The normalization maxima (mc, mtc), one tiny agg job. */
  private def maxima(spark: SparkSession, dir: String): (Long, Long) = {
    val r = rawOrders(spark, dir).agg(max("c"), max("total_c")).collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  /** Orders with the quarter transform and the z assignment applied:
    * (c, total_c, d, pq, z, fid). The maxima are baked in as literals
    * (collected once by the caller) — the old crossJoin(broadcast(mx))
    * re-ran the max-subquery broadcast inside EVERY execution that
    * referenced the frame.
    */
  private[sources] def baseWith(spark: SparkSession, dir: String,
      mc: Long, mtc: Long): DataFrame =
    rawOrders(spark, dir)
      .withColumn("cn", expr(s"(c * ${1L << Queries.ZBits}) div ${mc + 1}L"))
      .withColumn("tn", expr(s"(total_c * ${1L << Queries.ZBits}) div ${mtc + 1}L"))
      .withColumn("z", expr(Queries.zInterleaveExpr("cn", "tn")))
      .withColumn("fid", expr(s"z div ${1L << (2 * Queries.ZBits - FidBits)}"))
      .select("c", "total_c", "d", "pq", "z", "fid")

  private[sources] def base(spark: SparkSession, dir: String): DataFrame = {
    val (mc, mtc) = maxima(spark, dir)
    baseWith(spark, dir, mc, mtc)
  }

  /** Staged store handle plus the planner's metadata. */
  private[sources] final case class HZStore(store: String, filesTotal: Long,
      afterQuarter: Seq[(Long, Long, Long)], hit: Seq[(Long, Long, Long)],
      cLo: Long, cHi: Long, tcLo: Long, tcHi: Long) {
    def drop(): Unit = Scratch.rm(store)
  }

  /** Write the two-level layout + stats manifest and plan the query's
    * file list through both prune layers.
    */
  private[sources] def stage(spark: SparkSession, dir: String): HZStore = {
    val store = Scratch.path("hidz")
    Scratch.rm(store)
    // ONE pass over orders (guide §1.2/§5): maxima collected once and
    // baked into the transform as literals; the transformed base is
    // lazily checkpointed — the layout write materializes it — so the
    // stats aggregation reads pinned blocks instead of re-scanning
    // parquet and re-running the z interleave; the bounded stats
    // manifest is collected ONCE and both prune layers run driver-side
    // over the collected rows (was: three extra base recomputes plus a
    // count job and two collect jobs over the stats parquet).
    val (mc, mtc) = maxima(spark, dir)
    val b = baseWith(spark, dir, mc, mtc).localCheckpoint(eager = false)
    // one shuffle keyed by (cell, fid); z-sorted within each file for
    // tight row-group envelopes inside tight file envelopes
    // the sort leads with the partition columns so the partitioned
    // write's required ordering is already satisfied — otherwise the
    // writer re-sorts by (pq, fid) alone (non-stable) and the z order
    // inside each file is destroyed
    b.repartition(col("pq"), col("fid"))
      .sortWithinPartitions("pq", "fid", "z")
      .write.mode(SaveMode.Overwrite).partitionBy("pq", "fid")
      .parquet(s"$store/data")
    // the stats manifest: per-(cell, file) envelopes on BOTH clustered
    // dimensions — the metadata an Iceberg manifest keeps per file
    val statsDf = b.groupBy("pq", "fid")
      .agg(min("c").as("lo_c"), max("c").as("hi_c"),
        min("total_c").as("lo_tc"), max("total_c").as("hi_tc"),
        count(lit(1)).as("n_rows"))
    val statsRows = statsDf.collect().toIndexedSeq
    spark.createDataFrame(spark.sparkContext.parallelize(statsRows, 1),
        statsDf.schema)
      .write.mode(SaveMode.Overwrite).parquet(s"$store/stats")

    val (cLo, cHi) = ((30L * mc) / 100L, (45L * mc) / 100L)
    val (tcLo, tcHi) = ((20L * mtc) / 100L, (50L * mtc) / 100L)
    val filesTotal = statsRows.length.toLong
    // level 1: the raw date range derives a quarter interval through
    // the transform (quarter numbers are order-preserving in date)
    val afterQ = statsRows
      .filter(r => r.getLong(0) >= PqLo && r.getLong(0) <= PqHi)
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(6)))
    // level 2: within surviving cells, stats-envelope overlap on the
    // (custkey, price) box
    val hit = statsRows
      .filter(r => r.getLong(0) >= PqLo && r.getLong(0) <= PqHi &&
        r.getLong(3) >= cLo && r.getLong(2) <= cHi &&
        r.getLong(5) >= tcLo && r.getLong(4) <= tcHi)
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(6)))
    HZStore(store, filesTotal, afterQ, hit, cLo, cHi, tcLo, tcHi)
  }

  def hiddenZorder(spark: SparkSession, dir: String): DataFrame = {
    val st = stage(spark, dir)
    try {
      val pruned =
        if (st.hit.isEmpty)
          spark.range(0).select(lit(0L).as("c"), lit(0L).as("total_c"),
            lit(null).cast("timestamp").as("d"))
        else spark.read.option("basePath", s"${st.store}/data")
          .parquet(st.hit.map { case (pq, fid, _) =>
            s"${st.store}/data/pq=$pq/fid=$fid" }: _*)
      val isMatch = col("d") >= lit(DLo).cast("timestamp") &&
        col("d") <= lit(DHi).cast("timestamp") &&
        col("c").between(st.cLo, st.cHi) &&
        col("total_c").between(st.tcLo, st.tcHi)
      val a = pruned.agg(
        count(lit(1)).as("rows_read"),
        coalesce(sum(when(isMatch, 1L).otherwise(0L)), lit(0L)).as("n_match"),
        coalesce(sum(when(isMatch, col("total_c"))), lit(0L))
          .as("sum_total_c")).collect()(0)
      val out = spark.range(1).select(
        lit(st.filesTotal).as("files_total"),
        lit(st.afterQuarter.length.toLong).as("files_after_quarter"),
        lit(st.hit.length.toLong).as("files_read"),
        lit(a.getLong(0)).as("rows_read"),
        lit(a.getLong(1)).as("n_match"),
        lit(a.getLong(2)).as("sum_total_c"))
      val rows = out.collect().toIndexedSeq
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), out.schema)
    } finally st.drop()
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
