package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.Scratch
import graft.Tables
import graft.relational.Queries

/** The PHYSICAL twin of [[graft.relational.Queries.qZorderSkip]]: that
  * op proves the Z-order pruning arithmetic in a report; this one
  * actually WRITES the layout and serves a query from it. lineitem is
  * clustered on the Morton interleave of min-max-normalized
  * (l_partkey, l_suppkey) — files cut on the top 6 z bits (64
  * curve-aligned quadrant unions, rows z-sorted within each file, the
  * shape Delta's OPTIMIZE ZORDER produces) — with an Iceberg-style
  * per-file min/max stats table committed beside the data. A 2-D box
  * predicate then plans its file list FROM THE STATS and reads only
  * the overlapping files. The emitted row carries files_total /
  * files_read / rows_read plus the exact matched-row aggregates, and
  * the closed-form oracle recomputes all of it from `lineitem` — a
  * pruned-away file that contained a match would hash-mismatch the
  * aggregates, an under-pruned plan would hash-mismatch files_read.
  *
  * Scale shape: file assignment is scan-side integer arithmetic
  * against a broadcast 1-row maxima frame (no global sort, no driver
  * work on data rows); the write is one shuffle keyed by fid (each
  * file's rows colocate, so `partitionBy` emits exactly one file per
  * fid); the stats table is a [[Queries.ZFiles]]-cell aggregate; the
  * pruned read opens O(selectivity) files of a 100 TB table and its
  * box predicate is additionally pushed into the parquet scan for
  * row-group pruning inside the surviving files.
  */
object ZOrderStore {

  /** Staged store handle: root, per-file stats cells, stats-planned
    * hit files, and the box bounds — shared by the op and the
    * plan-audit spec.
    */
  private[graft] final case class Staged(store: String, filesTotal: Long,
      hitFids: Seq[Long], pkLo: Long, pkHi: Long, skLo: Long, skHi: Long) {
    def drop(): Unit = Scratch.rm(store)
  }

  /** Write the z-clustered store + stats table and plan the box
    * query's file list from the stats.
    */
  private[graft] def stage(spark: SparkSession, dir: String): Staged = {
    val store = Scratch.path("zstore")
    Scratch.rm(store)
    val li = Tables(spark, dir, "lineitem")
      .select(col("l_partkey").as("pk"), col("l_suppkey").as("sk"),
        floor(col("l_extendedprice") * 100).cast("long").as("price_c"))
    val mx = li.agg(max("pk").as("mpk"), max("sk").as("msk"))
    // min-max normalization before the interleave (qZorderSkip's
    // measured lesson: unnormalized, the wide column monopolizes the
    // curve's high bits and the narrow one never prunes)
    val withZ = li.crossJoin(broadcast(mx))
      .withColumn("pkn", expr(s"(pk * ${1L << Queries.ZBits}) div (mpk + 1L)"))
      .withColumn("skn", expr(s"(sk * ${1L << Queries.ZBits}) div (msk + 1L)"))
      .withColumn("z", expr(Queries.zInterleaveExpr("pkn", "skn")))
      .withColumn("fid", expr(s"z div ${1L << (2 * Queries.ZBits - 6)}"))
    // one shuffle keyed by fid colocates each file's rows, so
    // partitionBy writes exactly ONE z-sorted file per fid — tight
    // row-group envelopes inside tight file envelopes
    // the sort leads with fid so the partitioned write's required
    // ordering is already satisfied — otherwise the writer re-sorts by
    // fid alone (non-stable) and the z order inside each file is
    // destroyed (caught by the hidden+zorder composition spec, which
    // asserts physical z-sortedness; the same write shape lives here)
    withZ.select("pk", "sk", "price_c", "z", "fid")
      .repartition(col("fid"))
      .sortWithinPartitions("fid", "z")
      .write.mode(SaveMode.Overwrite).partitionBy("fid")
      .parquet(s"$store/data")
    // the "manifest": per-file min/max envelopes on BOTH clustered
    // dimensions — what Iceberg manifests keep per data file
    withZ.groupBy("fid")
      .agg(min("pk").as("lo_pk"), max("pk").as("hi_pk"),
        min("sk").as("lo_sk"), max("sk").as("hi_sk"),
        count(lit(1)).as("n_rows"))
      .write.mode(SaveMode.Overwrite).parquet(s"$store/stats")

    val b = mx.select(expr("(30L * mpk) div 100L"), expr("(35L * mpk) div 100L"),
      expr("(30L * msk) div 100L"), expr("(35L * msk) div 100L")).collect()(0)
    val (pkLo, pkHi, skLo, skHi) =
      (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
    val stats = spark.read.parquet(s"$store/stats")
    // plan from the stats: a file is read iff its envelope overlaps
    // the box on EVERY constrained dimension — bounded driver-side
    // metadata, the same order a manifest planner holds
    val hit = stats.filter(col("hi_pk") >= pkLo && col("lo_pk") <= pkHi &&
        col("hi_sk") >= skLo && col("lo_sk") <= skHi)
      .select("fid").collect().map(_.getLong(0)).sorted.toIndexedSeq
    Staged(store, stats.count(), hit, pkLo, pkHi, skLo, skHi)
  }

  /** src_zorder_store — write the Z-order layout, then serve the 2-D
    * box query from the stats-planned pruned read.
    */
  def zorderStore(spark: SparkSession, dir: String): DataFrame = {
    val st = stage(spark, dir)
    try {
      // empty plan arm: zero stats hits must emit the zero aggregate,
      // not call spark.read.parquet with no paths
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
