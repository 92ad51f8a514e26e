package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.Scratch
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
  * are then planned from the cell manifest — the list of populated
  * (pm, pb) cells, the bounded metadata an Iceberg manifest hands any
  * planner — and only the cells in (month-range × one bucket) open.
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
  * Scale shape: plan arithmetic is driver-side on the bounded cell
  * manifest; the read is one pruned scan; no shuffle until the final
  * scalar aggregate.
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

  /** Staged store handle: root plus the collected cell manifest
    * (bounded — one row per populated (pm, pb) cell).
    */
  private[sources] final case class HStore(store: String,
      cells: Seq[(Long, Long, Long)] = Nil) {
    def drop(): Unit = Scratch.rm(store)
  }

  /** Write orders under the hidden (month, bucket) spec plus the cell
    * manifest.
    *
    * One pass over orders (guide §1.2): the transformed base frame is
    * lazily checkpointed — the data write materializes it — so the
    * cell aggregation reads the pinned blocks instead of re-scanning
    * parquet and re-evaluating the md5 bucket transform. The cell
    * manifest is BOUNDED metadata: collect it once, write the parquet
    * manifest from the collected rows (zero recompute), and hand the
    * rows to the planner driver-side (guide §5 — the plan arithmetic
    * was always driver-side; now it costs zero extra jobs).
    */
  private[sources] def stage(spark: SparkSession, dir: String): HStore =
    stageFrom(spark, base(spark, dir).localCheckpoint(eager = false))

  /** [[stage]] over an already-pinned base frame (the query entry
    * shares one checkpoint between staging and its own planning
    * aggregates).
    */
  private[sources] def stageFrom(spark: SparkSession, o: DataFrame): HStore = {
    val store = Scratch.path("hidpart")
    Scratch.rm(store)
    o.repartition(col("pm"), col("pb"))
      .write.mode(SaveMode.Overwrite).partitionBy("pm", "pb")
      .parquet(s"$store/data")
    // the cell manifest: populated (pm, pb) cells — what the table
    // format's metadata layer hands the planner
    val cellsDf = o.groupBy("pm", "pb").agg(count(lit(1)).as("n_rows"))
    val cellRows = cellsDf.collect().toIndexedSeq
    spark.createDataFrame(spark.sparkContext.parallelize(cellRows, 1),
        cellsDf.schema)
      .write.mode(SaveMode.Overwrite).parquet(s"$store/cells")
    HStore(store,
      cellRows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))))
  }

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

  def hiddenPartition(spark: SparkSession, dir: String): DataFrame = {
    // ONE pass over orders: the transformed base is pinned lazily and
    // shared by the staging write, the cell manifest, and the two
    // point-key aggregates below (was four independent parquet scans,
    // each re-evaluating the md5 bucket transform — guide §1.2)
    val o = base(spark, dir).localCheckpoint(eager = false)
    val st = stageFrom(spark, o)
    val store = st.store
    try {
      // the query's point key: smallest custkey >= 40% of max that HAS
      // an order inside the raw date window (guarantees n_match >= 1)
      val mk = o.agg(max("c")).collect()(0).getLong(0)
      val k = o.filter(col("c") >= (4L * mk) / 10L &&
          col("d") >= lit(DLo).cast("timestamp") &&
          col("d") <= lit(DHi).cast("timestamp"))
        .agg(min("c")).collect()(0).getLong(0)
      // bucket(k) through the SAME JVM hash the layout used
      val kb = graft.functions.GraftHash.md5PrefixLong(
        org.apache.spark.unsafe.types.UTF8String.fromString(s"hp:$k")) % Buckets

      // plan: derive partition predicates from the raw predicates via
      // the transforms, intersect with the cell manifest — driver-side
      // arithmetic over the bounded manifest the stage already
      // collected (was a count job + a collect job over the parquet)
      val filesTotal = st.cells.length.toLong
      val hit = st.cells
        .filter { case (pm, pb, _) => pm >= PmLo && pm <= PmHi && pb == kb }
        .map { case (pm, pb, _) => s"$store/data/pm=$pm/pb=$pb" }
        .toArray
      val pruned =
        if (hit.isEmpty)
          spark.range(0).select(lit(0L).as("c"), lit(0L).as("total_c"),
            lit(null).cast("timestamp").as("d"))
        else spark.read.option("basePath", s"$store/data")
          .parquet(hit.toIndexedSeq: _*)
      val isMatch = col("c") === k &&
        col("d") >= lit(DLo).cast("timestamp") &&
        col("d") <= lit(DHi).cast("timestamp")
      val a = pruned.agg(
        count(lit(1)).as("rows_read"),
        coalesce(sum(when(isMatch, 1L).otherwise(0L)), lit(0L)).as("n_match"),
        coalesce(sum(when(isMatch, col("total_c"))), lit(0L))
          .as("sum_total_c")).collect()(0)

      val out = spark.range(1).select(
        lit(filesTotal).as("files_total"),
        lit(hit.length.toLong).as("files_read"),
        lit(a.getLong(0)).as("rows_read"),
        lit(a.getLong(1)).as("n_match"),
        lit(a.getLong(2)).as("sum_total_c"),
        lit(k).as("match_custkey"))
      val rows = out.collect().toIndexedSeq
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), out.schema)
    } finally st.drop()
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
