package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.Scratch
import graft.Tables

/** TWO-LEVEL METADATA PRUNING — the piece of the Iceberg metadata
  * tree [[StatsPrune]] flattens away: a real table's per-file stats
  * do not live in one flat table (at 10⁵–10⁶ files that table is
  * itself big data); they live in MANIFEST FILES of bounded size,
  * indexed by a tiny MANIFEST LIST carrying each manifest's partition
  * /key envelope. Planning is then hierarchical: read the manifest
  * list (one metadata read), drop whole manifests whose envelope
  * misses the predicate, read ONLY the surviving manifests' entries,
  * drop files. A million-file table plans a selective query in
  * 1 + O(selectivity) metadata reads instead of 10⁶ stat rows —
  * metadata itself gets data-skipping.
  *
  * Layout here: 64 key-range data files grouped into 8 manifests of 8
  * contiguous files each; the emitted row certifies BOTH metadata
  * levels (manifests_read, files_read — over- or under-pruning at
  * either level hash-mismatches) and the answer (rows_read, exact
  * matched aggregate). The oracle restates the whole tree from
  * `orders` in closed form.
  */
object ManifestPrune {

  /** Data files and files-per-manifest. */
  val MFiles = 64L
  val PerManifest = 8L

  def manifestPrune(spark: SparkSession, dir: String): DataFrame = {
    Scratch.withDir("mprune") { store =>
      val o = Tables(spark, dir, "orders")
        .select(col("o_orderkey").as("k"),
          floor(col("o_totalprice") * 100).cast("long").as("total_c"))
      val mk = o.agg(max("k")).collect()(0).getLong(0)
      // one pass over orders (guide §1.2): the fid-stamped frame is
      // lazily checkpointed — the data write materializes it — so the
      // stats aggregation reads pinned blocks instead of re-scanning
      val b = o.withColumn("fid", expr(s"(k * $MFiles) div (${mk + 1}L)"))
        .localCheckpoint(eager = false)
      b.repartition(col("fid")).sortWithinPartitions("fid", "k")
        .write.mode(SaveMode.Overwrite).partitionBy("fid")
        .parquet(s"$store/data")

      // file stats grouped into manifest FILES (one parquet per mid)…
      // BOUNDED metadata (MFiles rows): computed once, collected, the
      // manifest files written from the collected rows and the
      // manifest LIST derived driver-side (was: two more full
      // recomputes of b — one per metadata write/aggregate)
      val statsDf = b.groupBy("fid")
        .agg(min("k").as("lo_k"), max("k").as("hi_k"),
          count(lit(1)).as("n_rows"))
        .withColumn("mid", expr(s"fid div $PerManifest"))
      val statsRows = statsDf.collect().toIndexedSeq
      spark.createDataFrame(spark.sparkContext.parallelize(statsRows, 1),
          statsDf.schema)
        .repartition(col("mid"))
        .write.mode(SaveMode.Overwrite).partitionBy("mid")
        .parquet(s"$store/_meta/manifests")
      // …indexed by the manifest LIST (envelope per manifest)
      val mlist = statsRows.groupBy(_.getLong(4)).map { case (mid, rs) =>
        (mid, rs.map(_.getLong(1)).min, rs.map(_.getLong(2)).max,
          rs.length.toLong)
      }.toSeq.sortBy(_._1)

      // hierarchical plan for the 30–35 % key band
      val (loB, hiB) = ((30L * mk) / 100L, (35L * mk) / 100L)
      // level 1: one metadata read (the list), drop whole manifests
      val mHit = mlist.filter(m => m._3 >= loB && m._2 <= hiB).map(_._1)
      // level 2: read ONLY the surviving manifests' entries (empty-plan
      // arm: a band overlapping no manifest reads no metadata at all)
      val fHit =
        if (mHit.isEmpty) Array.empty[(Long, Long)]
        else spark.read
          .option("basePath", s"$store/_meta/manifests")
          .parquet(mHit.map(m => s"$store/_meta/manifests/mid=$m")
            .toIndexedSeq: _*)
          .filter(col("hi_k") >= loB && col("lo_k") <= hiB)
          .select("fid", "n_rows").collect()
          .map(r => (r.getLong(0), r.getLong(1)))
      // level 3: open only the surviving data files
      val pruned =
        if (fHit.isEmpty)
          spark.range(0).select(lit(0L).as("k"), lit(0L).as("total_c"))
        else spark.read.option("basePath", s"$store/data")
          .parquet(fHit.map(f => s"$store/data/fid=${f._1}").toIndexedSeq: _*)
      val a = pruned.agg(
        coalesce(sum(when(col("k").between(loB, hiB), 1L).otherwise(0L)),
          lit(0L)).as("n_match"),
        coalesce(sum(when(col("k").between(loB, hiB), col("total_c"))),
          lit(0L)).as("sum_total_c")).collect()(0)

      val out = spark.range(1).select(
        lit(mlist.length.toLong).as("manifests_total"),
        lit(mHit.length.toLong).as("manifests_read"),
        lit(MFiles).as("files_total"),
        lit(fHit.length.toLong).as("files_read"),
        lit(fHit.map(_._2).sum).as("rows_read"),
        lit(a.getLong(0)).as("n_match"),
        lit(a.getLong(1)).as("sum_total_c"))
      val rows = out.collect().toIndexedSeq
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), out.schema)
    }
  }

  /** Closed-form oracle: both metadata levels and the matched
    * aggregate restated from `orders`.
    */
  val manifestOracle: String =
    s"""WITH o AS (SELECT o_orderkey AS k,
       |    CAST(FLOOR(o_totalprice*100) AS BIGINT) AS total_c FROM orders),
       |mx AS (SELECT MAX(k) AS mk FROM o),
       |b AS (SELECT o.*, (k * $MFiles) // (mk + 1) AS fid,
       |        (30 * mk) // 100 AS lo_b, (35 * mk) // 100 AS hi_b
       |      FROM o, mx),
       |st AS (SELECT fid, fid // $PerManifest AS mid, MIN(k) AS lo_k,
       |         MAX(k) AS hi_k, COUNT(*) AS n_rows,
       |         MAX(lo_b) AS lo_b, MAX(hi_b) AS hi_b
       |       FROM b GROUP BY 1, 2),
       |ml AS (SELECT mid, MIN(lo_k) AS lo_k, MAX(hi_k) AS hi_k,
       |         MAX(lo_b) AS lo_b, MAX(hi_b) AS hi_b
       |       FROM st GROUP BY 1),
       |mh AS (SELECT mid FROM ml WHERE hi_k >= lo_b AND lo_k <= hi_b),
       |fh AS (SELECT st.fid, st.n_rows FROM st JOIN mh USING (mid)
       |       WHERE st.hi_k >= st.lo_b AND st.lo_k <= st.hi_b),
       |m AS (SELECT COUNT(*) AS c, COALESCE(SUM(total_c), 0) AS s FROM b
       |      WHERE k BETWEEN lo_b AND hi_b)
       |SELECT (SELECT COUNT(*) FROM ml) AS manifests_total,
       |  (SELECT COUNT(*) FROM mh) AS manifests_read,
       |  CAST($MFiles AS BIGINT) AS files_total,
       |  (SELECT COUNT(*) FROM fh) AS files_read,
       |  CAST((SELECT COALESCE(SUM(n_rows), 0) FROM fh) AS BIGINT)
       |    AS rows_read,
       |  (SELECT c FROM m) AS n_match,
       |  CAST((SELECT s FROM m) AS BIGINT) AS sum_total_c""".stripMargin
}
