package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
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
  * contiguous files each. Both levels are [[ManifestTable]]s: the
  * data files with their per-file stats, and the manifests — those
  * stats rows partitioned by `mid` — whose own stats are the manifest
  * list. The emitted row certifies BOTH metadata levels
  * (manifests_read, files_read — over- or under-pruning at either
  * level hash-mismatches) and the answer (rows_read, exact matched
  * aggregate). The oracle restates the whole tree from `orders` in
  * closed form.
  */
object ManifestPrune {

  /** Data files and files-per-manifest. */
  val MFiles = 64L
  val PerManifest = 8L

  /** The data level: orders as [[MFiles]] key-range files, k-sorted,
    * with per-file row counts and key bounds.
    */
  private[sources] def stageFiles(spark: SparkSession, dir: String): ManifestTable = {
    val o = Tables(spark, dir, "orders")
      .select(col("o_orderkey").as("k"),
        floor(col("o_totalprice") * 100).cast("long").as("total_c"))
    val mk = o.agg(max("k")).collect()(0).getLong(0)
    ManifestTable.write("mprune",
      o.withColumn("fid", expr(s"(k * $MFiles) div (${mk + 1}L)")),
      Seq("fid"), Seq("k"), Seq("k"))
  }

  /** The metadata level: the data level's stats rows as manifests of
    * [[PerManifest]] contiguous files, partitioned by `mid`. A
    * manifest's key envelope in the manifest list is
    * (lo_lo_k, hi_hi_k): the least lo_k and the greatest hi_k of its
    * entries.
    */
  private[sources] def stageManifests(files: ManifestTable): ManifestTable =
    ManifestTable.write("mprune_meta",
      files.statsFrame.withColumn("mid", expr(s"fid div $PerManifest")),
      Seq("mid"), Seq("fid"), Seq("lo_k", "hi_k"))

  def manifestPrune(spark: SparkSession, dir: String): DataFrame = {
    val files = stageFiles(spark, dir)
    try {
      val manifests = stageManifests(files)
      try {
        // hierarchical plan for the 30–35 % key band
        val mk = files.max("hi_k")
        val (loB, hiB) = ((30L * mk) / 100L, (35L * mk) / 100L)
        def overlaps(lo: String, hi: String)(r: Row): Boolean =
          r.getAs[Long](hi) >= loB && r.getAs[Long](lo) <= hiB
        // level 1: the manifest list, drop whole manifests
        val mHit = manifests.stats.filter(overlaps("lo_lo_k", "hi_hi_k"))
        // level 2: read ONLY the surviving manifests' entries
        val fHit = manifests.read(mHit).collect().toSeq.filter(overlaps("lo_k", "hi_k"))
        // level 3: open only the surviving data files
        val Seq(_, nm, stc) =
          files.tally(fHit, col("k").between(loB, hiB), "total_c")
        ManifestTable.row(spark,
          "manifests_total" -> manifests.stats.length.toLong,
          "manifests_read" -> mHit.length.toLong,
          "files_total" -> MFiles,
          "files_read" -> fHit.length.toLong,
          "rows_read" -> fHit.map(_.getAs[Long]("n_rows")).sum,
          "n_match" -> nm, "sum_total_c" -> stc)
      } finally manifests.drop()
    } finally files.drop()
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
