package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Scratch

/** DISTRIBUTED orphan census — the scan half of orphan GC at the
  * scale where it actually hurts: a 100 TB table has 10⁶-10⁸ physical
  * files, and the "walk the prefix on the driver" census
  * [[OrphanGc]] runs on a staged store stops fitting long before
  * that. The production shape is the one implemented here: the
  * physical inventory is ITSELF a table (an S3 Inventory / GCS
  * listing export — path + mtime rows), the live set is the committed
  * manifests' file lists (bounded metadata, exploded to a one-column
  * frame), and the census is a distributed LEFT ANTI join inventory ∖
  * live, aggregated per partition directory and age class. No driver
  * loop touches a file name; the executors never read a data file —
  * the whole job is namespace arithmetic on two narrow frames, and
  * every stage (anti join, group-by) scales out with the inventory.
  *
  * src_orphan_census stages [[OrphanGc]]'s exact scenario — `main`
  * two commits deep (years [y0,y0+3]), a WAP audit branch pinning
  * y0+4, two backdated orphan writes (y0+5, y0+6) and one fresh
  * in-flight orphan (y0+5 again) — and emits the per-year census:
  * physical file count, live count, old orphans (GC-eligible), young
  * orphans (inside the in-flight age gate). The oracle restates the
  * layout arithmetic closed-form over the 7 staged years, so a
  * census that misclassifies the WAP quarantine as orphaned, ages
  * committed files, or misses the fresh write hash-mismatches.
  *
  * Reference surface: the reference's conversion trees accumulate
  * exactly this debris when a run dies mid-write (tiff2octree.py
  * writes blocks straight into the target tree); a census report is
  * the operator you run BEFORE trusting a GC sweep.
  */
object OrphanCensus {

  def orphanCensus(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Scratch.withDir("ocen") { root =>
      val o = TableRefs.ordersYkp(spark, dir)
      val (y0, _) = TableRefs.yearBounds(spark, dir)
      val base = TableRefs.writeYears(spark, root, o, y0, y0 + 2)
      val v1 = SnapshotStore.commit(root, base)
      Refs.set(root, "main", v1)
      val mAdd = TableRefs.writeYears(spark, root, o, y0 + 3, y0 + 3)
      val v2 = SnapshotStore.commit(root, base ++ mAdd)
      Refs.set(root, "main", v2)
      val aAdd = TableRefs.writeYears(spark, root, o, y0 + 4, y0 + 4)
      val v3 = SnapshotStore.commit(root, SnapshotStore.files(root, v1) ++ aAdd)
      Refs.set(root, "audit", v3)
      // two failed-write orphans, backdated along with EVERYTHING
      // committed — age must never be what saves a committed file
      TableRefs.writeYears(spark, root, o, y0 + 5, y0 + 6)
      val weekAgo = System.currentTimeMillis() - 7L * 24 * 3600 * 1000
      SnapshotStore.listDataFiles(root).foreach(f =>
        new java.io.File(s"$root/$f").setLastModified(weekAgo): Unit)
      // one in-flight orphan written fresh (inside the gate)
      TableRefs.writeYears(spark, root, o, y0 + 5, y0 + 5)

      // the inventory table: (path, mtime) rows — at scale this is
      // spark.read of the object-store inventory export; the census
      // below never looks at anything else
      val cutoff = System.currentTimeMillis() - OrphanGc.GateMillis
      val inventory = SnapshotStore.listDataFiles(root)
        .map(f => (f, new java.io.File(s"$root/$f").lastModified()))
        .toDF("path", "mtime")
        .repartition(4)
      // the live set: every committed manifest's data files — a few
      // KB of metadata exploded to a one-column frame
      // (broadcast-sized at 10⁸ files it is still only file names).
      // Delete files are referenced as DIRECTORIES, so they protect
      // by prefix (none staged here, but the census must not
      // misclassify them when present).
      val live = SnapshotStore.versions(root)
        .flatMap(v => SnapshotStore.files(root, v))
        .distinct.toDF("path")
      val delDirs = SnapshotStore.versions(root)
        .flatMap(v => SnapshotStore.deletesOf(root, v)).distinct
      val underDelDir = delDirs
        .map(d => col("path").startsWith(d + "/") || col("path") === d)
        .foldLeft(lit(false))(_ || _)
      // membership via one broadcast left join (the anti join and its
      // complement in a single pass — the census wants BOTH classes)
      val classified = inventory
        .join(broadcast(live.withColumn("lv", lit(1L))), Seq("path"), "left")
        .select(col("path"),
          (coalesce(col("lv"), lit(0L)) === 1L || underDelDir)
            .cast("long").as("is_live"),
          col("mtime"))
      classified
        .withColumn("y", regexp_extract(col("path"), "y=(\\d+)", 1).cast("long"))
        .groupBy("y")
        .agg(count(lit(1)).as("n_files"),
          sum(col("is_live")).as("n_live"),
          sum(((col("is_live") === 0L) && (col("mtime") < cutoff))
            .cast("long")).as("n_orphan_old"),
          sum(((col("is_live") === 0L) && (col("mtime") >= cutoff))
            .cast("long")).as("n_orphan_young"))
        .orderBy("y")
        .localCheckpoint()
    }
  }

  /** Closed-form oracle: the staged layout per year offset d —
    * d ≤ 4 committed (one live file each), d = 5 one old + one young
    * orphan, d = 6 one old orphan.
    */
  val orphanCensusOracle: String =
    """WITH y0 AS (SELECT MIN(CAST(year(o_orderdate) AS BIGINT)) AS y0
      |            FROM orders)
      |SELECT y0.y0 + r.d AS y,
      |  CAST(CASE WHEN r.d = 5 THEN 2 ELSE 1 END AS BIGINT) AS n_files,
      |  CAST(CASE WHEN r.d <= 4 THEN 1 ELSE 0 END AS BIGINT) AS n_live,
      |  CAST(CASE WHEN r.d >= 5 THEN 1 ELSE 0 END AS BIGINT) AS n_orphan_old,
      |  CAST(CASE WHEN r.d = 5 THEN 1 ELSE 0 END AS BIGINT) AS n_orphan_young
      |FROM y0, range(0, 7) r(d)
      |ORDER BY y""".stripMargin
}
