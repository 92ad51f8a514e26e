package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Scratch

/** ORPHAN-FILE GC — the table-format hygiene job every object-store
  * table needs at 100 TB: failed or abandoned write attempts leave
  * parquet debris under the table root that NO manifest references
  * (the write-then-commit protocol makes them invisible to readers,
  * but nothing ever deletes them — a busy table leaks storage
  * forever). The GC compares the physical file census against the
  * union of every committed manifest's file list and reclaims the
  * difference, AGE-GATED: an unreferenced file younger than the
  * cutoff is spared because it may belong to an in-flight write whose
  * commit hasn't landed yet — the race every orphan scanner must
  * survive (Iceberg's remove_orphan_files defaults this gate to
  * 3 days).
  *
  * src_orphan_gc stages a store with live branches — `main` two
  * commits deep and a WAP audit-branch commit whose files only ITS
  * manifest references — plus three uncommitted orphan writes, two
  * backdated past the gate and one fresh. Every COMMITTED file is
  * also backdated, so the emitted row certifies the whole contract:
  * exactly the two old orphans are reclaimed (age alone never
  * touches committed data, the WAP quarantine survives because its
  * audit commit is a manifest like any other), the young orphan
  * survives the gate, and both refs read identically after the sweep.
  *
  * Scale shape: the live set is bounded metadata (manifest file
  * lists — a few MB at 10⁵ files); the census here is a driver-side
  * walk because the staged store is tiny, and at real scale it is the
  * object-store inventory scan with the same anti-join semantics. No
  * data file is ever read — GC is a pure metadata/namespace job.
  *
  * Reference surface: the reference leaves partial octree trees on
  * disk whenever a conversion dies mid-run (tiff2octree.py writes
  * block files directly into the target tree — no commit protocol,
  * so a crash strands whatever landed); the manifest + orphan-GC pair
  * is the table-format answer.
  */
object OrphanGc {

  /** The age gate the staged scenario uses: one hour. Old files are
    * backdated a week past it; the fresh orphan is written now.
    */
  val GateMillis = 3600L * 1000L

  def orphanGc(spark: SparkSession, dir: String): DataFrame = {
    Scratch.withDir("ogc") { root =>
      val o = TableRefs.ordersYkp(spark, dir)
      val (y0, _) = TableRefs.yearBounds(spark, dir)
      // v1: base years [y0, y0+2]; main starts here
      val base = TableRefs.writeYears(spark, root, o, y0, y0 + 2)
      val v1 = SnapshotStore.commit(root, base)
      Refs.set(root, "main", v1)
      // main advances: + year y0+3
      val mAdd = TableRefs.writeYears(spark, root, o, y0 + 3, y0 + 3)
      val v2 = SnapshotStore.commit(root, base ++ mAdd)
      Refs.set(root, "main", v2)
      // WAP quarantine: the audit branch commits y0+4 on top of v1 —
      // its files are referenced ONLY by this manifest
      val aAdd = TableRefs.writeYears(spark, root, o, y0 + 4, y0 + 4)
      val v3 = SnapshotStore.commit(root, SnapshotStore.files(root, v1) ++ aAdd)
      Refs.set(root, "audit", v3)
      // two failed-write orphans (never committed), then backdate
      // EVERYTHING on disk past the gate — committed files included,
      // so survival must come from the manifests, never from age
      val orphOld = TableRefs.writeYears(spark, root, o, y0 + 5, y0 + 6)
      val weekAgo = System.currentTimeMillis() - 7L * 24 * 3600 * 1000
      SnapshotStore.listDataFiles(root).foreach(f =>
        new java.io.File(s"$root/$f").setLastModified(weekAgo): Unit)
      // one in-flight orphan written fresh (inside the gate)
      val orphYoung = TableRefs.writeYears(spark, root, o, y0 + 5, y0 + 5)

      val filesBefore = SnapshotStore.listDataFiles(root).length.toLong
      val (reclaimed, keptYoung) =
        SnapshotStore.orphanGc(root, System.currentTimeMillis() - GateMillis)
      val filesAfter = SnapshotStore.listDataFiles(root).length.toLong
      require(reclaimed.toSet == orphOld.toSet && keptYoung.toSet == orphYoung.toSet,
        s"orphan partition drifted: reclaimed=$reclaimed kept=$keptYoung")

      // post-sweep integrity: both refs still read their full subsets
      def refAgg(name: String): (Long, Long) = {
        val r = Refs.read(spark, root, name)
          .agg(count(lit(1)).as("n"), sum("pc").as("s")).collect()(0)
        (r.getLong(0), r.getLong(1))
      }
      val (nMain, sMain) = refAgg("main")
      val (nAudit, sAudit) = refAgg("audit")
      val out = spark.range(1).select(
        lit(filesBefore).as("files_before"),
        lit(reclaimed.length.toLong).as("orphans_reclaimed"),
        lit(keptYoung.length.toLong).as("orphans_kept_young"),
        lit(filesAfter).as("files_after"),
        lit(nMain).as("n_rows_main"), lit(sMain).as("sum_pc_main"),
        lit(nAudit).as("n_rows_audit"), lit(sAudit).as("sum_pc_audit"))
      val rows = out.collect().toIndexedSeq
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), out.schema)
    }
  }

  /** Closed-form oracle: the layout arithmetic (one file per staged
    * year: 3+1+1 committed, 2 old + 1 young orphans) and both refs'
    * year-subset aggregates restated from `orders`.
    */
  val orphanGcOracle: String =
    """WITH o AS (SELECT CAST(year(o_orderdate) AS BIGINT) AS y,
      |    CAST(FLOOR(o_totalprice*100) AS BIGINT) AS pc
      |  FROM orders),
      |y0 AS (SELECT MIN(y) AS y0 FROM o),
      |m AS (SELECT COUNT(*) AS n, CAST(SUM(pc) AS BIGINT) AS s
      |      FROM o, y0 WHERE y BETWEEN y0.y0 AND y0.y0 + 3),
      |a AS (SELECT COUNT(*) AS n, CAST(SUM(pc) AS BIGINT) AS s
      |      FROM o, y0 WHERE y BETWEEN y0.y0 AND y0.y0 + 2 OR y = y0.y0 + 4)
      |SELECT CAST(8 AS BIGINT) AS files_before,
      |  CAST(2 AS BIGINT) AS orphans_reclaimed,
      |  CAST(1 AS BIGINT) AS orphans_kept_young,
      |  CAST(6 AS BIGINT) AS files_after,
      |  m.n AS n_rows_main, m.s AS sum_pc_main,
      |  a.n AS n_rows_audit, a.s AS sum_pc_audit
      |FROM m, a""".stripMargin
}
