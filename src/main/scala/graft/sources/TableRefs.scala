package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.Scratch
import graft.Tables

/** Named refs (branches + tags) over [[SnapshotStore]] versions, and
  * the two table-management patterns they unlock: divergent
  * branch/tag reads (src_branch_tag) and WRITE-AUDIT-PUBLISH
  * (src_wap — Iceberg's audit-branch pattern: a batch lands on a
  * staging ref, a DQ audit runs against the staged read, and only a
  * clean audit fast-forwards `main`; a failing batch never becomes
  * visible to ANY main reader and its files are reclaimable).
  *
  * A ref is a name → version pointer in `_refs/<name>` (underscore
  * dir: never mistaken for data). Publishing is one atomic rename of
  * a tiny pointer file — the only mutation `main` ever sees, so
  * readers observe either the old table or the complete new one,
  * never a half-written batch. Branches are just refs the committer
  * advances with manifests built from THEIR OWN base version's file
  * list; since manifests are immutable and data files append-only,
  * divergent branches coexist in one store without copying data.
  * Vacuum becomes ref-aware: [[Refs.expireToRefs]] keeps the union of
  * all ref'd versions' files — the Iceberg retention rule that a
  * branch or tag pins its files against GC.
  */
object Refs {

  private def refFile(root: String, name: String): java.io.File =
    new java.io.File(s"$root/_refs/$name")

  /** Atomically point `name` at version `v` (tmp write + rename). */
  def set(root: String, name: String, v: Int): Unit = {
    require(name.matches("[A-Za-z0-9._-]+"), s"bad ref name '$name'")
    val f = refFile(root, name)
    f.getParentFile.mkdirs()
    val tmp = new java.io.File(f.getParentFile, s".${name}.tmp")
    java.nio.file.Files.write(tmp.toPath, v.toString.getBytes("UTF-8"))
    java.nio.file.Files.move(tmp.toPath, f.toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
  }

  /** Resolve a ref, if it exists. */
  def get(root: String, name: String): Option[Int] = {
    val f = refFile(root, name)
    if (f.isFile)
      Some(new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        .trim.toInt)
    else None
  }

  /** Delete a ref (abandoning a staging branch). The versions it
    * pointed at stay on disk until [[expireToRefs]].
    */
  def drop(root: String, name: String): Unit =
    refFile(root, name).delete(): Unit

  /** All refs, sorted by name. */
  def all(root: String): Seq[(String, Int)] =
    Option(new java.io.File(s"$root/_refs").listFiles())
      .getOrElse(Array.empty).toSeq
      .filter(f => f.isFile && !f.getName.startsWith("."))
      .map(f => f.getName -> get(root, f.getName).get)
      .sortBy(_._1)

  /** Read a table AS OF a ref. */
  def read(spark: SparkSession, root: String, name: String): DataFrame =
    SnapshotStore.read(spark, root,
      get(root, name).getOrElse(
        throw new IllegalArgumentException(s"no ref '$name' under $root")))

  /** Ref-aware vacuum: delete every data file not referenced by ANY
    * ref'd version, and every manifest no ref points at. Returns the
    * reclaimed data files. Unlike [[SnapshotStore.expire]] (which
    * keeps exactly one version), this is safe with live branches and
    * tags: each pins its whole file set.
    */
  def expireToRefs(root: String): Seq[String] = {
    val keep = all(root).map(_._2).toSet
    require(keep.nonEmpty, s"refusing to vacuum $root with zero refs")
    val live = keep.flatMap(v => SnapshotStore.files(root, v))
    val dead = SnapshotStore.listDataFiles(root).filterNot(live)
    dead.foreach(f => new java.io.File(s"$root/$f").delete(): Unit)
    SnapshotStore.versions(root).filterNot(keep).foreach(v =>
      new java.io.File(s"$root/manifest-v$v.json").delete(): Unit)
    dead
  }
}

/** The src_branch_tag / src_wap operator pair. */
object TableRefs {

  /** orders as (y, k, pc) — the shared staging projection. */
  private[sources] def ordersYkp(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "orders")
      .select(year(col("o_orderdate")).cast("long").as("y"),
        col("o_orderkey").as("k"),
        floor(col("o_totalprice") * 100).cast("long").as("pc"))

  /** Write one year-batch under `root/data`, returning the NEW
    * root-relative files (one per year — the batch is repartitioned
    * by year before the partitioned write).
    */
  private[sources] def writeYears(spark: SparkSession, root: String, df: DataFrame,
      yLo: Long, yHi: Long): Seq[String] = {
    val before = SnapshotStore.listDataFiles(root).toSet
    df.filter(col("y") >= yLo && col("y") <= yHi)
      .transform(ManifestTable.byPartition("y"))
      .write.mode(SaveMode.Append).partitionBy("y")
      .parquet(s"$root/data")
    SnapshotStore.listDataFiles(root).filterNot(before)
  }

  /** Year bounds of the staged store (orders spans 7 years; the flows
    * below split them base / main-adds / branch-adds).
    */
  private[sources] def yearBounds(spark: SparkSession, dir: String): (Long, Long) = {
    val r = ordersYkp(spark, dir).agg(min("y"), max("y")).collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  /** src_branch_tag — named refs over one snapshot store: tag `rel`
    * pins v1 (years [y0, y0+2]); branch `dev` diverges from v1 with
    * year y0+4; `main` advances twice (y0+3, then y0+5). Each ref is
    * then READ VIA ITS POINTER and certified: per-ref (version,
    * n_files, n_rows, sum_pc) against the closed-form year subsets.
    * A tag bleeding main's later files, a branch seeing the other
    * branch's years, or a manifest/ref mix-up all hash-mismatch.
    */
  def branchTag(spark: SparkSession, dir: String): DataFrame = {
    Scratch.withDir("refs") { root =>
      val o = ordersYkp(spark, dir)
      val (y0, _) = yearBounds(spark, dir)
      // v1: base years [y0, y0+2]; tag rel + both branch heads start here
      val base = writeYears(spark, root, o, y0, y0 + 2)
      val v1 = SnapshotStore.commit(root, base)
      Refs.set(root, "rel", v1); Refs.set(root, "main", v1)
      // main advances: + year y0+3
      val mAdd = writeYears(spark, root, o, y0 + 3, y0 + 3)
      val v2 = SnapshotStore.commit(root, base ++ mAdd)
      Refs.set(root, "main", v2)
      // dev diverges FROM v1 (not from main's head): + year y0+4
      val dAdd = writeYears(spark, root, o, y0 + 4, y0 + 4)
      val v3 = SnapshotStore.commit(root,
        SnapshotStore.files(root, v1) ++ dAdd)
      Refs.set(root, "dev", v3)
      // main advances again: + year y0+5
      val mAdd2 = writeYears(spark, root, o, y0 + 5, y0 + 5)
      val v4 = SnapshotStore.commit(root,
        SnapshotStore.files(root, v2) ++ mAdd2)
      Refs.set(root, "main", v4)

      val perRef = Refs.all(root).map { case (name, v) =>
        val r = Refs.read(spark, root, name)
          .agg(count(lit(1)).as("n"), sum("pc").as("s"))
          .collect()(0)
        (name, v.toLong, SnapshotStore.files(root, v).length.toLong,
          r.getLong(0), r.getLong(1))
      }
      import spark.implicits._
      perRef.toDF("ref", "version", "n_files", "n_rows", "sum_pc")
        .coalesce(1).orderBy("ref")
    }
  }

  /** Closed-form oracle for [[branchTag]]: the three refs' year
    * subsets restated from `orders`.
    */
  val branchTagOracle: String =
    """WITH o AS (SELECT CAST(year(o_orderdate) AS BIGINT) AS y,
      |    CAST(FLOOR(o_totalprice*100) AS BIGINT) AS pc
      |  FROM orders),
      |y0 AS (SELECT MIN(y) AS y0 FROM o),
      |r AS (
      |  SELECT 'dev' AS ref, 3 AS version, 4 AS n_files,
      |      0 AS dlo, 2 AS dhi, 4 AS dx FROM y0
      |  UNION ALL
      |  SELECT 'main', 4, 5, 0, 3, 5 FROM y0
      |  UNION ALL
      |  SELECT 'rel', 1, 3, 0, 2, -1 FROM y0)
      |SELECT r.ref, CAST(r.version AS BIGINT) AS version,
      |  CAST(r.n_files AS BIGINT) AS n_files,
      |  COUNT(*) AS n_rows, CAST(SUM(o.pc) AS BIGINT) AS sum_pc
      |FROM r, y0, o
      |WHERE (o.y BETWEEN y0.y0 + r.dlo AND y0.y0 + r.dhi)
      |   OR o.y = y0.y0 + r.dx
      |GROUP BY 1, 2, 3
      |ORDER BY ref""".stripMargin

  /** Audit-rule violation count over one staged batch read: prices
    * must be positive cents and the declared partition year must
    * equal the order date's year (the two corruption classes the bad
    * batch deterministically injects).
    */
  private def auditViolations(batch: DataFrame): Long =
    batch.agg(sum(when(col("pc") <= 0L || col("y") =!= col("yd"), 1L)
      .otherwise(0L))).collect()(0).getLong(0)

  /** stream_wap — the WAP protocol driven as a STREAM of ingest
    * batches: every micro-batch stages on the `audit` ref, runs the
    * DQ audit against the STAGED read, and either fast-forwards
    * `main` (one atomic pointer swap) or abandons the batch. The new
    * content over the batch op is CONTINUATION: a poisoned batch
    * (year y0+5, the same deterministic corruptions) is quarantined
    * without wedging the stream — the NEXT good batch (y0+6)
    * publishes on top of the last GOOD version, so the head ends at
    * years [y0, y0+4] ∪ {y0+6} with the bad year forever absent.
    * A replayed batch offset is an exactly-once no-op via the
    * consumer's cursor; the abandoned batch's files are reclaimed by
    * the ref-aware vacuum inside the loop (refs pin everything live).
    *
    * Emitted per batch: violations, published flag, and the head
    * aggregate AFTER the batch — all restated by the closed-form
    * oracle, so a quarantine that leaked rows, a publish that lost
    * them, or a wedged stream all hash-mismatch.
    */
  def streamWap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    Scratch.withDir("swap") { root =>
      val o = ordersYkp(spark, dir).withColumn("yd", col("y"))
      val (y0, _) = yearBounds(spark, dir)
      val base = writeYears(spark, root,
        o.select("y", "k", "pc", "yd"), y0, y0 + 3)
      Refs.set(root, "main", SnapshotStore.commit(root, base))

      val results = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Long, Long, Long, Long)]
      val done = scala.collection.mutable.Set.empty[Long]
      val input = MemoryStream[Long]
      val q = input.toDS().writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[Long], _: Long) =>
          b.collect().sorted.foreach { d =>
            if (!done.contains(d)) {
              val y = y0 + d
              val batch =
                if (d == 5L)
                  o.filter(col("y") === y).select(col("y"), col("k"),
                    when(col("k") % 7 === 3, -col("pc")).otherwise(col("pc"))
                      .as("pc"),
                    when(col("k") % 7 === 5, col("y") + 1).otherwise(col("y"))
                      .as("yd"))
                else o.filter(col("y") === y).select("y", "k", "pc", "yd")
              val mainV = Refs.get(root, "main").get
              val add = writeYears(spark, root, batch, y, y)
              val staged = SnapshotStore.commit(root,
                SnapshotStore.files(root, mainV) ++ add)
              Refs.set(root, "audit", staged)
              val viol = auditViolations(
                Refs.read(spark, root, "audit").filter(col("y") === y))
              val published = if (viol == 0L) { // one atomic swap
                Refs.set(root, "main", staged); 1L
              } else 0L
              Refs.drop(root, "audit")
              Refs.expireToRefs(root): Unit // reclaim abandoned files
              val head = Refs.read(spark, root, "main")
                .agg(count(lit(1)).as("n"), sum("pc").as("s"),
                  max(col("y").cast("long")).as("my")).collect()(0)
              results.synchronized {
                results += ((d, viol, published, head.getLong(0),
                  head.getLong(1), head.getLong(2))): Unit
              }
              done += d: Unit
            }
          }
        }
        .start()
      input.addData(4L); q.processAllAvailable()
      // 4 re-delivered: the cursor makes the replay a no-op
      input.addData(5L, 4L); q.processAllAvailable()
      input.addData(6L); q.processAllAvailable()
      q.stop()
      results.toSeq.sortBy(_._1).toDF("batch_year_off", "violations",
        "published", "head_rows", "head_sum_pc", "head_max_y")
    }
  }

  /** Closed-form oracle for [[streamWap]]: per-batch protocol outcomes
    * restated from `orders` — batch 4 publishes, 5 is quarantined
    * (violations = the injected corruption classes k%7∈{3,5}), 6
    * publishes on top of 4's head.
    */
  val streamWapOracle: String =
    """WITH o AS (SELECT CAST(year(o_orderdate) AS BIGINT) AS y,
      |    o_orderkey AS k,
      |    CAST(FLOOR(o_totalprice*100) AS BIGINT) AS pc
      |  FROM orders),
      |y0 AS (SELECT MIN(y) AS y0 FROM o),
      |b AS (SELECT * FROM (VALUES (4), (5), (6)) t(d)),
      |r AS (SELECT b.d,
      |  CASE WHEN b.d = 5 THEN
      |    (SELECT COUNT(*) FROM o, y0 WHERE y = y0 + 5 AND k % 7 IN (3, 5))
      |  ELSE 0 END AS violations,
      |  CASE WHEN b.d = 5 THEN 0 ELSE 1 END AS published
      |  FROM b),
      |h AS (SELECT r.d, o.y, o.pc FROM r JOIN o ON
      |    (o.y <= (SELECT y0 FROM y0) + LEAST(r.d, 4)) OR
      |    (r.d = 6 AND o.y = (SELECT y0 FROM y0) + 6))
      |SELECT CAST(r.d AS BIGINT) AS batch_year_off,
      |  CAST(r.violations AS BIGINT) AS violations,
      |  CAST(r.published AS BIGINT) AS published,
      |  (SELECT COUNT(*) FROM h WHERE h.d = r.d) AS head_rows,
      |  CAST((SELECT SUM(pc) FROM h WHERE h.d = r.d) AS BIGINT)
      |    AS head_sum_pc,
      |  CAST((SELECT MAX(y) FROM h WHERE h.d = r.d) AS BIGINT)
      |    AS head_max_y
      |FROM r ORDER BY 1""".stripMargin

  /** src_wap — WRITE-AUDIT-PUBLISH on the refs seam: the good batch
    * (year y0+5) lands on the `audit` staging ref, passes the DQ
    * audit, and is PUBLISHED by fast-forwarding `main`; the bad batch
    * (year y0+6, with price-sign and partition-mismatch corruptions
    * injected on k%7∈{3,5}) also stages, FAILS the audit, and is
    * abandoned — `main` never moves, the ref-aware vacuum reclaims
    * its files, and the head read proves the bad year absent. The
    * emitted row certifies the full protocol: staged/published
    * versions, both audits' violation counts, and the head aggregate.
    */
  def wap(spark: SparkSession, dir: String): DataFrame = {
    Scratch.withDir("wap") { root =>
      val o = ordersYkp(spark, dir)
        .withColumn("yd", col("y")) // declared partition year
      val (y0, _) = yearBounds(spark, dir)
      // v1: base years [y0, y0+4] published as main
      val base = writeYears(spark, root,
        o.select("y", "k", "pc", "yd"), y0, y0 + 4)
      val v1 = SnapshotStore.commit(root, base)
      Refs.set(root, "main", v1)

      // --- good batch: year y0+5, staged on the audit branch
      val goodAdd = writeYears(spark, root,
        o.select("y", "k", "pc", "yd"), y0 + 5, y0 + 5)
      val v2 = SnapshotStore.commit(root, base ++ goodAdd)
      Refs.set(root, "audit", v2)
      // audit the STAGED read, restricted to the batch's partition
      val goodViol = auditViolations(
        Refs.read(spark, root, "audit").filter(col("y") === y0 + 5))
      if (goodViol == 0L) Refs.set(root, "main", v2) // publish
      Refs.drop(root, "audit")

      // --- bad batch: year y0+6 with deterministic corruptions
      val bad = o.filter(col("y") === y0 + 6)
        .select(col("y"),
          col("k"),
          when(col("k") % 7 === 3, -col("pc")).otherwise(col("pc")).as("pc"),
          when(col("k") % 7 === 5, col("y") + 1).otherwise(col("y")).as("yd"))
      val before = SnapshotStore.listDataFiles(root).toSet
      bad.transform(ManifestTable.byPartition("y"))
        .write.mode(SaveMode.Append).partitionBy("y")
        .parquet(s"$root/data")
      val badAdd = SnapshotStore.listDataFiles(root).filterNot(before)
      val v3 = SnapshotStore.commit(root,
        SnapshotStore.files(root, Refs.get(root, "main").get) ++ badAdd)
      Refs.set(root, "audit", v3)
      val badViol = auditViolations(
        Refs.read(spark, root, "audit").filter(col("y") === y0 + 6))
      if (badViol == 0L) Refs.set(root, "main", v3) // (never taken)
      Refs.drop(root, "audit") // abandon the failed batch
      val reclaimed = Refs.expireToRefs(root)

      // y comes back as the inferred partition-column type (int);
      // normalize before aggregating into the certified long row
      val head = Refs.read(spark, root, "main")
        .agg(count(lit(1)).as("n"), sum("pc").as("s"),
          max(col("y").cast("long")).as("my"))
        .collect()(0)
      val out = spark.range(1).select(
        lit(3L).as("staged_versions"),
        lit(Refs.get(root, "main").get.toLong).as("published_version"),
        lit(goodViol).as("good_violations"),
        lit(badViol).as("bad_violations"),
        lit(reclaimed.length.toLong).as("files_reclaimed"),
        lit(head.getLong(0)).as("head_rows"),
        lit(head.getLong(1)).as("head_sum_pc"),
        lit(head.getLong(2)).as("head_max_y"))
      val rows = out.collect().toIndexedSeq
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), out.schema)
    }
  }

  /** Closed-form oracle for [[wap]]: the protocol's outcome restated
    * from `orders` — head = years [y0, y0+5], bad violations = the
    * injected corruption classes, one reclaimed file (the bad year's).
    */
  val wapOracle: String =
    """WITH o AS (SELECT CAST(year(o_orderdate) AS BIGINT) AS y,
      |    o_orderkey AS k,
      |    CAST(FLOOR(o_totalprice*100) AS BIGINT) AS pc
      |  FROM orders),
      |y0 AS (SELECT MIN(y) AS y0 FROM o)
      |SELECT CAST(3 AS BIGINT) AS staged_versions,
      |  CAST(2 AS BIGINT) AS published_version,
      |  CAST(0 AS BIGINT) AS good_violations,
      |  (SELECT COUNT(*) FROM o, y0
      |   WHERE y = y0 + 6 AND (k % 7 = 3 OR k % 7 = 5)) AS bad_violations,
      |  CAST(1 AS BIGINT) AS files_reclaimed,
      |  (SELECT COUNT(*) FROM o, y0 WHERE y <= y0 + 5) AS head_rows,
      |  (SELECT CAST(SUM(pc) AS BIGINT) FROM o, y0 WHERE y <= y0 + 5)
      |    AS head_sum_pc,
      |  (SELECT y0 + 5 FROM y0) AS head_max_y""".stripMargin
}
