package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{StructField, StructType}
import graft.Tables

/** Versioned snapshot manifests over a partitioned parquet store —
  * the minimal table-format layer (the Iceberg/Delta idea) the volume
  * store needs for safe rewrites at 100 TB: data files are immutable
  * and append-only, each commit writes `manifest-v{N}.json` listing
  * EXACTLY the files that make up that version, readers plan from a
  * manifest's explicit file list (never from directory listing — the
  * eventual-consistency trap object stores punish), so a compaction
  * can rewrite the live tree while every older version stays
  * readable until [[expire]] reclaims its unreferenced files.
  *
  * The manifest is a single driver-side JSON file (the file LIST is
  * the metadata; at 100 TB a manifest of ~10⁵ file names is a few MB
  * — the same order as Iceberg's manifest lists).
  */
object SnapshotStore {

  private def mfile(root: String, v: Int): java.io.File =
    new java.io.File(s"$root/manifest-v$v.json")

  private val MName = "manifest-v([0-9]+)\\.json".r

  /** Committed versions, ascending. */
  def versions(root: String): Seq[Int] =
    Option(new java.io.File(root).listFiles()).getOrElse(Array.empty)
      .flatMap(f => f.getName match {
        case MName(v) => Some(v.toInt)
        case _ => None
      }).toSeq.sorted

  def latest(root: String): Int = {
    val vs = versions(root)
    require(vs.nonEmpty,
      s"no committed snapshot version under '$root' (no manifest-v*.json)")
    vs.max
  }

  /** Every parquet data file currently on disk, root-relative, sorted
    * — what a writer passes to [[commit]] (minus a previous set, for
    * an incremental commit).
    */
  def listDataFiles(root: String): Seq[String] = {
    val base = new java.io.File(root)
    // underscore-prefixed directories (checkpoints, _manifests) are
    // metadata by convention, never data — even a stray .parquet
    // inside one must not be absorbed into a committed manifest
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).toSeq
          .filterNot(c => c.isDirectory && c.getName.startsWith("_"))
          .flatMap(walk)
      else Seq(f)
    walk(base).filter(_.getName.endsWith(".parquet"))
      .map(_.getPath.stripPrefix(base.getPath).stripPrefix("/")).sorted
  }

  /** Write the next version's manifest over the given file set;
    * returns the new version number.
    */
  def commit(root: String, files: Seq[String]): Int =
    commitTagged(root, files, None)

  private def commitTagged(root: String, files: Seq[String],
      batch: Option[Long]): Int = {
    // the manifest is hand-serialized JSON whose array is split on
    // ',': names containing ',' or '"' (or a newline) would corrupt
    // it SILENTLY on read-back — reject them at the write seam
    files.find(f => f.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
      .foreach(f => throw new IllegalArgumentException(
        s"snapshot data file name '$f' contains a character the manifest " +
          "format cannot represent (one of , \" or a newline)"))
    val v = versions(root).lastOption.getOrElse(0) + 1
    val tag = batch.map(b => s""""batch":$b,""").getOrElse("")
    val json = s"""{"version":$v,$tag"files":[${
      files.sorted.map(f => "\"" + f + "\"").mkString(",")}]}"""
    java.nio.file.Files.write(mfile(root, v).toPath, json.getBytes("UTF-8"))
    v
  }

  /** The streaming-ingest batch tag of a version, if it has one. */
  def batchOf(root: String, v: Int): Option[Long] = {
    val txt = new String(
      java.nio.file.Files.readAllBytes(mfile(root, v).toPath), "UTF-8")
    """"batch":([0-9]+)""".r.findFirstMatchIn(txt).map(_.group(1).toLong)
  }

  /** Whether a streaming micro-batch already committed — the
    * exactly-once guard a replayed batch hits.
    */
  def hasBatch(root: String, batchId: Long): Boolean =
    versions(root).exists(v => batchOf(root, v).contains(batchId))

  /** Exactly-once streaming commit: extend the latest version's file
    * list with this batch's new files under the batch tag. A replay
    * of an already-committed batch is a no-op (returns None). Files
    * appended by a FAILED attempt (written but never committed) are
    * invisible to readers — the manifest, not the directory, defines
    * the table — and are reclaimed by [[expire]].
    */
  def commitBatch(root: String, batchId: Long,
      newFiles: Seq[String]): Option[Int] =
    if (hasBatch(root, batchId)) None
    else {
      val prev = versions(root).lastOption
        .map(files(root, _)).getOrElse(Seq.empty)
      Some(commitTagged(root, (prev ++ newFiles).distinct, Some(batchId)))
    }

  /** Exactly-once streaming commit with REPLACEMENT semantics: the
    * manifest is exactly `files` (not the previous list extended) —
    * what a streaming MERGE needs, where a micro-batch supersedes
    * touched-partition files instead of appending. Replays of an
    * already-committed batch are a no-op.
    */
  def commitBatchReplacing(root: String, batchId: Long,
      files: Seq[String]): Option[Int] =
    if (hasBatch(root, batchId)) None
    else Some(commitTagged(root, files, Some(batchId)))

  /** Commit a version carrying EQUALITY-DELETE files (the Iceberg-v2
    * idea): `deletes` are root-relative parquet paths of deleted KEYS
    * that readers apply ON TOP of `files` — no data file is rewritten.
    * Delete files live under an underscore dir (`_deletes/…`), so
    * [[listDataFiles]] never absorbs them as data and [[expire]]
    * never reclaims them as unreferenced.
    */
  def commitWithDeletes(root: String, files: Seq[String],
      deletes: Seq[String]): Int = {
    (files ++ deletes).find(f =>
        f.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
      .foreach(f => throw new IllegalArgumentException(
        s"snapshot file name '$f' contains a character the manifest " +
          "format cannot represent (one of , \" or a newline)"))
    val v = versions(root).lastOption.getOrElse(0) + 1
    val dtag =
      if (deletes.isEmpty) ""
      else s""""dfiles":[${deletes.sorted.map(f => "\"" + f + "\"").mkString(",")}],"""
    val json = s"""{"version":$v,$dtag"files":[${
      files.sorted.map(f => "\"" + f + "\"").mkString(",")}]}"""
    java.nio.file.Files.write(mfile(root, v).toPath, json.getBytes("UTF-8"))
    v
  }

  /** The delete-file list of a committed version (empty for manifests
    * written before delete support — the format is additive).
    */
  def deletesOf(root: String, v: Int): Seq[String] = {
    val txt = new String(
      java.nio.file.Files.readAllBytes(mfile(root, v).toPath), "UTF-8")
    """"dfiles":\[([^\]]*)\]""".r.findFirstMatchIn(txt).map(_.group(1))
      .getOrElse("")
      .split(',').iterator.map(_.trim).filter(_.nonEmpty)
      .map(_.stripPrefix("\"").stripSuffix("\"")).toSeq
  }

  /** Time-travel read with row-level deletes applied: version `v`'s
    * data files anti-joined against the union of its delete files on
    * `keyCol`. The delete vectors of a commit are bounded (a day's
    * deletions, not the table), so the anti-join build side is a
    * broadcast; a compaction that rewrites data files absorbs the
    * deletes and commits with an empty dfiles list.
    */
  def readWithDeletes(spark: SparkSession, root: String, v: Int,
      keyCol: String): DataFrame = {
    val df = read(spark, root, v)
    val dels = deletesOf(root, v)
    if (dels.isEmpty) df
    else df.join(org.apache.spark.sql.functions.broadcast(
      deletedKeys(spark, root, dels, df.schema(keyCol))), Seq(keyCol), "left_anti")
  }

  /** The distinct keys of the delete files `dels`. Their writers
    * select the key column of the data, so its field is their schema,
    * and reading them opens no file to infer one.
    */
  private def deletedKeys(spark: SparkSession, root: String,
      dels: Seq[String], key: StructField): DataFrame =
    spark.read.schema(StructType(Seq(key)))
      .parquet(dels.map(d => s"$root/$d"): _*).distinct()

  /** Time-travel read with SEQUENCE-NUMBER delete semantics — the
    * full Iceberg-v2 equality-delete rule that [[readWithDeletes]]
    * (which applies a version's deletes to ALL its files) cannot
    * express: an equality delete applies only to data files whose
    * data sequence number is STRICTLY LOWER than the delete's, so a
    * key re-INSERTED after its delete survives while the pre-delete
    * rows stay masked. Sequence numbers are derived from the manifest
    * history itself — a file's sequence is the first version whose
    * manifest references it (manifests are append-only metadata, so
    * this is exact and needs no format change). The scan groups data
    * files by sequence (a handful of groups — one per commit that
    * added files) and anti-joins each group against only the delete
    * files sequenced after it; delete vectors are bounded, so every
    * anti-join build side broadcasts.
    */
  def readWithSeqDeletes(spark: SparkSession, root: String, v: Int,
      keyCol: String): DataFrame = {
    val vs = versions(root).filter(_ <= v)
    def firstSeen(of: Int => Seq[String]): Map[String, Int] =
      vs.foldLeft(Map.empty[String, Int]) { (m, ver) =>
        of(ver).foldLeft(m)((mm, f) =>
          if (mm.contains(f)) mm else mm.updated(f, ver))
      }
    val dataSeq = firstSeen(files(root, _))
    val delSeq = firstSeen(deletesOf(root, _))
    val dels = deletesOf(root, v)
    files(root, v).groupBy(dataSeq).toSeq.sortBy(_._1).map { case (seq, fs) =>
      // the group's data columns as its first file's writer recorded
      // them (the partition columns still come from the directories)
      val df = Tables.footerReader(spark, s"$root/${fs.head}")
        .option("basePath", root).parquet(fs.map(f => s"$root/$f"): _*)
      val applicable = dels.filter(d => delSeq(d) > seq)
      if (applicable.isEmpty) df
      else df.join(org.apache.spark.sql.functions.broadcast(
        deletedKeys(spark, root, applicable, df.schema(keyCol))),
        Seq(keyCol), "left_anti")
    }.reduce(_ unionByName _)
  }

  /** The file list of a committed version. */
  def files(root: String, v: Int): Seq[String] = {
    val txt = new String(
      java.nio.file.Files.readAllBytes(mfile(root, v).toPath), "UTF-8")
    """"files":\[([^\]]*)\]""".r.findFirstMatchIn(txt).get.group(1)
      .split(',').iterator.map(_.trim).filter(_.nonEmpty)
      .map(_.stripPrefix("\"").stripSuffix("\"")).toSeq
  }

  /** Time-travel read: plan the scan from version `v`'s explicit file
    * list. `basePath` keeps the (level, c) partition columns; files
    * written after v — or files a later compaction superseded — are
    * invisible, files v references stay visible even after the live
    * tree was rewritten. The data columns come from the first file's
    * footer (no schema-inference job); a version with no files gets
    * the plain reader, so it still fails with Spark's own error.
    */
  def read(spark: SparkSession, root: String, v: Int): DataFrame = {
    val fs = files(root, v)
    fs.headOption.fold(spark.read)(f => Tables.footerReader(spark, s"$root/$f"))
      .option("basePath", root).parquet(fs.map(f => s"$root/$f"): _*)
  }

  /** Metadata-only ROLLBACK (Iceberg rollback_to_snapshot / Delta
    * RESTORE): commit a NEW version whose file list is exactly
    * version `v`'s — zero data movement, and the rolled-back
    * version(s) stay readable until [[expire]]. Delete files are
    * carried too, so a head with merge-on-read debt restores
    * faithfully.
    */
  def rollback(root: String, v: Int): Int = {
    val dels = deletesOf(root, v)
    if (dels.isEmpty) commit(root, files(root, v))
    else commitWithDeletes(root, files(root, v), dels)
  }

  /** Orphan-file GC (the Iceberg remove_orphan_files idea) — the
    * OTHER reclaim axis from [[expire]]: expire retires files a KEPT
    * version no longer references (version history cleanup); orphan
    * GC reclaims files NO committed manifest has ever referenced —
    * the debris of failed or abandoned write attempts, which on an
    * object store accumulates forever because nothing points at it.
    * Age-gated: a file younger than `cutoffMillis` is spared even if
    * unreferenced, because it may belong to an IN-FLIGHT write whose
    * commit simply hasn't landed yet (the race every orphan scanner
    * must survive; Iceberg defaults this gate to 3 days). Every file
    * in ANY committed manifest is live — including audit-branch (WAP
    * quarantine) commits, which are manifests like any other — so age
    * alone never reclaims committed data. Returns
    * (reclaimed, keptYoung).
    */
  def orphanGc(root: String, cutoffMillis: Long): (Seq[String], Seq[String]) = {
    // delete files are live too: today they sit under `_deletes/` which
    // listDataFiles skips, but the live set must not depend on that
    // placement convention — a delete file committed outside an
    // underscore dir stays protected here. Manifests reference delete
    // DIRECTORIES, so membership is a prefix test against the census's
    // individual file paths.
    val live = versions(root).flatMap(files(root, _)).toSet
    val delDirs = versions(root).flatMap(deletesOf(root, _)).toSet
    val orphans = listDataFiles(root).filterNot(f =>
      live(f) || delDirs.exists(d => f == d || f.startsWith(d + "/")))
    val (old, young) = orphans.partition(f =>
      new java.io.File(s"$root/$f").lastModified() < cutoffMillis)
    old.foreach(f => new java.io.File(s"$root/$f").delete(): Unit)
    (old, young)
  }

  /** Vacuum: delete every data file not referenced by version `keep`
    * and every older manifest. Returns the deleted data files. Safe
    * by construction — `keep`'s files are never touched, so the
    * retained version reads identically before and after.
    */
  def expire(root: String, keep: Int): Seq[String] = {
    val live = files(root, keep).toSet
    val dead = listDataFiles(root).filterNot(live)
    dead.foreach(f => new java.io.File(s"$root/$f").delete(): Unit)
    versions(root).filter(_ < keep).foreach(v => mfile(root, v).delete(): Unit)
    dead
  }
}
