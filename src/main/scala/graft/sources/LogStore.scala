package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.Scratch
import graft.Tables

/** Incremental commit LOG with periodic CHECKPOINTS — the metadata
  * half of the table-format story [[SnapshotStore]] doesn't cover.
  * SnapshotStore manifests are full file lists (O(files) metadata per
  * commit — fine for rewrite-heavy stores); a streaming table taking
  * thousands of small commits needs the Delta-log shape instead: each
  * commit records only its DELTA (`log-vN.json`: adds + removes), and
  * every [[CheckpointEvery]]-th commit also materializes the full
  * reconstructed file list (`checkpoint-vN.json`). A reader plans any
  * version from the newest checkpoint at-or-before it plus at most
  * CheckpointEvery-1 tail deltas — O(1) metadata reads per plan
  * regardless of table age, while every historical version stays
  * reconstructable. At 100 TB with years of commits, this is the
  * difference between a planner reading 4 small JSON files and
  * replaying 10⁵ of them.
  */
object LogStore {

  /** Checkpoint cadence (every C-th commit). */
  val CheckpointEvery = 4

  private def lfile(root: String, v: Int) =
    new java.io.File(s"$root/log-v$v.json")
  private def cfile(root: String, v: Int) =
    new java.io.File(s"$root/checkpoint-v$v.json")

  private val LName = "log-v([0-9]+)\\.json".r

  /** Committed log versions, ascending. */
  def versions(root: String): Seq[Int] =
    Option(new java.io.File(root).listFiles()).getOrElse(Array.empty)
      .flatMap(f => f.getName match {
        case LName(v) => Some(v.toInt)
        case _ => None
      }).toSeq.sorted

  private def arr(files: Seq[String]): String = {
    files.find(f => f.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
      .foreach(f => throw new IllegalArgumentException(
        s"log data file name '$f' contains a character the log format " +
          "cannot represent (one of , \" or a newline)"))
    files.sorted.map(f => "\"" + f + "\"").mkString("[", ",", "]")
  }

  private def field(txt: String, name: String): Seq[String] =
    ("\"" + name + "\":\\[([^\\]]*)\\]").r.findFirstMatchIn(txt)
      .map(_.group(1)).getOrElse("")
      .split(',').iterator.map(_.trim).filter(_.nonEmpty)
      .map(_.stripPrefix("\"").stripSuffix("\"")).toSeq

  /** Append one delta commit; every CheckpointEvery-th commit also
    * writes the reconstructed full state as a checkpoint. Returns the
    * new version.
    */
  def commitDelta(root: String, adds: Seq[String],
      removes: Seq[String]): Int = {
    val v = versions(root).lastOption.getOrElse(0) + 1
    val json =
      s"""{"version":$v,"adds":${arr(adds)},"removes":${arr(removes)}}"""
    java.nio.file.Files.write(lfile(root, v).toPath, json.getBytes("UTF-8"))
    if (v % CheckpointEvery == 0) {
      val full =
        s"""{"version":$v,"files":${arr(stateAt(root, v)._1)}}"""
      java.nio.file.Files.write(cfile(root, v).toPath, full.getBytes("UTF-8"))
    }
    v
  }

  /** Reconstruct version `v`'s file list from the newest checkpoint
    * at-or-before `v` plus the tail deltas. Returns (files,
    * metadataFilesRead) — the second component is the planner cost
    * the op certifies as bounded.
    */
  def stateAt(root: String, v: Int): (Seq[String], Int) = {
    val ckpt = (v to 1 by -1).find(c => cfile(root, c).isFile)
    val base: Set[String] = ckpt match {
      case Some(c) =>
        val txt = new String(
          java.nio.file.Files.readAllBytes(cfile(root, c).toPath), "UTF-8")
        field(txt, "files").toSet
      case None => Set.empty
    }
    val lo = ckpt.getOrElse(0)
    val files = (lo + 1 to v).foldLeft(base) { (s, i) =>
      val txt = new String(
        java.nio.file.Files.readAllBytes(lfile(root, i).toPath), "UTF-8")
      s -- field(txt, "removes") ++ field(txt, "adds")
    }
    (files.toSeq.sorted, (v - lo) + (if (ckpt.isDefined) 1 else 0))
  }

  /** Time-travel read planned from the log. */
  def read(spark: SparkSession, root: String, v: Int): DataFrame =
    spark.read.option("basePath", root)
      .parquet(stateAt(root, v)._1.map(f => s"$root/$f"): _*)

  /** The files a commit ADDED — what a streaming tail consumes. */
  def addsOf(root: String, v: Int): Seq[String] = {
    val txt = new String(
      java.nio.file.Files.readAllBytes(lfile(root, v).toPath), "UTF-8")
    field(txt, "adds")
  }

  /** The files a commit REMOVED — non-empty marks a CHANGE commit
    * (compaction/drop), which an append-tail consumer must skip
    * (Delta's skipChangeCommits semantics): its adds carry no new
    * rows, only rewritten ones.
    */
  def removesOf(root: String, v: Int): Seq[String] = {
    val txt = new String(
      java.nio.file.Files.readAllBytes(lfile(root, v).toPath), "UTF-8")
    field(txt, "removes")
  }

  /** Stage the shared 9-commit history (7 one-year appends, a 3→1
    * compaction, a partition drop) under a fresh root; shared by
    * [[logCompact]] and the streaming tail.
    */
  private[graft] def stageHistory(spark: SparkSession, dir: String): String = {
    val root = Scratch.path("log")
    Scratch.rm(root)
    val o = Tables(spark, dir, "orders")
      .select(year(col("o_orderdate")).cast("long").as("y"),
        col("o_orderkey").as("k"),
        floor(col("o_totalprice") * 100).cast("long").as("pc"))
    val y0 = o.agg(min("y")).collect()(0).getLong(0)

    def writeFiles(df: DataFrame, sub: String): Seq[String] = {
      val before = SnapshotStore.listDataFiles(root).toSet
      df.write.mode(SaveMode.Append).parquet(s"$root/data/$sub")
      SnapshotStore.listDataFiles(root).filterNot(before)
    }

    // commits 1..7: one year per delta commit (the streaming-append shape)
    val yearFiles = (0L to 6L).map { d =>
      val fs = writeFiles(
        o.filter(col("y") === y0 + d).coalesce(1), s"y${y0 + d}")
      commitDelta(root, fs, Nil)
      fs
    }
    // commit 8: compaction — merge the first three years into one file
    val merged = writeFiles(
      o.filter(col("y") <= y0 + 2).coalesce(1), "merged")
    commitDelta(root, merged, yearFiles.take(3).flatten)
    // commit 9: drop the newest year's partition
    commitDelta(root, Nil, yearFiles(6))
    root
  }

  private[graft] def dropRoot(root: String): Unit = Scratch.rm(root)

  // ------------------------------------------------------------------
  //  src_log_compact — the op
  // ------------------------------------------------------------------

  /** src_log_compact — drive a 9-commit history through the delta
    * log: 7 year appends, a compaction commit (the first 3 year files
    * rewritten as ONE merged file: remove 3 + add 1), and a partition
    * drop (remove the last year). Certifies BOTH reads AND the
    * planner-cost arithmetic: the head plan touches checkpoint-v8 + 1
    * delta (2 metadata reads, not 9), the v7 time travel reads
    * checkpoint-v4 + 3 deltas, and both reads' row/sum aggregates are
    * restated from `orders` in closed form.
    */
  def logCompact(spark: SparkSession, dir: String): DataFrame = {
    val root = stageHistory(spark, dir)
    try {
      val (headFiles, headMeta) = stateAt(root, 9)
      val head = read(spark, root, 9)
        .agg(count(lit(1)).as("n"), sum("pc").as("s")).collect()(0)
      val (_, v7Meta) = stateAt(root, 7)
      val v7 = read(spark, root, 7)
        .agg(count(lit(1)).as("n"), sum("pc").as("s")).collect()(0)

      val out = spark.range(1).select(
        lit(9L).as("versions"),
        lit(2L).as("checkpoints"),
        lit(headMeta.toLong).as("head_meta_reads"),
        lit(v7Meta.toLong).as("v7_meta_reads"),
        lit(headFiles.length.toLong).as("head_files"),
        lit(head.getLong(0)).as("head_rows"),
        lit(head.getLong(1)).as("head_sum_pc"),
        lit(v7.getLong(0)).as("v7_rows"),
        lit(v7.getLong(1)).as("v7_sum_pc"))
      val rows = out.collect().toIndexedSeq
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), out.schema)
    } finally Scratch.rm(root)
  }

  /** Closed-form oracle: the commit history's outcome restated from
    * `orders` — head = years [y0, y0+5] in 4 files planned from 2
    * metadata reads; v7 = all 7 years from checkpoint-v4 + 3 deltas.
    */
  val logOracle: String =
    """WITH o AS (SELECT CAST(year(o_orderdate) AS BIGINT) AS y,
      |    CAST(FLOOR(o_totalprice*100) AS BIGINT) AS pc
      |  FROM orders),
      |y0 AS (SELECT MIN(y) AS y0 FROM o)
      |SELECT CAST(9 AS BIGINT) AS versions,
      |  CAST(2 AS BIGINT) AS checkpoints,
      |  CAST(2 AS BIGINT) AS head_meta_reads,
      |  CAST(4 AS BIGINT) AS v7_meta_reads,
      |  CAST(4 AS BIGINT) AS head_files,
      |  (SELECT COUNT(*) FROM o, y0 WHERE y <= y0 + 5) AS head_rows,
      |  (SELECT CAST(SUM(pc) AS BIGINT) FROM o, y0 WHERE y <= y0 + 5)
      |    AS head_sum_pc,
      |  (SELECT COUNT(*) FROM o) AS v7_rows,
      |  (SELECT CAST(SUM(pc) AS BIGINT) FROM o) AS v7_sum_pc""".stripMargin
}
