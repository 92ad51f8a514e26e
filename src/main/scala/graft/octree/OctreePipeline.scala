package graft.octree

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Scratch
import graft.VoxelGrid

/** The octree END-TO-END capstone — the reference's
  * `build_octree_from_tiff_slices` (tiff2octree.py:1164, driven by
  * `main` :1371) as ONE composed flow over the engine's own
  * operators:
  *
  *   staged slice dir → slice ingest ([[graft.sources.IngestDispatch]])
  *   → full arthur pyramid ([[Pyramid]], tiff2octree.py:1062)
  *   → real per-level block files under octant dirs — strip TIFF per
  *     channel (`default.<c>.tif`, :303/:315) AND interleaved KTX
  *     with in-file mip chain (`block_8_xy_<path>.ktx`,
  *     ktx_from_rendered_tiff.py) — plus the root `transform.txt`
  *     (`save_transform_txt` :842)
  *   → the whole tree re-parsed from nothing but read-back bytes.
  *
  * `--resume` (:359 `check_block`) is exercised MID-FLOW by the
  * pipeline_octree correctness entry itself: the first write pass
  * stops after the leaf level (the "crash"); the second pass rebuilds
  * with [[writeTree]]'s skip-existing listing and must complete the
  * tree bit-identically to a one-shot build
  * ([[OctreePipelineSpec]] pins byte identity; the oracle row pins
  * volume identity by sharing oct_pyramid's SQL verbatim).
  *
  * Scale shape: every stage is the already-audited distributed form —
  * the pyramid is one region-keyed shuffle whose tasks build all
  * levels of a region in memory ([[Pyramid]]); block serialization
  * is per-block `flatMapGroups` after one block-keyed shuffle into
  * `defaultParallelism` partitions, so every core writes files; the
  * resume listing is file names and lengths only (broadcast — never
  * voxels; a listed file is skipped before it is serialized); and the
  * parse lists the tree once on the driver and reads the files on
  * executors, spread over every core ([[TreeFiles]]). No stage sorts
  * globally: each consumer groups by its own key. Nothing voxel-sized
  * ever routes through the driver. Trees live on a filesystem the
  * driver and the executors share at one path; object stores are out
  * of scope.
  */
object OctreePipeline {

  private val Leaf = VoxelGrid.Leaf
  private val Levels = VoxelGrid.Levels
  private val Grid = VoxelGrid.Grid

  /** Octant relpath ('/'-joined digits, "" for the level-1 root). */
  private def relOf(level: Int, bz: Long, by: Long, bx: Long): String =
    KtxBinary.pathOfAt(level, bz, by, bx).map(_.toString).mkString("/")

  /** One blockified voxel: (level, bz, by, bx, c, lz, ly, lx, v). */
  private type BlockVoxel = (Long, Long, Long, Long, Long, Long, Long, Long, Long)

  /** Write the per-level octant tree from a pyramid frame
    * ((level, c, z, y, x, v) level-local coords, in any order): for
    * every occupied block at every level, one strip TIFF per nonempty
    * channel (reference skips empty channels, tiff2octree.py:312) and
    * one interleaved KTX with its in-file arthur mip chain. With
    * `skipExisting` the current tree listing is broadcast and
    * already-written files are skipped before they are serialized —
    * `check_block`:359's resume, as a set-difference instead of a
    * per-file probe. Returns the per-file summary (level, rel,
    * n_bytes, written 0/1), where a skipped file reports its listed
    * length; the caller runs an action on it.
    */
  def writeTree(spark: SparkSession, pyr: DataFrame, outRoot: String,
      skipExisting: Boolean = false): DataFrame = {
    import spark.implicits._
    // the resume anti-set: relpath -> length of what is already there,
    // broadcast only on resume (a fresh convert skips nothing)
    val doneB = Option.when(skipExisting)(spark.sparkContext.broadcast(
      if (new java.io.File(outRoot).isDirectory) TreeFiles.list(outRoot).toMap
      else Map.empty[String, Long]))
    val block = Seq(col("level"), col("bz"), col("by"), col("bx"))
    Addressing.blockify(pyr)
      .select(col("level"), col("bz"), col("by"), col("bx"),
        col("c"), col("lz"), col("ly"), col("lx"), col("v"))
      // a fixed partition count, which AQE does not coalesce: a tree's
      // shuffle is small, and coalesced into one task it leaves one
      // thread writing every file. Grouping on the same columns reuses
      // this partitioning, so the plan keeps one Exchange.
      .repartition(spark.sparkContext.defaultParallelism, block: _*)
      .groupBy(block: _*).as[(Long, Long, Long, Long), BlockVoxel]
      .flatMapGroups { (key: (Long, Long, Long, Long), it: Iterator[BlockVoxel]) =>
        val (level, bz, by, bx) = (key._1.toInt, key._2, key._3, key._4)
        val vox = it.map(t => (t._5, t._6, t._7, t._8, t._9)).toSeq
        val rel = relOf(level, bz, by, bx)
        val pre = if (rel.isEmpty) "" else rel + "/"
        val tiffs = vox.groupBy(_._1).toSeq.sortBy(_._1).map { case (c, vs) =>
          (pre + s"default.$c.tif",
            () => TiffBinary.serialize(vs.map(t => (t._2, t._3, t._4, t._5))))
        }
        val ktx = (pre + KtxBinary.nameAt(level, bz, by, bx),
          () => KtxBinary.serializeAt(level, bz, by, bx, vox)._3)
        (tiffs :+ ktx).map { case (relPath, bytes) =>
          doneB.flatMap(_.value.get(relPath)) match {
            case Some(listed) => (level.toLong, relPath, listed, 0L)
            case None =>
              val b = bytes()
              TreeFiles.write(outRoot, relPath, b)
              (level.toLong, relPath, b.length.toLong, 1L)
          }
        }
      }
      .toDF("level", "rel", "n_bytes", "written")
  }

  private def fmt(d: Double): String =
    if (d == math.floor(d) && math.abs(d) < 1e15) d.toLong.toString else d.toString

  /** Root `transform.txt` (save_transform_txt tiff2octree.py:842:
    * "key: value" lines ox..oz origin nm, sx..sz nm per root-level
    * voxel = vox_um*1000*2^(nl-1), nl) — driver-side, it is one tiny
    * metadata file. Values come from [[Geometry.transform]] so the
    * file and the oct_transform relational row cannot disagree.
    */
  def writeTransform(spark: SparkSession, outRoot: String): Unit = {
    val r = Geometry.transform(spark).collect()(0)
    val lines = Seq(
      "ox: " + fmt(r.getDouble(0)), "oy: " + fmt(r.getDouble(1)),
      "oz: " + fmt(r.getDouble(2)), "sx: " + fmt(r.getDouble(3)),
      "sy: " + fmt(r.getDouble(4)), "sz: " + fmt(r.getDouble(5)),
      "nl: " + r.getLong(6).toString)
    TreeFiles.write(outRoot, "transform.txt", lines.mkString("\n").getBytes("UTF-8"))
  }

  /** Parse of `transform.txt` back to the [[Geometry.transform]]
    * tuple (RenderedMouseLightOctree.__init__'s read direction,
    * ktx_from_rendered_tiff.py:37).
    */
  def readTransform(outRoot: String): (Double, Double, Double, Double, Double, Double, Long) = {
    val kv = scala.io.Source.fromFile(s"$outRoot/transform.txt").getLines()
      .flatMap { l =>
        l.split(": ") match { case Array(k, v) => Some(k.trim -> v.trim); case _ => None }
      }.toMap
    (kv("ox").toDouble, kv("oy").toDouble, kv("oz").toDouble,
      kv("sx").toDouble, kv("sy").toDouble, kv("sz").toDouble, kv("nl").toLong)
  }

  /** (level, 0-based block coords, file name) from a tree-relative
    * path — level = octant-digit dir count + 1.
    */
  private[octree] def blockOfPath(rel: String): (Int, Long, Long, Long, String) = {
    val parts = rel.split('/')
    val digits = parts.dropRight(1)
    val level = digits.length + 1
    var (bz, by, bx) = (0L, 0L, 0L)
    digits.zipWithIndex.foreach { case (ds, i) =>
      val lv = level - 2 - i
      val d = ds.head - '1'
      bx |= (d & 1L) << lv; by |= ((d >> 1) & 1L) << lv; bz |= ((d >> 2) & 1L) << lv
    }
    (level, bz, by, bx, parts.last)
  }

  /** The whole pyramid decoded from nothing but read-back TIFF bytes:
    * (level, c, z, y, x, v) with level-local coordinates — must equal
    * the oct_pyramid oracle exactly (zeros drop on both sides).
    */
  def parseTiffTree(spark: SparkSession, outRoot: String): DataFrame = {
    import spark.implicits._
    TreeFiles.read(spark, outRoot, _.endsWith(".tif"))
      .flatMap { case (rel, bytes) =>
        val (level, bz, by, bx, name) = blockOfPath(rel)
        val c = name.stripPrefix("default.").stripSuffix(".tif").toLong
        TiffBinary.stripVoxels(bytes)((z, y, x, v) =>
          (level.toLong, c, bz * Leaf + z, by * Leaf + y, bx * Leaf + x, v.toLong))
      }
      .toDF("level", "c", "z", "y", "x", "v")
  }

  /** The same frame decoded INDEPENDENTLY from the KTX files' mip-0
    * payloads (level inferred from each file's octree_path kv entry).
    */
  def parseKtxTree(spark: SparkSession, outRoot: String): DataFrame = {
    import spark.implicits._
    TreeFiles.read(spark, outRoot, _.endsWith(".ktx"))
      .flatMap { case (_, bytes) =>
        val (level, bz, by, bx, vox) = KtxBinary.decodeMip0Any(bytes)
        vox.map { case (c, lz, ly, lx, v) =>
          (level.toLong, c, (bz - 1) * Leaf + lz, (by - 1) * Leaf + ly,
            (bx - 1) * Leaf + lx, v)
        }
      }
      .toDF("level", "c", "z", "y", "x", "v")
  }

  /** Per-level artifact audit of a finished tree, every number derived
    * from the FILES (listings + parsed bytes), never from the pyramid
    * frame that wrote them: file counts per family, voxel
    * count/sum/max and a position-weighted checksum from the TIFF
    * bytes, and the same count/checksum INDEPENDENTLY from the KTX
    * mip-0 bytes — the oracle predicts all of it from the DuckDB
    * pyramid reconstruction, so one green row certifies both formats
    * agree with the model and with each other.
    */
  def audit(spark: SparkSession, outRoot: String): DataFrame = {
    import spark.implicits._
    val listed = TreeFiles.list(outRoot)
    def fileLevels(suffix: String): DataFrame =
      listed.collect { case (rel, _) if rel.endsWith(suffix) => blockOfPath(rel)._1.toLong }
        .toDF("level")
    val cksum = (((col("z") * Grid + col("y")) * Grid + col("x")) * 2
      + col("c") + 1) * col("v")
    val tifFiles = fileLevels(".tif").groupBy("level")
      .agg(count(lit(1)).as("n_tif_files"))
    val ktxFiles = fileLevels(".ktx").groupBy("level")
      .agg(count(lit(1)).as("n_ktx_files"))
    val tifVox = parseTiffTree(spark, outRoot).groupBy("level")
      .agg(count(lit(1)).as("n_voxels"), sum("v").as("sum_v"),
        max("v").as("max_v"), sum(cksum).as("cksum"))
    val ktxVox = parseKtxTree(spark, outRoot).groupBy("level")
      .agg(count(lit(1)).as("ktx_n_voxels"), sum(cksum).as("ktx_cksum"))
    tifFiles.join(ktxFiles, Seq("level"))
      .join(tifVox, Seq("level")).join(ktxVox, Seq("level"))
  }

  /** Stage slices → ingest → pyramid → tree under `out`. The
    * `interrupt` flag runs the write as crash-then-resume: leaf level
    * only, then the resume pass completes the remaining levels
    * against the listing anti-set.
    */
  private def buildTree(spark: SparkSession, dir: String, out: String,
      interrupt: Boolean): Unit = {
    graft.sources.IngestDispatch.stageSlices(spark, dir, s"$out/stage")
    val vox = graft.sources.IngestDispatch.parseSliceVoxels(spark, s"$out/stage")
      .localCheckpoint(true)
    val pyr = Pyramid(vox).localCheckpoint(true)
    val tree = s"$out/tree"
    if (interrupt) {
      // the "crash": only the leaf blocks land (the reference's
      // save_tiff_blocks pass completes, the downsample levels don't)
      writeTree(spark, pyr.filter(col("level") === Levels), tree).count(): Unit
      // resume from the listing — must complete levels Levels-1..1
      writeTree(spark, pyr, tree, skipExisting = true).count(): Unit
    } else {
      writeTree(spark, pyr, tree).count(): Unit
    }
    writeTransform(spark, tree)
  }

  /** pipeline_octree — the capstone correctness entry: the
    * interrupted-then-resumed end-to-end flow, returning the tree
    * re-parsed from TIFF bytes alone. Shares oct_pyramid's oracle
    * VERBATIM: slice-staging, ingest, pyramid, per-level serialization,
    * the resume splice and the byte parse all cancel out exactly or
    * the hash misses.
    */
  def pipelineOctree(spark: SparkSession, dir: String): DataFrame = {
    Scratch.withDir("octp_main") { out =>
      buildTree(spark, dir, out, interrupt = true)
      parseTiffTree(spark, s"$out/tree").localCheckpoint(true)
        .orderBy("level", "c", "z", "y", "x")
    }
  }

  /** pipeline_octree_audit — the per-artifact audit of a one-shot
    * build (file counts, voxel stats and position-weighted checksums
    * from TIFF and, independently, KTX bytes), predicted end-to-end
    * by the oracle from the DuckDB pyramid reconstruction.
    */
  def pipelineOctreeAudit(spark: SparkSession, dir: String): DataFrame = {
    Scratch.withDir("octp_audit") { out =>
      buildTree(spark, dir, out, interrupt = false)
      audit(spark, s"$out/tree").localCheckpoint(true).orderBy("level")
    }
  }
}
