package graft.octree

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.VoxelGrid

/** Physical `.ktx` byte streams for the leaf blocks — the
  * materialization of the layout [[OctreeQueries.ktxHeader]] models
  * relationally (reference: ktx/__init__.py:320 `KtxHeader
  * .write_stream`, :225 `read_stream`, :377 `KtxImageData`).
  *
  * [[writeBlocks]] serializes every occupied spatial block to a real
  * binary file (KTX 1.1 magic, 13-field little-endian header, the
  * deterministic key-value section, per-mip 4-byte imageSize + data +
  * pad-to-4), laid out exactly as the header frame's byte accounting
  * says; [[parseProbes]] re-derives the oct_ktx_parse probe frame from
  * nothing but the read-back bytes, and [[parseVoxels]] decodes mip-0
  * payloads back to voxels — so a spec can assert write→read is
  * lossless against the oracle-verified relational frames.
  *
  * Mip 0 carries the block's real voxel values (uint16, channels
  * interleaved innermost, row-major z,y,x); each higher mip is the
  * reference's default `arthur` 2³-cell downsample of the previous
  * mip — sort the 8 subvoxels, take the second-largest, fall back to
  * the largest when the second is zero/no-data (`Ktx.from_ndarray(...,
  * mipmap_filter='arthur')` ktx/__init__.py:74, `create_mipmaps`
  * ktx/util.py:195, `_filter_assorted_array` :164 — the same kernel
  * oct_down_arthur expresses relationally). Serialization is per-block
  * `mapGroups` work on executors — at cluster scale the same bytes
  * would stream to a DSV2 writer; the file sink here is the local
  * test harness for the byte layout. The parsers list the tree once
  * on the driver and read and decode the files on executors
  * ([[TreeFiles]]).
  */
object KtxBinary {

  private val Leaf = VoxelGrid.Leaf
  private val Levels = VoxelGrid.Levels
  private val Channels = 2
  private val TSize = 2

  /** KTX 1.1 file identifier. */
  private val Magic: Array[Byte] =
    Array(0xAB, 0x4B, 0x54, 0x58, 0x20, 0x31, 0x31, 0xBB, 0x0D, 0x0A, 0x1A, 0x0A)
      .map(_.toByte)

  private def pathOf(bz: Long, by: Long, bx: Long): String =
    pathOfAt(Levels, bz, by, bx)

  /** Octant digit string of a block that lives at pyramid `level`
    * (level-1 digits; the level-1 root is the empty string).
    */
  private[octree] def pathOfAt(level: Int, bz: Long, by: Long, bx: Long): String =
    ((level - 2) to 0 by -1).map { lv =>
      def bit(b: Long) = ((b - 1) >> lv) & 1L
      (1L + bit(bx) + 2L * bit(by) + 4L * bit(bz)).toString
    }.mkString

  /** File name of the block's KTX ([[serializeAt]]'s second result). */
  private[octree] def nameAt(level: Int, bz: Long, by: Long, bx: Long): String =
    s"block_8_xy_${pathOfAt(level, bz, by, bx)}.ktx"

  private def putU32(out: java.io.ByteArrayOutputStream, v: Long): Unit = {
    out.write((v & 0xff).toInt); out.write(((v >> 8) & 0xff).toInt)
    out.write(((v >> 16) & 0xff).toInt); out.write(((v >> 24) & 0xff).toInt)
  }

  private def getU32(b: Array[Byte], off: Int): Long =
    (b(off) & 0xffL) | ((b(off + 1) & 0xffL) << 8) |
      ((b(off + 2) & 0xffL) << 16) | ((b(off + 3) & 0xffL) << 24)

  private def getU16(b: Array[Byte], off: Int): Long =
    (b(off) & 0xffL) | ((b(off + 1) & 0xffL) << 8)

  /** The deterministic key-value entries every block file carries
    * (ktx/util.py:232 `populate_octree_metadata`; the per-run
    * date/program/stats keys are excluded). Shared with
    * [[OctreeQueries.ktxHeader]]'s byte accounting so key lengths are
    * derived from these literals, never hand-counted.
    */
  private[octree] def staticKv(levels: Int, channels: Int): Seq[(String, String)] =
    staticKvAt(levels - 1, levels, channels)

  /** [[staticKv]] for a block at an arbitrary pyramid level of a
    * `total`-deep tree (level_id is 0-based, so the level-1 root
    * carries 0 and a leaf carries total-1).
    */
  private[octree] def staticKvAt(levelId: Int, total: Int, channels: Int): Seq[(String, String)] = Seq(
    "distance_units" -> "micrometers",
    "multiscale_level_id" -> levelId.toString,
    "multiscale_total_levels" -> total.toString,
    "number_of_channels" -> channels.toString)

  /** Key of the per-block octant-path entry (value is block-dependent). */
  private[octree] val OctreePathKey = "octree_path"

  /** One key-value entry: uint32 size, key\0value\0, NUL-pad to 4. */
  private def putKv(out: java.io.ByteArrayOutputStream, key: String, value: String): Unit = {
    val k = key.getBytes("UTF-8"); val v = value.getBytes("UTF-8")
    val size = k.length + 1 + v.length + 1
    putU32(out, size.toLong)
    out.write(k); out.write(0); out.write(v); out.write(0)
    (0 until (3 - ((size + 3) % 4))).foreach(_ => out.write(0))
  }

  /** Serialize one spatial block: (relpath, fileName, bytes). */
  private def serialize(bz: Long, by: Long, bx: Long,
      vox: Seq[(Long, Long, Long, Long, Long)]): (String, String, Array[Byte]) =
    serializeAt(Levels, bz, by, bx, vox)

  /** [[serialize]] for a block at an arbitrary pyramid `level` — the
    * octant relpath shortens to level-1 digits and the
    * multiscale_level_id kv entry tracks the level, everything else
    * (header, mip chain, payload layout) is the leaf serialization
    * verbatim. Used by [[OctreePipeline]] to emit the full per-level
    * KTX tree.
    */
  private[octree] def serializeAt(level: Int, bz: Long, by: Long, bx: Long,
      vox: Seq[(Long, Long, Long, Long, Long)]): (String, String, Array[Byte]) = {
    val path = pathOfAt(level, bz, by, bx)
    // mip 0 grid, channels interleaved innermost
    val grid = Array.ofDim[Long](Leaf, Leaf, Leaf, Channels)
    vox.foreach { case (c, lz, ly, lx, v) =>
      grid(lz.toInt)(ly.toInt)(lx.toInt)(c.toInt) = v
    }
    val out = new java.io.ByteArrayOutputStream()
    out.write(Magic)
    val nMips = 31 - Integer.numberOfLeadingZeros(Leaf) + 1
    // key-value section first (header needs its byte count)
    val kv = new java.io.ByteArrayOutputStream()
    staticKvAt(level - 1, Levels, Channels).foreach { case (k, v) => putKv(kv, k, v) }
    putKv(kv, OctreePathKey, path.map(_.toString).mkString("/"))
    val kvBytes = kv.size().toLong
    // 13-field header (ktx/__init__.py:320 write order). numberOfFaces
    // is 0, matching what the reference's KtxHeader populate/write
    // emits (its readers guard with _not_zero) — NOT the KTX 1.1
    // spec's 1-for-non-cubemap convention.
    Seq(0x04030201L, 5123L, TSize.toLong, 33319L, 33324L, 33319L,
      Leaf.toLong, Leaf.toLong, Leaf.toLong, 0L, 0L, nMips.toLong, kvBytes)
      .foreach(putU32(out, _))
    kv.writeTo(out)
    // mip chain: 4-byte imageSize + LE uint16 data + pad-to-4
    var cur = grid
    var edge = Leaf
    for (m <- 0 until nMips) {
      if (m > 0) {
        val next = Array.ofDim[Long](edge / 2, edge / 2, edge / 2, Channels)
        val cell = new Array[Long](8)
        for (z <- 0 until edge / 2; y <- 0 until edge / 2; x <- 0 until edge / 2;
             c <- 0 until Channels) {
          // the reference's 'arthur' kernel (ktx/util.py:164): sort the
          // 8 subvoxels, keep the second-largest; a zero second-largest
          // (≤1 voxel with data) falls back to the largest
          var i = 0
          for (dz <- 0 to 1; dy <- 0 to 1; dx <- 0 to 1) {
            cell(i) = cur(2 * z + dz)(2 * y + dy)(2 * x + dx)(c); i += 1
          }
          java.util.Arrays.sort(cell)
          next(z)(y)(x)(c) = if (cell(6) == 0L) cell(7) else cell(6)
        }
        cur = next; edge /= 2
      }
      val bytes = edge.toLong * edge * edge * Channels * TSize
      putU32(out, bytes)
      for (z <- 0 until edge; y <- 0 until edge; x <- 0 until edge; c <- 0 until Channels) {
        val v = cur(z)(y)(x)(c)
        out.write((v & 0xff).toInt); out.write(((v >> 8) & 0xff).toInt)
      }
      (0 until (3 - ((bytes + 3) % 4)).toInt).foreach(_ => out.write(0))
    }
    // octant digits become nested dirs, the ktxName relpath layout
    (path.map(_.toString).mkString("/"), nameAt(level, bz, by, bx), out.toByteArray)
  }

  /** Write every occupied spatial block as a real `.ktx` file under
    * `outRoot/<octant>/<octant>/block_8_xy_<path>.ktx` (the
    * [[OctreeQueries.ktxName]] layout). Executor-side per-block
    * serialization; one file per block.
    */
  def writeBlocks(spark: SparkSession, dir: String, outRoot: String): Unit = {
    import spark.implicits._
    Addressing.blockify(VoxelGrid(spark, dir))
      .select(col("bz"), col("by"), col("bx"), col("c"),
        col("lz"), col("ly"), col("lx"), col("v"))
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)]
      .groupByKey(t => (t._1, t._2, t._3))
      .mapGroups { (key: (Long, Long, Long), it: Iterator[(Long, Long, Long, Long, Long, Long, Long, Long)]) =>
        serialize(key._1, key._2, key._3,
          it.map(t => (t._4, t._5, t._6, t._7, t._8)).toSeq)
      }
      .foreach { t => TreeFiles.write(outRoot, s"${t._1}/${t._2}", t._3) }
  }

  /** Level-generic decode of one file's mip-0 payload: (level,
    * 1-based block coords, nonzero voxels (c, lz, ly, lx, v)). The
    * level is inferred from the octree_path kv entry's digit count
    * (empty path = the level-1 root, which the leaf-only [[decode]]
    * rejects), so one reader walks a whole per-level tree.
    */
  private[octree] def decodeMip0Any(bytes: Array[Byte])
      : (Int, Long, Long, Long, Seq[(Long, Long, Long, Long, Long)]) = {
    require(bytes.take(12).sameElements(Magic), "bad KTX magic")
    require(getU32(bytes, 12) == 0x04030201L, "bad endianness marker")
    val kvBytes = getU32(bytes, 12 + 12 * 4)
    var p = 64
    var path = ""
    var seen = false
    while (p < 64 + kvBytes) {
      val size = getU32(bytes, p).toInt
      val entry = bytes.slice(p + 4, p + 4 + size)
      val nul = entry.indexOf(0.toByte)
      val key = new String(entry.take(nul), "UTF-8")
      val value = new String(entry.slice(nul + 1, entry.length - 1), "UTF-8")
      if (key == OctreePathKey) { path = value.replace("/", ""); seen = true }
      p += 4 + size + (3 - ((size + 3) % 4))
    }
    require(seen, "octree_path kv entry missing")
    val level = path.length + 1
    var (bz, by, bx) = (0L, 0L, 0L)
    path.zipWithIndex.foreach { case (ch, i) =>
      val lv = level - 2 - i
      val d = ch - '1'
      bx |= (d & 1L) << lv; by |= ((d >> 1) & 1L) << lv; bz |= ((d >> 2) & 1L) << lv
    }
    val dataStart = (64L + kvBytes + 4L).toInt // mip-0 size field skipped
    val vox = for {
      lz <- 0 until Leaf; ly <- 0 until Leaf; lx <- 0 until Leaf
      c <- 0 until Channels
      v = getU16(bytes,
        dataStart + (((lz * Leaf + ly) * Leaf + lx) * Channels + c) * TSize)
      if v > 0
    } yield (c.toLong, lz.toLong, ly.toLong, lx.toLong, v)
    (level, bz + 1, by + 1, bx + 1, vox)
  }

  /** Decoded header + mip directory of one file's bytes. */
  private case class Parsed(path: String, bz: Long, by: Long, bx: Long,
      kvBytes: Long, nMips: Int, mips: Seq[(Long, Long, Long, Long)], dataBytes: Long)
  //  mips: (mip, dim, mipBytes, offsetOfSizeField)

  private def decode(bytes: Array[Byte]): Parsed = {
    require(bytes.take(12).sameElements(Magic), "bad KTX magic")
    require(getU32(bytes, 12) == 0x04030201L, "bad endianness marker")
    val pixelWidth = getU32(bytes, 12 + 6 * 4)
    val nMips = getU32(bytes, 12 + 11 * 4).toInt
    val kvBytes = getU32(bytes, 12 + 12 * 4)
    // walk the kv section for octree_path
    var p = 64
    var path = ""
    while (p < 64 + kvBytes) {
      val size = getU32(bytes, p).toInt
      val entry = bytes.slice(p + 4, p + 4 + size)
      val nul = entry.indexOf(0.toByte)
      val key = new String(entry.take(nul), "UTF-8")
      val value = new String(entry.slice(nul + 1, entry.length - 1), "UTF-8")
      if (key == "octree_path") path = value.replace("/", "")
      p += 4 + size + (3 - ((size + 3) % 4))
    }
    require(path.nonEmpty, "octree_path kv entry missing")
    // invert pathOf: digit = 1 + bx_bit + 2*by_bit + 4*bz_bit
    var (bz, by, bx) = (0L, 0L, 0L)
    path.zipWithIndex.foreach { case (ch, i) =>
      val lv = Levels - 2 - i
      val d = ch - '1'
      bx |= (d & 1L) << lv; by |= ((d >> 1) & 1L) << lv; bz |= ((d >> 2) & 1L) << lv
    }
    // walk the mip directory
    var off = 64L + kvBytes
    val mips = (0 until nMips).map { m =>
      val sz = getU32(bytes, off.toInt)
      val row = (m.toLong, math.max(1L, pixelWidth >> m), sz, off)
      off += 4 + sz + (3 - ((sz + 3) % 4))
      row
    }
    Parsed(path, bz + 1, by + 1, bx + 1, kvBytes, nMips, mips, off - 64 - kvBytes)
  }

  /** Every `.ktx` file's bytes under `outRoot`, read on executors. */
  private def files(spark: SparkSession, outRoot: String) =
    TreeFiles.read(spark, outRoot, _.endsWith(".ktx")).map(_._2)

  /** The oct_ktx_parse probe frame re-derived purely from read-back
    * file bytes — same schema, same probe positions, classification
    * decoded by walking the actual size fields instead of trusting
    * the relational layout model.
    */
  def parseProbes(spark: SparkSession, outRoot: String): DataFrame = {
    import spark.implicits._
    files(spark, outRoot)
      .flatMap { bytes =>
        val f = decode(bytes)
        (0L until OctreeQueries.KtxProbes).flatMap { probe =>
          val pos = 64L + f.kvBytes + (probe * f.dataBytes) / OctreeQueries.KtxProbes
          f.mips.collectFirst {
            case (m, dEdge, sz, off)
              if pos >= off && pos < off + 4 + sz + (3 - ((sz + 3) % 4)) =>
              val dataStart = off + 4
              val region =
                if (pos < dataStart) "size"
                else if (pos < dataStart + sz) "data"
                else "pad"
              val d = region == "data"
              val bim = if (d) pos - dataStart else -1L
              val elem = bim / TSize
              val sp = elem / Channels
              val (lz, ly, lx) =
                if (d) (sp / (dEdge * dEdge), (sp / dEdge) % dEdge, sp % dEdge)
                else (-1L, -1L, -1L)
              (f.bz, f.by, f.bx, f.path, probe, pos, m, region, bim,
                if (d) bim % TSize else -1L, if (d) elem % Channels else -1L,
                lz, ly, lx,
                if (d) (f.bz - 1) * dEdge + lz else -1L,
                if (d) (f.by - 1) * dEdge + ly else -1L,
                if (d) (f.bx - 1) * dEdge + lx else -1L)
          }
        }
      }
      .toDF("bz", "by", "bx", "path", "probe", "pos", "mip", "region",
        "byte_in_mip", "byte_in_elem", "channel", "lz", "ly", "lx", "az", "ay", "ax")
  }

  /** EVERY mip payload decoded back to mip-space absolute voxels
    * (mip, c, az, ay, ax, v), zeros dropped — mip 0 must equal the
    * source grid and mip m>0 must equal m applications of the
    * reference's arthur kernel to it, so a spec can pin the in-file
    * mip CONTENT (not just the layout) to ktx/util.py:195's default.
    */
  def parseMipVoxels(spark: SparkSession, outRoot: String): DataFrame = {
    import spark.implicits._
    files(spark, outRoot)
      .flatMap { bytes =>
        val f = decode(bytes)
        f.mips.flatMap { case (m, dEdge, _, off) =>
          val dataStart = (off + 4).toInt
          val e = dEdge.toInt
          for {
            lz <- 0 until e; ly <- 0 until e; lx <- 0 until e
            c <- 0 until Channels
            v = getU16(bytes,
              dataStart + (((lz * e + ly) * e + lx) * Channels + c) * TSize)
            if v > 0
          } yield (m, c.toLong, (f.bz - 1) * e + lz, (f.by - 1) * e + ly,
            (f.bx - 1) * e + lx, v)
        }
      }
      .toDF("mip", "c", "az", "ay", "ax", "v")
  }

  /** Mip-0 payloads decoded back to absolute voxels (c, z, y, x, v),
    * zeros dropped — must equal the source [[VoxelGrid]] exactly.
    */
  def parseVoxels(spark: SparkSession, outRoot: String): DataFrame = {
    import spark.implicits._
    files(spark, outRoot)
      .flatMap { bytes =>
        val f = decode(bytes)
        val (_, _, _, off0) = f.mips.head
        val dataStart = (off0 + 4).toInt
        for {
          lz <- 0 until Leaf; ly <- 0 until Leaf; lx <- 0 until Leaf
          c <- 0 until Channels
          v = getU16(bytes,
            dataStart + (((lz * Leaf + ly) * Leaf + lx) * Channels + c) * TSize)
          if v > 0
        } yield (c.toLong, (f.bz - 1) * Leaf + lz, (f.by - 1) * Leaf + ly,
          (f.bx - 1) * Leaf + lx, v)
      }
      .toDF("c", "z", "y", "x", "v")
  }
}
