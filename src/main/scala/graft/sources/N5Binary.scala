package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{VoxelGrid, Zlib}
import graft.octree.TreeFiles

/** Physical N5 containers — the reference's PRIMARY input arm
  * (`n5_zarr_to_dask_array` tiff2octree.py:779 ingests them,
  * `get_pixel_resolution_n5_zarr` :694 reads the root
  * `pixelResolution` attribute, `check_n5_levels` :711 probes `s{i}`
  * level dirs, `check_n5_channels` :728 probes `c{i}` channel dirs,
  * `gen_block_from_n5_zarr` :330 crops leaf blocks out of the opened
  * array) — written and re-parsed at the byte level with nothing but
  * the JDK, same recipe as [[graft.octree.TiffBinary]] /
  * [[graft.octree.KtxBinary]].
  *
  * Container layout (the public N5 format): a root `attributes.json`
  * (`n5` version + the Janelia `pixelResolution` convention), one
  * `c{c}` group per channel, one `s{s}` dataset per pyramid level
  * (s0 = full resolution), each dataset an `attributes.json`
  * (`dimensions` fastest-first, `blockSize`, `dataType`,
  * `compression`) plus one file per occupied chunk at
  * `c{c}/s{s}/<gx>/<gy>/<gz>`. A chunk is: big-endian uint16 mode=0,
  * uint16 ndim, ndim×uint32 block dims, then the GZIP-compressed
  * big-endian uint16 payload with the FIRST listed dimension fastest
  * (x + bsX·(y + bsY·z)). All-zero chunks are simply absent — the
  * sparse convention every N5 reader fills with zeros.
  *
  * The level payloads are the `arthur` pyramid (the same frames
  * oct_pyramid verifies), so parsing EVERY level back from bytes can
  * share the oct_pyramid oracle verbatim: a green row proves the
  * bytes on disk hold exactly the pyramid the relational model
  * claims. Chunk serialization is per-chunk `mapGroups` work on
  * executors; parsing reads the chunk files through
  * [[graft.octree.TreeFiles]] and decodes each one on an executor.
  * The parse and discover frames carry no order.
  */
object N5Binary {

  private val Leaf = VoxelGrid.Leaf
  private val Levels = VoxelGrid.Levels
  private val Channels = 2

  /** Root pixelResolution attribute, micrometers, fastest-first
    * (x, y, z) — the value `get_pixel_resolution_n5_zarr` returns.
    */
  val PixelResolution: Seq[Double] = Seq(0.25, 0.25, 1.0)

  private def rootAttrs: String =
    s"""{"n5":"2.5.1","pixelResolution":{"dimensions":[${PixelResolution.mkString(",")}],"unit":"um"}}"""

  /** Dataset attributes for pyramid level index s (edge = Grid >> s). */
  private def datasetAttrs(edge: Int): String =
    s"""{"dimensions":[$edge,$edge,$edge],"blockSize":[$Leaf,$Leaf,$Leaf],"dataType":"uint16","compression":{"type":"gzip","level":-1}}"""

  private def putU16BE(out: java.io.ByteArrayOutputStream, v: Int): Unit = {
    out.write((v >> 8) & 0xff); out.write(v & 0xff)
  }

  private def putU32BE(out: java.io.ByteArrayOutputStream, v: Long): Unit = {
    out.write(((v >> 24) & 0xff).toInt); out.write(((v >> 16) & 0xff).toInt)
    out.write(((v >> 8) & 0xff).toInt); out.write((v & 0xff).toInt)
  }

  private def getU16BE(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xff) << 8) | (b(off + 1) & 0xff)

  private def getU32BE(b: Array[Byte], off: Int): Long =
    ((b(off) & 0xffL) << 24) | ((b(off + 1) & 0xffL) << 16) |
      ((b(off + 2) & 0xffL) << 8) | (b(off + 3) & 0xffL)

  /** Serialize one chunk: default mode header + gzip'd BE payload,
    * x fastest per the fastest-first `dimensions` convention.
    */
  private def serializeChunk(vox: Seq[(Long, Long, Long, Long)]): Array[Byte] = {
    val grid = new Array[Long](Leaf * Leaf * Leaf)
    vox.foreach { case (lz, ly, lx, v) =>
      grid((lx + Leaf * (ly + Leaf * lz)).toInt) = v
    }
    val raw = new java.io.ByteArrayOutputStream()
    grid.foreach(v => putU16BE(raw, v.toInt))
    val out = new java.io.ByteArrayOutputStream()
    putU16BE(out, 0)     // mode: default
    putU16BE(out, 3)     // ndim
    putU32BE(out, Leaf.toLong); putU32BE(out, Leaf.toLong); putU32BE(out, Leaf.toLong)
    out.write(Zlib.gzip(raw.toByteArray))
    out.toByteArray
  }

  /** Write the full container: root + group + dataset attributes
    * (bounded metadata, driver-side), then every occupied chunk of
    * every (channel, level) serialized and written on executors.
    */
  def writeContainer(spark: SparkSession, dir: String, outRoot: String): Unit = {
    import spark.implicits._
    TreeFiles.write(outRoot, "attributes.json", rootAttrs.getBytes("UTF-8"))
    for (c <- 0 until Channels; s <- 0 until Levels)
      TreeFiles.write(outRoot, s"c$c/s$s/attributes.json",
        datasetAttrs(VoxelGrid.Grid >> s).getBytes("UTF-8"))
    graft.octree.Pyramid(VoxelGrid(spark, dir))
      // pyramid level L (1 = coarsest) lives in dataset s = Levels - L
      .select((lit(Levels.toLong) - col("level")).as("s"), col("c"),
        col("z"), col("y"), col("x"), col("v"))
      .as[(Long, Long, Long, Long, Long, Long)]
      .groupByKey(t => (t._2, t._1, t._3 / Leaf, t._4 / Leaf, t._5 / Leaf))
      .mapGroups { (key: (Long, Long, Long, Long, Long), it: Iterator[(Long, Long, Long, Long, Long, Long)]) =>
        val (c, s, gz, gy, gx) = key
        val vox = it.map(t => (t._3 % Leaf, t._4 % Leaf, t._5 % Leaf, t._6)).toSeq
        // chunk path components are grid positions in dimensions
        // order, FASTEST first: <gx>/<gy>/<gz>
        (s"c$c/s$s/$gx/$gy/$gz", serializeChunk(vox))
      }
      .foreach { t => TreeFiles.write(outRoot, t._1, t._2) }
  }

  /** Every chunk of every (channel, level) decoded back to pyramid
    * voxels (level, c, z, y, x, v) purely from read-back bytes —
    * grid position from the chunk path, dims from the chunk header,
    * payload gunzip'd and de-interleaved (x fastest). Zeros dropped;
    * must equal the arthur pyramid exactly (the oct_pyramid oracle).
    */
  def parseVoxels(spark: SparkSession, outRoot: String): DataFrame = {
    import spark.implicits._
    TreeFiles.read(spark, outRoot, !_.endsWith("attributes.json"))
      .flatMap { case (rel, bytes) =>
        val parts = rel.split('/')
        val (gx, gy, gz) = (parts(parts.length - 3).toLong,
          parts(parts.length - 2).toLong, parts.last.toLong)
        val s = parts(parts.length - 4).stripPrefix("s").toInt
        val c = parts(parts.length - 5).stripPrefix("c").toLong
        require(getU16BE(bytes, 0) == 0, "unexpected chunk mode")
        val ndim = getU16BE(bytes, 2)
        require(ndim == 3, s"unexpected chunk ndim $ndim")
        val dims = (0 until ndim).map(i => getU32BE(bytes, 4 + 4 * i).toInt)
        val (bsX, bsY, bsZ) = (dims(0), dims(1), dims(2))
        val raw = Zlib.gunzip(bytes.drop(4 + 4 * ndim), bsX * bsY * bsZ * 2)
        val level = (Levels - s).toLong
        for {
          iz <- 0 until bsZ; iy <- 0 until bsY; ix <- 0 until bsX
          v = getU16BE(raw, (ix + bsX * (iy + bsY * iz)) * 2)
          if v > 0
        } yield (level, c, gz * bsZ + iz, gy * bsY + iy, gx * bsX + ix, v.toLong)
      }
      .toDF("level", "c", "z", "y", "x", "v")
  }

  /** Level/channel discovery purely from read-back `attributes.json`
    * BYTES — the `check_n5_channels` → `check_n5_levels` probe chain:
    * every `c{c}/s{s}/attributes.json` parsed (Spark's from_json, an
    * explicit schema) into (level, c, edge, n_blocks) where n_blocks
    * is the FULL chunk-grid cell count ⌈dim/blockSize⌉³ the dataset
    * addresses. Shares src_volume_levels' oracle shape.
    */
  def discoverLevels(spark: SparkSession, outRoot: String): DataFrame = {
    import spark.implicits._
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "dimensions ARRAY<LONG>, blockSize ARRAY<LONG>, dataType STRING")
    TreeFiles.read(spark, outRoot, _.matches("c[0-9]+/s[0-9]+/attributes\\.json"))
      .map { case (rel, bytes) =>
        val parts = rel.split('/')
        (parts(1).stripPrefix("s").toLong, parts(0).stripPrefix("c").toLong, bytes)
      }
      .toDF("level", "c", "content")
      .select(col("level"), col("c"),
        from_json(col("content").cast("string"), schema).as("a"))
      .select(col("level"), col("c"),
        col("a.dimensions").getItem(0).as("edge"),
        (ceil(col("a.dimensions").getItem(0) / col("a.blockSize").getItem(0)) *
          ceil(col("a.dimensions").getItem(1) / col("a.blockSize").getItem(1)) *
          ceil(col("a.dimensions").getItem(2) / col("a.blockSize").getItem(2)))
          .cast("long").as("n_blocks"))
  }

  /** Root pixelResolution decoded from read-back bytes
    * (`get_pixel_resolution_n5_zarr` tiff2octree.py:694).
    */
  def pixelResolution(outRoot: String): Seq[Double] = {
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$outRoot/attributes.json")), "UTF-8")
    val m = """"dimensions":\[([^\]]*)\]""".r.findFirstMatchIn(txt)
    m.get.group(1).split(',').map(_.trim.toDouble).toSeq
  }
}
