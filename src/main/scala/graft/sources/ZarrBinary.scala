package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{VoxelGrid, Zlib}
import graft.octree.TreeFiles

/** Physical Zarr (v2) containers — the OTHER half of the reference's
  * primary input arm: `zarr.open(indir)` is tried FIRST and only
  * falls back to `zarr.N5Store` (tiff2octree.py:764-767, :699-702,
  * :779-783), so a plain-Zarr directory is a first-class input the
  * N5 arm alone does not cover. Written and re-parsed at the byte
  * level with nothing but the JDK, same recipe as [[N5Binary]].
  *
  * Container layout (the public Zarr v2 spec): a root `.zgroup`
  * (`zarr_format: 2`) with a `.zattrs` carrying the Janelia
  * `pixelResolution` convention, one `c{c}` group per channel, one
  * `s{s}` array per pyramid level, each array a `.zarray` JSON
  * (`shape` SLOWEST-first — C order, the opposite of N5's
  * fastest-first `dimensions` — plus `chunks`, `dtype` `">u2"`,
  * zlib `compressor`, `fill_value` 0) and one file per occupied
  * chunk named `<gz>.<gy>.<gx>` (grid position in shape order, the
  * default `.` dimension separator). A chunk file is the raw
  * zlib-DEFLATE of the C-order big-endian uint16 block — no
  * per-chunk header at all, again unlike N5: the chunk shape lives
  * ONLY in `.zarray`, so a reader must join chunk bytes against
  * array metadata. Missing chunks are `fill_value` — the same
  * sparse convention as N5's absent files.
  *
  * The level payloads are the `arthur` pyramid (the frames
  * oct_pyramid verifies), so parsing every level back from bytes
  * shares the oct_pyramid oracle verbatim. Chunk serialization is
  * per-chunk `mapGroups` work on executors; parsing reads the chunk
  * files through [[graft.octree.TreeFiles]] (which skips the dot-file
  * metadata) and broadcast-joins them with the parsed `.zarray`
  * frames (array metadata is O(levels × channels) — tiny — while
  * chunk bytes are the 100 TB side, exactly the asymmetry a
  * broadcast join wants).
  */
object ZarrBinary {

  private val Leaf = VoxelGrid.Leaf
  private val Levels = VoxelGrid.Levels
  private val Channels = 2

  /** Root pixelResolution attribute (micrometers, fastest-first),
    * the value `get_pixel_resolution_n5_zarr` returns — shared with
    * [[N5Binary.PixelResolution]] so both container flavors describe
    * the same physical volume.
    */
  val PixelResolution: Seq[Double] = N5Binary.PixelResolution

  private def zgroup: String = """{"zarr_format":2}"""

  private def zattrs: String =
    s"""{"pixelResolution":{"dimensions":[${PixelResolution.mkString(",")}],"unit":"um"}}"""

  /** Array metadata for pyramid level index s (edge = Grid >> s).
    * `shape` is slowest-first (z, y, x) per the C `order`.
    */
  private def zarray(edge: Int, separator: String, compressor: String): String =
    s"""{"zarr_format":2,"shape":[$edge,$edge,$edge],"chunks":[$Leaf,$Leaf,$Leaf],"dtype":">u2","compressor":{"id":"$compressor","level":1},"fill_value":0,"order":"C","filters":null,"dimension_separator":"$separator"}"""

  /** Serialize one chunk: the C-order BE uint16 block through the
    * array's compressor (numcodecs `zlib` = raw DEFLATE, `gzip` =
    * gzip-framed) — offset (z·bsY + y)·bsX + x, x fastest.
    */
  private def serializeChunk(vox: Seq[(Long, Long, Long, Long)],
      compressor: String): Array[Byte] = {
    val raw = new Array[Byte](Leaf * Leaf * Leaf * 2)
    vox.foreach { case (lz, ly, lx, v) =>
      val off = ((lz * Leaf + ly) * Leaf + lx).toInt * 2
      raw(off) = ((v >> 8) & 0xff).toByte
      raw(off + 1) = (v & 0xff).toByte
    }
    if (compressor == "gzip") Zlib.gzip(raw) else Zlib.deflate(raw, 1)
  }

  /** Write the full container: root + group + array metadata (bounded,
    * driver-side), then every occupied chunk of every (channel, level)
    * serialized and written on executors. `separator` is the Zarr v2
    * `dimension_separator`: `"."` (the v2 default — flat chunk files
    * `gz.gy.gx`) or `"/"` (the nested layout many real stores use and
    * v3 standardizes — `gz/gy/gx` directories); `zarr.open` reads
    * both, so both are first-class inputs here.
    */
  def writeContainer(spark: SparkSession, dir: String, outRoot: String,
      separator: String = ".", compressor: String = "zlib"): Unit = {
    import spark.implicits._
    def put(rel: String, txt: String): Unit = TreeFiles.write(outRoot, rel, txt.getBytes("UTF-8"))
    put(".zgroup", zgroup)
    put(".zattrs", zattrs)
    require(separator == "." || separator == "/",
      s"unsupported dimension_separator '$separator'")
    require(compressor == "zlib" || compressor == "gzip",
      s"unsupported compressor '$compressor'")
    for (c <- 0 until Channels) {
      put(s"c$c/.zgroup", zgroup)
      for (s <- 0 until Levels)
        put(s"c$c/s$s/.zarray", zarray(VoxelGrid.Grid >> s, separator, compressor))
    }
    graft.octree.Pyramid(VoxelGrid(spark, dir))
      // pyramid level L (1 = coarsest) lives in array s = Levels - L
      .select((lit(Levels.toLong) - col("level")).as("s"), col("c"),
        col("z"), col("y"), col("x"), col("v"))
      .as[(Long, Long, Long, Long, Long, Long)]
      .groupByKey(t => (t._2, t._1, t._3 / Leaf, t._4 / Leaf, t._5 / Leaf))
      .mapGroups { (key: (Long, Long, Long, Long, Long), it: Iterator[(Long, Long, Long, Long, Long, Long)]) =>
        val (c, s, gz, gy, gx) = key
        val vox = it.map(t => (t._3 % Leaf, t._4 % Leaf, t._5 % Leaf, t._6)).toSeq
        // chunk position in SHAPE order, flat file <gz>.<gy>.<gx> or
        // nested dirs <gz>/<gy>/<gx> per the separator
        (s"c$c/s$s/$gz$separator$gy$separator$gx", serializeChunk(vox, compressor))
      }
      .foreach { t => TreeFiles.write(outRoot, t._1, t._2) }
  }

  /** Extracts a JSON long-array field from `.zarray` text. Bounded
    * hand parse (same recipe as [[IngestDispatch]]'s n5Dims) — the
    * metadata is builder-shaped, not arbitrary JSON.
    */
  private[sources] def jsonLongs(txt: String, field: String): Seq[Long] =
    (s""""$field"\\s*:\\s*\\[([0-9,\\s]+)\\]""").r
      .findFirstMatchIn(txt).map(_.group(1).split(',').map(_.trim.toLong).toSeq)
      .getOrElse(throw new IllegalArgumentException(s"no $field in .zarray"))

  /** The parsed `.zarray` catalog: (c, s, bsZ, bsY, bsX, edge,
    * n_blocks) — one row per (channel, level), parsed from read-back
    * bytes. Spark's file index hides dot-files, so the O(levels ×
    * channels) metadata paths are enumerated driver-side (bounded,
    * like the container write) and the byte reads + parses run on
    * executors.
    */
  private def arrayMeta(spark: SparkSession, outRoot: String): DataFrame = {
    import spark.implicits._
    val paths = Option(new java.io.File(outRoot).listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.matches("c[0-9]+"))
      .flatMap(cd => Option(cd.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.matches("s[0-9]+"))
        .map(sd => (cd.getName.stripPrefix("c").toLong,
          sd.getName.stripPrefix("s").toLong, s"${sd.getPath}/.zarray")))
      .toSeq
    spark.createDataset(paths).repartition(math.max(1, paths.size))
      .map { case (c, s, p) =>
        val txt = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(p)), "UTF-8")
        val shape = jsonLongs(txt, "shape")
        val chunks = jsonLongs(txt, "chunks")
        val comp = """"compressor"\s*:\s*\{[^}]*"id"\s*:\s*"([a-z0-9]+)"""".r
          .findFirstMatchIn(txt).map(_.group(1))
          .getOrElse(throw new IllegalArgumentException("no compressor id in .zarray"))
        val nBlocks = shape.zip(chunks)
          .map { case (d, b) => (d + b - 1) / b }.product
        // shape is slowest-first; the volume is cubic so any axis is
        // the edge, but read index 0 (z) deliberately — an N5-style
        // fastest-first mixup would still pass on a cube, so the spec
        // pins a non-cubic decode separately
        (c, s, chunks(0), chunks(1), chunks(2), shape(0), nBlocks, comp)
      }
      .toDF("c", "s", "bsZ", "bsY", "bsX", "edge", "n_blocks", "compressor")
  }

  /** Every chunk of every (channel, level) decoded back to pyramid
    * voxels (level, c, z, y, x, v) purely from read-back bytes: grid
    * position from the `gz.gy.gx` file name, chunk shape from the
    * BROADCAST-joined `.zarray` metadata (Zarr chunks carry no header,
    * so the join is semantically required, not an optimization choice),
    * payload inflated and de-interleaved C-order. Zeros dropped; must
    * equal the arthur pyramid exactly (the oct_pyramid oracle).
    */
  def parseVoxels(spark: SparkSession, outRoot: String): DataFrame = {
    import spark.implicits._
    // flat "gz.gy.gx" files and nested "gz/gy/gx" dirs both match:
    // the three grid coordinates are the last three dot- or
    // slash-separated components
    TreeFiles.read(spark, outRoot,
        _.matches("c[0-9]+/s[0-9]+/[0-9]+[./][0-9]+[./][0-9]+"))
      .map { case (rel, bytes) =>
        val p = rel.split("[./]")
        (p(0).stripPrefix("c").toLong, p(1).stripPrefix("s").toLong,
          p(2).toLong, p(3).toLong, p(4).toLong, bytes)
      }
      .toDF("c", "s", "gz", "gy", "gx", "content")
      .join(broadcast(arrayMeta(spark, outRoot)), Seq("c", "s"))
      .select(col("s"), col("c"), col("gz"), col("gy"), col("gx"),
        col("bsZ"), col("bsY"), col("bsX"), col("compressor"), col("content"))
      .as[(Long, Long, Long, Long, Long, Long, Long, Long, String, Array[Byte])]
      .flatMap { case (s, c, gz, gy, gx, bsZl, bsYl, bsXl, comp, bytes) =>
        val (bsZ, bsY, bsX) = (bsZl.toInt, bsYl.toInt, bsXl.toInt)
        val rawLen = bsZ * bsY * bsX * 2
        val raw = comp match {
          case "zlib" => Zlib.inflate(bytes, rawLen)
          case "gzip" => Zlib.gunzip(bytes, rawLen)
          case other => throw new IllegalArgumentException(
            s"unsupported compressor '$other'")
        }
        val level = (Levels - s).toLong
        for {
          iz <- 0 until bsZ; iy <- 0 until bsY; ix <- 0 until bsX
          off = ((iz * bsY + iy) * bsX + ix) * 2
          v = ((raw(off) & 0xff) << 8) | (raw(off + 1) & 0xff)
          if v > 0
        } yield (level, c, gz * bsZ + iz, gy * bsY + iy, gx * bsX + ix, v.toLong)
      }
      .toDF("level", "c", "z", "y", "x", "v")
  }

  /** Level/channel discovery purely from read-back `.zarray` bytes —
    * the Zarr flavor of the `check_n5_channels` → `check_n5_levels`
    * probe chain: (level, c, edge, n_blocks) with n_blocks the full
    * chunk-grid cell count ⌈shape/chunks⌉ per axis. Shares
    * src_n5_discover's oracle verbatim.
    */
  def discoverLevels(spark: SparkSession, outRoot: String): DataFrame =
    arrayMeta(spark, outRoot)
      .select(col("s").as("level"), col("c"), col("edge"), col("n_blocks"))

  /** Root pixelResolution decoded from read-back `.zattrs` bytes
    * (`get_pixel_resolution_n5_zarr` tiff2octree.py:694 reads
    * `img.attrs['pixelResolution']` for either store flavor).
    */
  def pixelResolution(outRoot: String): Seq[Double] = {
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$outRoot/.zattrs")), "UTF-8")
    val m = """"dimensions":\[([^\]]*)\]""".r.findFirstMatchIn(txt)
    m.get.group(1).split(',').map(_.trim.toDouble).toSeq
  }
}
