package graft.octree

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{VoxelGrid, Zlib}

/** Physical `.tif` byte streams for the leaf blocks — the reference's
  * actual storage format, written and re-parsed at the byte level
  * (reference: tiff2octree.py:303 writes each octant's channel as
  * `default.{ch}.tif`, :315 `skimage.io.imsave(..., compression=
  * ("ZLIB", 6))` — a deflate-compressed multi-page z-stack; :281
  * `get_cropped_image_rasterio` is the read direction).
  *
  * [[writeBlocks]] serializes every occupied spatial block to one real
  * classic-TIFF file per channel (little-endian `II*\0` header, one
  * IFD per z-slice page with ascending-sorted tags, 16-bit grayscale,
  * Compression=8 Adobe-Deflate strips via `java.util.zip.Deflater` —
  * the JDK's public zlib, the same codec family the reference's ZLIB
  * option selects) under the octant directory layout. [[parseVoxels]]
  * re-derives the absolute voxel frame from nothing but read-back
  * bytes: walk the IFD chain, read the strip tags, `Inflater` the
  * payloads — so the oracle cross-checks bytes-on-disk against the
  * independent DuckDB derivation of the volume model.
  *
  * Serialization is per-(block,channel) `mapGroups` work on executors
  * and the read-back is one driver-side listing whose files are read
  * and decoded on executors ([[TreeFiles]]) — both sides spread over
  * every core; the local directory is the test harness for the byte
  * layout, exactly as in [[KtxBinary]].
  */
object TiffBinary {

  private val Leaf = VoxelGrid.Leaf
  private val Levels = VoxelGrid.Levels
  private val Channels = 2

  private def pathOf(bz: Long, by: Long, bx: Long): String =
    ((Levels - 2) to 0 by -1).map { lv =>
      def bit(b: Long) = ((b - 1) >> lv) & 1L
      (1L + bit(bx) + 2L * bit(by) + 4L * bit(bz)).toString
    }.mkString

  private def putU16(out: java.io.ByteArrayOutputStream, v: Int): Unit = {
    out.write(v & 0xff); out.write((v >> 8) & 0xff)
  }

  private def putU32(out: java.io.ByteArrayOutputStream, v: Long): Unit = {
    out.write((v & 0xff).toInt); out.write(((v >> 8) & 0xff).toInt)
    out.write(((v >> 16) & 0xff).toInt); out.write(((v >> 24) & 0xff).toInt)
  }

  private def getU16(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)

  private def getU32(b: Array[Byte], off: Int): Long =
    (b(off) & 0xffL) | ((b(off + 1) & 0xffL) << 8) |
      ((b(off + 2) & 0xffL) << 16) | ((b(off + 3) & 0xffL) << 24)

  /** A strip or tile payload, inflated to exactly `rawLen` bytes. */
  private[graft] def inflate(comp: Array[Byte], rawLen: Int): Array[Byte] =
    Zlib.inflate(comp, rawLen)

  // TIFF field types
  private val TShort = 3
  private val TLong = 4

  private def evenPad(b: Array[Byte]): Array[Byte] =
    if (b.length % 2 == 0) b else b :+ 0.toByte

  /** Serialize pages (dense row-major grids of one w×h page each) as a
    * classic multi-page strip TIFF: one deflate strip per page, each
    * compressed strip padded to EVEN length (folded into the offsets)
    * so the IFD chain starts word-aligned, as TIFF 6.0 requires.
    * Layout: 8-byte header, all compressed strips, then the IFD chain
    * (strip offsets known by then).
    */
  private[graft] def serializePages(pages: Seq[Array[Array[Long]]]): Array[Byte] = {
    val strips: Seq[Array[Byte]] = pages.map { page =>
      val raw = new java.io.ByteArrayOutputStream()
      for (row <- page; v <- row) putU16(raw, v.toInt)
      Zlib.deflate(raw.toByteArray, 6) // the reference's ZLIB level
    }
    val padded = strips.map(evenPad)
    val out = new java.io.ByteArrayOutputStream()
    out.write('I'); out.write('I'); putU16(out, 42)
    val stripOffs = padded.scanLeft(8L)(_ + _.length)
    putU32(out, stripOffs.last) // first IFD sits after all strip data
    padded.foreach(out.write)
    // one IFD per page: 10 ascending-sorted tags, 12 bytes each
    val ifdSize = 2 + 10 * 12 + 4
    def entry(tag: Int, typ: Int, value: Long): Unit = {
      putU16(out, tag); putU16(out, typ); putU32(out, 1L); putU32(out, value)
    }
    for (z <- pages.indices) {
      val (h, w) = (pages(z).length.toLong, pages(z).head.length.toLong)
      putU16(out, 10)
      entry(256, TLong, w)                       // ImageWidth
      entry(257, TLong, h)                       // ImageLength
      entry(258, TShort, 16L)                    // BitsPerSample
      entry(259, TShort, 8L)                     // Compression: Adobe Deflate
      entry(262, TShort, 1L)                     // Photometric: BlackIsZero
      entry(273, TLong, stripOffs(z))            // StripOffsets
      entry(277, TShort, 1L)                     // SamplesPerPixel
      entry(278, TLong, h)                       // RowsPerStrip
      entry(279, TLong, strips(z).length.toLong) // StripByteCounts (true length, pad excluded)
      entry(339, TShort, 1L)                     // SampleFormat: unsigned
      val next = if (z == pages.length - 1) 0L else stripOffs.last + (z + 1).toLong * ifdSize
      putU32(out, next)
    }
    out.toByteArray
  }

  /** Serialize one (block, channel) as a Leaf-page strip TIFF. */
  private[octree] def serialize(vox: Seq[(Long, Long, Long, Long)]): Array[Byte] = {
    val grid = Array.ofDim[Long](Leaf, Leaf, Leaf)
    vox.foreach { case (lz, ly, lx, v) => grid(lz.toInt)(ly.toInt)(lx.toInt) = v }
    serializePages((0 until Leaf).map(z =>
      Array.tabulate(Leaf, Leaf)((y, x) => grid(z)(y)(x))))
  }

  /** Serialize pages as a TILED multi-page TIFF (tags 322/323/324/325
    * in place of the strip tags — the layout `conv_tiled_tiff`
    * tiff2octree.py:516 restages inputs into so window reads stop
    * scanning whole rows). Each page splits into ⌈w/t⌉×⌈h/t⌉ deflate
    * tiles of t×t (TIFF 6.0: t a multiple of 16; edge tiles
    * zero-padded to full tile size BEFORE compression, per spec).
    * Multi-tile pages store the offset/count arrays out-of-line in an
    * arrays region between the tile data and the IFD chain; single-
    * tile pages inline them — both directions of the spec's
    * count-dependent value placement.
    */
  private[graft] def serializeTiledPages(pages: Seq[Array[Array[Long]]], t: Int): Array[Byte] = {
    require(t % 16 == 0, s"TIFF tile size must be a multiple of 16, got $t")
    // per page: the tile grid, row-major (ty, tx), each zero-padded t×t
    val pageTiles: Seq[Seq[Array[Byte]]] = pages.map { page =>
      val (h, w) = (page.length, page.head.length)
      val (nty, ntx) = ((h + t - 1) / t, (w + t - 1) / t)
      for (ty <- 0 until nty; tx <- 0 until ntx) yield {
        val raw = new java.io.ByteArrayOutputStream()
        for (dy <- 0 until t; dx <- 0 until t) {
          val (y, x) = (ty * t + dy, tx * t + dx)
          putU16(raw, if (y < h && x < w) page(y)(x).toInt else 0)
        }
        Zlib.deflate(raw.toByteArray, 6)
      }
    }
    val padded = pageTiles.map(_.map(evenPad))
    val out = new java.io.ByteArrayOutputStream()
    out.write('I'); out.write('I'); putU16(out, 42)
    // regions: [8, tile data][arrays][IFD chain]
    val tileOffs: Seq[Seq[Long]] = {
      var off = 8L
      padded.map(_.map { b => val o = off; off += b.length; o })
    }
    val dataEnd = 8L + padded.flatten.map(_.length.toLong).sum
    // out-of-line LONG arrays (only pages with >1 tile need them)
    val arrayBytes = padded.map(p => if (p.length > 1) 2L * 4 * p.length else 0L)
    val arrayOffs = arrayBytes.scanLeft(dataEnd)(_ + _)
    val ifd0 = arrayOffs.last
    val ifdSize = 2 + 11 * 12 + 4
    putU32(out, ifd0)
    padded.flatten.foreach(out.write)
    for (z <- pages.indices if padded(z).length > 1) {
      tileOffs(z).foreach(putU32(out, _))
      pageTiles(z).foreach(b => putU32(out, b.length.toLong))
    }
    def entry(tag: Int, typ: Int, count: Long, value: Long): Unit = {
      putU16(out, tag); putU16(out, typ); putU32(out, count); putU32(out, value)
    }
    for (z <- pages.indices) {
      val (h, w) = (pages(z).length.toLong, pages(z).head.length.toLong)
      val n = padded(z).length
      putU16(out, 11)
      entry(256, TLong, 1, w)                    // ImageWidth
      entry(257, TLong, 1, h)                    // ImageLength
      entry(258, TShort, 1, 16L)                 // BitsPerSample
      entry(259, TShort, 1, 8L)                  // Compression: Adobe Deflate
      entry(262, TShort, 1, 1L)                  // Photometric: BlackIsZero
      entry(277, TShort, 1, 1L)                  // SamplesPerPixel
      entry(322, TLong, 1, t.toLong)             // TileWidth
      entry(323, TLong, 1, t.toLong)             // TileLength
      if (n == 1) {
        entry(324, TLong, 1, tileOffs(z).head)   // TileOffsets (inline)
        entry(325, TLong, 1, pageTiles(z).head.length.toLong) // TileByteCounts
      } else {
        entry(324, TLong, n.toLong, arrayOffs(z))          // TileOffsets ->
        entry(325, TLong, n.toLong, arrayOffs(z) + 4L * n) // TileByteCounts ->
      }
      entry(339, TShort, 1, 1L)                  // SampleFormat: unsigned
      val next = if (z == pages.length - 1) 0L else ifd0 + (z + 1).toLong * ifdSize
      putU32(out, next)
    }
    out.toByteArray
  }

  /** Write every occupied spatial block as real `.tif` files —
    * `outRoot/<octant>/<octant>/default.<c>.tif`. A channel with no
    * voxels in the block is SKIPPED, exactly as the reference only
    * imsaves when `img_data.max() > 0` and logs "skipped (empty)"
    * otherwise (tiff2octree.py:312) — executor-side per-block
    * serialization.
    */
  def writeBlocks(spark: SparkSession, dir: String, outRoot: String): Unit = {
    import spark.implicits._
    Addressing.blockify(VoxelGrid(spark, dir))
      .select(col("bz"), col("by"), col("bx"), col("c"),
        col("lz"), col("ly"), col("lx"), col("v"))
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)]
      .groupByKey(t => (t._1, t._2, t._3))
      .flatMapGroups { (key: (Long, Long, Long), it: Iterator[(Long, Long, Long, Long, Long, Long, Long, Long)]) =>
        val byChannel = it.toSeq.groupBy(_._4)
        val rel = pathOf(key._1, key._2, key._3).map(_.toString).mkString("/")
        byChannel.toSeq.sortBy(_._1).map { case (c, vs) =>
          (s"$rel/default.$c.tif", serialize(vs.map(t => (t._5, t._6, t._7, t._8))))
        }
      }
      .foreach { t => TreeFiles.write(outRoot, t._1, t._2) }
  }

  /** Per-page metadata of one file's bytes, by walking the real IFD
    * chain: (page, width, length, bits, compression, stripOff, stripBytes).
    */
  private[graft] def decodePages(bytes: Array[Byte]): Seq[(Int, Long, Long, Long, Long, Long, Long)] = {
    require(bytes(0) == 'I' && bytes(1) == 'I' && getU16(bytes, 2) == 42, "bad TIFF header")
    var ifd = getU32(bytes, 4)
    val pages = Seq.newBuilder[(Int, Long, Long, Long, Long, Long, Long)]
    var page = 0
    while (ifd != 0L) {
      val n = getU16(bytes, ifd.toInt)
      val tags = (0 until n).map { i =>
        val e = ifd.toInt + 2 + i * 12
        getU16(bytes, e) -> getU32(bytes, e + 8)
      }.toMap
      pages += ((page, tags(256), tags(257), tags(258), tags(259), tags(273), tags(279)))
      page += 1
      ifd = getU32(bytes, ifd.toInt + 2 + n * 12)
    }
    pages.result()
  }

  /** The strip-TIFF pixel decode every reader shares: walk the IFD
    * chain, inflate each page's 16-bit deflate strip and return
    * `f(page, y, x, v)` for every non-zero pixel, in page, row and
    * column order. `f` has run on every pixel when this returns.
    */
  private[graft] def stripVoxels[T](bytes: Array[Byte])(f: (Int, Int, Int, Int) => T): Iterator[T] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[T]
    decodePages(bytes).foreach { case (z, w, h, bits, comp, off, nb) =>
      require(bits == 16 && comp == 8, s"unexpected page encoding ($bits, $comp)")
      val (wi, n) = (w.toInt, (w * h).toInt)
      val raw = inflate(bytes.slice(off.toInt, (off + nb).toInt), 2 * n)
      var i = 0
      while (i < n) {
        val v = getU16(raw, 2 * i)
        if (v > 0) out += f(z, i / wi, i % wi, v)
        i += 1
      }
    }
    out.iterator
  }

  /** Per-page dense rasters of one TILED file's bytes: walk the IFD
    * chain, read the tile tags — including count>1 TileOffsets /
    * TileByteCounts stored as out-of-line LONG arrays — inflate each
    * tile and composite it into the page raster, clipping the
    * zero-padded edge-tile region back off.
    */
  private[graft] def decodeTiledPages(bytes: Array[Byte]): Seq[Array[Array[Long]]] = {
    require(bytes(0) == 'I' && bytes(1) == 'I' && getU16(bytes, 2) == 42, "bad TIFF header")
    var ifd = getU32(bytes, 4)
    val pages = Seq.newBuilder[Array[Array[Long]]]
    while (ifd != 0L) {
      val n = getU16(bytes, ifd.toInt)
      val tags = (0 until n).map { i =>
        val e = ifd.toInt + 2 + i * 12
        getU16(bytes, e) -> ((getU32(bytes, e + 4), getU32(bytes, e + 8)))
      }.toMap
      val (w, h) = (tags(256)._2.toInt, tags(257)._2.toInt)
      require(tags(258)._2 == 16L && tags(259)._2 == 8L,
        s"unexpected tiled page encoding (${tags(258)._2}, ${tags(259)._2})")
      val t = tags(322)._2.toInt
      require(tags(323)._2.toInt == t, "non-square tiles unexpected")
      def longArr(tag: Int): Seq[Long] = {
        val (cnt, v) = tags(tag)
        if (cnt == 1L) Seq(v)
        else (0 until cnt.toInt).map(i => getU32(bytes, (v + 4L * i).toInt))
      }
      val offs = longArr(324); val cnts = longArr(325)
      val ntx = (w + t - 1) / t
      val page = Array.ofDim[Long](h, w)
      offs.zip(cnts).zipWithIndex.foreach { case ((o, c), ti) =>
        val raw = inflate(bytes.slice(o.toInt, (o + c).toInt), t * t * 2)
        val (ty, tx) = (ti / ntx, ti % ntx)
        for (dy <- 0 until t; dx <- 0 until t) {
          val (y, x) = (ty * t + dy, tx * t + dx)
          if (y < h && x < w) page(y)(x) = getU16(raw, (dy * t + dx) * 2).toLong
        }
      }
      pages += page
      ifd = getU32(bytes, ifd.toInt + 2 + n * 12)
    }
    pages.result()
  }

  /** `conv_tiled_tiff` (tiff2octree.py:516) at the byte level: decode
    * a strip TIFF's pages and re-serialize them under the tiled
    * layout. Pure bytes → bytes, so it runs per-file on executors.
    */
  private[graft] def convTiled(bytes: Array[Byte], t: Int): Array[Byte] = {
    val pages = decodePages(bytes).map(p => Array.ofDim[Long](p._3.toInt, p._2.toInt))
    stripVoxels(bytes)((z, y, x, v) => pages(z)(y)(x) = v.toLong): Unit
    serializeTiledPages(pages, t)
  }

  /** Rewrite every strip `.tif` under `stripRoot` as a tiled TIFF at
    * the same relative path under `tiledRoot` — per-file conversion on
    * executors over the [[TreeFiles]] listing, the restaging pass
    * `conv_tiled_tiffs` (tiff2octree.py:553) runs over its input list.
    */
  def convTiledDir(spark: SparkSession, stripRoot: String, tiledRoot: String, t: Int): Unit =
    files(spark, stripRoot).foreach { case (rel, bytes) =>
      TreeFiles.write(tiledRoot, rel, convTiled(bytes, t))
    }

  private def files(spark: SparkSession, outRoot: String) =
    TreeFiles.read(spark, outRoot, _.endsWith(".tif"))

  /** (channel, 0-based bz, by, bx) of a leaf file from its
    * tree-relative path: the octant directory names and the
    * reference's `default.<c>.tif` naming.
    */
  private def blockOf(rel: String): (Long, Long, Long, Long) = {
    val (_, bz, by, bx, name) = OctreePipeline.blockOfPath(rel)
    (name.stripPrefix("default.").stripSuffix(".tif").toLong, bz, by, bx)
  }

  /** Absolute voxels (c, z, y, x, v) decoded purely from read-back
    * file bytes (IFD walk + strip inflate), zeros dropped — must equal
    * the source [[VoxelGrid]] exactly. Block coords come from the
    * octant directory names, the channel from the reference's
    * `default.<c>.tif` naming. The frame carries no order: every
    * consumer groups or sorts for itself.
    */
  def parseVoxels(spark: SparkSession, outRoot: String): DataFrame = {
    import spark.implicits._
    files(spark, outRoot)
      .flatMap { case (rel, bytes) =>
        val (c, bz, by, bx) = blockOf(rel)
        stripVoxels(bytes)((z, y, x, v) =>
          (c, bz * Leaf + z, by * Leaf + y, bx * Leaf + x, v.toLong))
      }
      .toDF("c", "z", "y", "x", "v")
  }

  /** [[parseVoxels]] for the TILED layout: same naming and coordinate
    * conventions, pages decoded through the tile directory instead of
    * the strip tags — must equal the strip parse exactly.
    */
  def parseVoxelsTiled(spark: SparkSession, outRoot: String): DataFrame = {
    import spark.implicits._
    files(spark, outRoot)
      .flatMap { case (rel, bytes) =>
        val (c, bz, by, bx) = blockOf(rel)
        decodeTiledPages(bytes).zipWithIndex.flatMap { case (page, z) =>
          for {
            y <- page.indices; x <- page(y).indices
            v = page(y)(x)
            if v > 0
          } yield (c, bz * Leaf + z, by * Leaf + y, bx * Leaf + x, v)
        }
      }
      .toDF("c", "z", "y", "x", "v")
  }
}
