package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.VoxelGrid
import graft.octree.{TiffBinary, TreeFiles}

/** The reference's multi-format ingest DISPATCH (tiff2octree.py main
  * :1279-1311): input dirs are probed as N5/Zarr first
  * (`check_n5_channels` :728 → `check_n5_levels` :711), fall back to
  * slice dirs of `.tif`/`.jp2` files (`slice_to_dask_array` :653,
  * metadata from the FIRST file's header only :667-677), and input
  * FILES are multi-page stacks (`stack_to_dask_array` :628); when the
  * caller passes no level count, `calc_optimal_nlevels` :621 grows it
  * until a leaf block is under 512³ after `adjust_dimensions` :612
  * trims each axis to a multiple of 2^levels.
  *
  * Re-expressed Spark-first: [[stageAll]] writes one volume through
  * every physical arm (multi-page strip TIFF stacks via
  * [[TiffBinary]], per-z single-page `.tif` and `.jp2`
  * slice dirs, an [[N5Binary]] container), and [[discover]] runs the
  * dispatch chain per input PURELY from read-back bytes, emitting one
  * catalog row per input. Sniffing is header-bounded by design — the
  * TIFF arm walks the IFD chain through a `RandomAccessFile` without
  * touching strip data, the JP2 arm reads only the leading header
  * boxes, N5 reads only `attributes.json` — so a catalog row costs
  * O(IFD chain), not O(payload), exactly what a 1000-executor
  * dispatch over a 100 TB volume needs. Each input sniffs
  * independently in parallel (`mapPartitions` over the input list);
  * no driver-side IO.
  *
  * JPEG2000 pixel DECODE (reference `get_image` :532, glymur) is —
  * since r8 — the real [[Jp2Codec]] entropy decoder behind
  * [[Jp2Binary.decode]] (see [[parseJp2Voxels]]); the dispatch sniff
  * itself still reads only the header boxes.
  */
object IngestDispatch {

  private val Grid = VoxelGrid.Grid
  private val Levels = VoxelGrid.Levels
  private val Channels = 2

  /** `adjust_dimensions` (tiff2octree.py:612): trim each axis down to
    * a multiple of 2^nlevels.
    */
  def adjustDimensions(dim: Seq[Long], nlevels: Int): Seq[Long] =
    dim.map(d => d - d % (1L << nlevels))

  /** `calc_optimal_nlevels` (tiff2octree.py:621): the smallest level
    * count whose leaf block volume is under 512³.
    */
  def calcOptimalNlevels(dim0: Seq[Long]): Int = {
    var lv = 1
    var dim = dim0
    while ({
      dim = adjustDimensions(dim, lv)
      val leaf = dim.map(_ >> (lv - 1))
      if (leaf.product < 512L * 512L * 512L) false else { lv += 1; true }
    }) ()
    lv
  }

  /** One dispatch catalog row. */
  final case class IngestInput(input: String, arm: String, fmt: String,
      n_inputs: Long, dim_z: Long, dim_y: Long, dim_x: Long,
      spp: Long, bits: Long, nlevels_auto: Long,
      leaf_z: Long, leaf_y: Long, leaf_x: Long)

  // ---------------------------------------------------------------- staging

  /** Dense per-channel voxel tuples with one (c, z) SENTINEL row per
    * slice (v=0, never rasterized), so empty z-slices still write a
    * file — slice dirs hold every captured plane. Keeps staging
    * per-slice `groupByKey` work on executors.
    */
  private def withSliceSentinels(spark: SparkSession, dir: String): DataFrame = {
    val vox = VoxelGrid(spark, dir)
    val sent = spark.range(Channels.toLong * Grid)
      .select((col("id") / Grid).cast("long").as("c"),
        (col("id") % Grid).cast("long").as("z"),
        lit(0L).as("y"), lit(0L).as("x"), lit(0L).as("v"))
    vox.unionByName(sent)
  }

  /** Stage the slice-dir arms: one single-page file per (channel, z) —
    * `slices_tif/ch{c}/z%04d.tif` for both channels plus
    * `slices_jp2/ch0/z%04d.jp2` — one executor task per slice.
    */
  def stageSlices(spark: SparkSession, dir: String, root: String): Unit = {
    import spark.implicits._
    withSliceSentinels(spark, dir)
      .select(col("c"), col("z"), col("y"), col("x"), col("v"))
      .as[(Long, Long, Long, Long, Long)]
      .groupByKey(t => (t._1, t._2))
      .flatMapGroups { (key: (Long, Long), it: Iterator[(Long, Long, Long, Long, Long)]) =>
        val page = Array.ofDim[Long](Grid, Grid)
        it.foreach { case (_, _, y, x, v) => if (v > 0) page(y.toInt)(x.toInt) = v }
        val (c, z) = key
        val tif = (s"slices_tif/ch$c/z${"%04d".format(z)}.tif",
          TiffBinary.serializePages(Seq(page)))
        if (c == 0L)
          Seq(tif, (s"slices_jp2/ch0/z${"%04d".format(z)}.jp2", Jp2Binary.serialize(page)))
        else Seq(tif)
      }
      .foreach { t => TreeFiles.write(root, t._1, t._2) }
  }

  /** Stage the stack arm: all z-pages of one channel in one
    * `stack/ch{c}.tif` — a stack is by nature a single-file serial
    * container, so each channel is one executor task.
    */
  def stageStacks(spark: SparkSession, dir: String, root: String): Unit = {
    import spark.implicits._
    withSliceSentinels(spark, dir)
      .select(col("c"), col("z"), col("y"), col("x"), col("v"))
      .as[(Long, Long, Long, Long, Long)]
      .groupByKey(_._1)
      .mapGroups { (c: Long, it: Iterator[(Long, Long, Long, Long, Long)]) =>
        val grid = Array.ofDim[Long](Grid, Grid, Grid)
        it.foreach { case (_, z, y, x, v) => if (v > 0) grid(z.toInt)(y.toInt)(x.toInt) = v }
        (s"stack/ch$c.tif", TiffBinary.serializePages(
          (0 until Grid).map(z => Array.tabulate(Grid, Grid)((y, x) => grid(z)(y)(x)))))
      }
      .foreach { t => TreeFiles.write(root, t._1, t._2) }
  }

  /** Stage the same volume through EVERY input arm under `root`:
    * slice dirs, stacks, the `n5/` [[N5Binary]] container, and the
    * `zarr/` [[ZarrBinary]] container.
    *
    * The five arms are INDEPENDENT writes to disjoint subdirs, and
    * each is a small job whose tail leaves most cores idle — so they
    * are submitted from a thread pool and overlap (guide §2.6): the
    * scheduler back-fills one arm's stragglers with the next arm's
    * tasks. Wall time ≈ slowest arm, not the sum of five.
    */
  def stageAll(spark: SparkSession, dir: String, root: String): Unit = {
    val arms: Seq[() => Unit] = Seq(
      () => stageSlices(spark, dir, root),
      () => stageStacks(spark, dir, root),
      () => N5Binary.writeContainer(spark, dir, s"$root/n5"),
      () => ZarrBinary.writeContainer(spark, dir, s"$root/zarr"),
      () => Zarr3Binary.writeContainer(spark, dir, s"$root/zarr3"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    try {
      val futures = arms.map(a => pool.submit(new java.util.concurrent.Callable[Unit] {
        override def call(): Unit = a()
      }))
      futures.foreach(_.get()) // rethrows the first arm failure
    } finally pool.shutdown()
  }

  // ---------------------------------------------------------------- sniffing

  /** Header-bounded TIFF sniff: walk the IFD chain via random access,
    * reading ONLY the 8-byte header and each IFD's entry table —
    * never strip payloads. Returns (pages, width, height, bits, spp).
    */
  private def sniffTiff(path: String): (Long, Long, Long, Long, Long) = {
    val raf = new java.io.RandomAccessFile(path, "r")
    try {
      def readAt(off: Long, n: Int): Array[Byte] = {
        val b = new Array[Byte](n); raf.seek(off); raf.readFully(b); b
      }
      def u16(b: Array[Byte], o: Int) = (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
      def u32(b: Array[Byte], o: Int) = (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
        ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)
      val head = readAt(0L, 8)
      require(head(0) == 'I' && head(1) == 'I' && u16(head, 2) == 42, s"bad TIFF header: $path")
      var ifd = u32(head, 4)
      var pages = 0L
      var (w, h, bits, spp) = (0L, 0L, 0L, 1L)
      while (ifd != 0L) {
        val n = u16(readAt(ifd, 2), 0)
        val tab = readAt(ifd + 2, n * 12 + 4)
        if (pages == 0L) (0 until n).foreach { i =>
          val tag = u16(tab, i * 12); val v = u32(tab, i * 12 + 8)
          tag match {
            case 256 => w = v
            case 257 => h = v
            case 258 => bits = v
            case 277 => spp = v
            case _ => ()
          }
        }
        pages += 1
        ifd = u32(tab, n * 12)
      }
      (pages, w, h, bits, spp)
    } finally raf.close()
  }

  /** Header-bounded JP2 sniff: only the leading header boxes are read
    * (signature, ftyp, jp2h, the codestream SIZ) — never the entropy
    * payload.
    */
  private def sniffJp2(path: String): Jp2Binary.Jp2Header = {
    val in = new java.io.FileInputStream(path)
    try Jp2Binary.parseHeader(in.readNBytes(4096))
    finally in.close()
  }

  /** Minimal executor-side parse of a Zarr `.zarray`: (shape
    * slowest-first, bits). Zarr dtype strings are
    * `[<>|](u?int marker)(bytes)` — e.g. `">u2"` = big-endian uint16.
    */
  private def zarrDims(zarrayPath: String): (Seq[Long], Long) = {
    val s = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(zarrayPath)), "UTF-8")
    val shape = """"shape"\s*:\s*\[([0-9,\s]+)\]""".r
      .findFirstMatchIn(s).map(_.group(1).split(',').map(_.trim.toLong).toSeq)
      .getOrElse(throw new IllegalArgumentException(s"no shape in $zarrayPath"))
    val bits = """"dtype"\s*:\s*"[<>|]?[uif](\d+)"""".r
      .findFirstMatchIn(s).map(_.group(1).toLong * 8)
      .getOrElse(throw new IllegalArgumentException(s"no dtype in $zarrayPath"))
    (shape, bits)
  }

  /** Minimal executor-side parse of a Zarr v3 array `zarr.json`:
    * (shape slowest-first, bits). v3 data types are plain names —
    * `"uint16"` etc.
    */
  private def zarr3Dims(docPath: String): (Seq[Long], Long) = {
    val s = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(docPath)), "UTF-8")
    require(s.contains(""""zarr_format":3"""), s"not a v3 document: $docPath")
    val shape = """"shape"\s*:\s*\[([0-9,\s]+)\]""".r
      .findFirstMatchIn(s).map(_.group(1).split(',').map(_.trim.toLong).toSeq)
      .getOrElse(throw new IllegalArgumentException(s"no shape in $docPath"))
    val bits = """"data_type"\s*:\s*"(?:u?int|float)(\d+)"""".r
      .findFirstMatchIn(s).map(_.group(1).toLong)
      .getOrElse(throw new IllegalArgumentException(s"no data_type in $docPath"))
    (shape, bits)
  }

  /** Minimal executor-side parse of an N5 dataset attributes.json. */
  private def n5Dims(attrPath: String): (Seq[Long], Long) = {
    val s = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(attrPath)), "UTF-8")
    val dims = """"dimensions"\s*:\s*\[([0-9,\s]+)\]""".r
      .findFirstMatchIn(s).map(_.group(1).split(',').map(_.trim.toLong).toSeq)
      .getOrElse(throw new IllegalArgumentException(s"no dimensions in $attrPath"))
    val bits = """"dataType"\s*:\s*"u?int(\d+)"""".r
      .findFirstMatchIn(s).map(_.group(1).toLong)
      .getOrElse(throw new IllegalArgumentException(s"no dataType in $attrPath"))
    (dims, bits)
  }

  /** The dispatch chain for one input (dir or file), from bytes only. */
  private def sniff(root: String, rel: String): IngestInput = {
    val f = new java.io.File(s"$root/$rel")
    def catalog(arm: String, fmt: String, nIn: Long, dim: Seq[Long],
        spp: Long, bits: Long): IngestInput = {
      val leaf = adjustDimensions(dim, Levels).map(_ >> (Levels - 1))
      IngestInput(rel, arm, fmt, nIn, dim(0), dim(1), dim(2), spp, bits,
        calcOptimalNlevels(dim).toLong, leaf(0), leaf(1), leaf(2))
    }
    if (f.isFile) {
      // stack arm (reference: infiles → stack_to_dask_array)
      val (pages, w, h, bits, spp) = sniffTiff(f.getPath)
      catalog("stack", "tif", 1L, Seq(pages, h, w), spp, bits)
    } else {
      // Zarr v3 probe FIRST (a `zarr.json` array doc under a channel
      // group is unambiguous — v3 readers check the v3 document
      // before v2 metadata), then plain v2 Zarr — the reference tries
      // zarr.open(indir) before falling back to zarr.N5Store
      // (tiff2octree.py:764-767)
      val z3Ch = (0 until 10).map(i => new java.io.File(f, s"c$i/s0/zarr.json"))
        .filter(_.isFile)
      val zarrSelf = new java.io.File(f, ".zarray")
      val zarrCh = (0 until 10).map(i => new java.io.File(f, s"c$i/s0/.zarray"))
        .filter(_.isFile)
      // N5 second (reference: check_n5_channels → n5_zarr_to_dask_array)
      val selfS0 = new java.io.File(f, "s0/attributes.json")
      val chDirs = (0 until 10).map(i => new java.io.File(f, s"c$i/s0/attributes.json"))
        .filter(_.isFile)
      if (z3Ch.nonEmpty) {
        val (shapeZYX, bits) = zarr3Dims(z3Ch.head.getPath)
        // v3 shape is slowest-first like v2 — already catalog order
        catalog("zarr3", "zarr3", z3Ch.size.toLong, shapeZYX, 1L, bits)
      } else if (zarrSelf.isFile || zarrCh.nonEmpty) {
        val first = if (zarrSelf.isFile) zarrSelf else zarrCh.head
        val (shapeZYX, bits) = zarrDims(first.getPath)
        // Zarr shape is slowest-first (z, y, x) — already catalog order
        catalog("zarr", "zarr", if (zarrSelf.isFile) 1L else zarrCh.size.toLong,
          shapeZYX, 1L, bits)
      } else if (selfS0.isFile || chDirs.nonEmpty) {
        val first = if (selfS0.isFile) selfS0 else chDirs.head
        val (dimsXYZ, bits) = n5Dims(first.getPath)
        // N5 dimensions are fastest-first (x, y, z); catalog is (z, y, x)
        catalog("n5", "n5", if (selfS0.isFile) 1L else chDirs.size.toLong,
          dimsXYZ.reverse, 1L, bits)
      } else {
        // slice dir: .tif/.jp2 files, metadata from the FIRST (sorted)
        val files = Option(f.list()).getOrElse(Array.empty[String])
          .filter(n => n.endsWith(".tif") || n.endsWith(".jp2")).sorted
        require(files.nonEmpty, s"no ingestable files under $rel")
        val first = s"${f.getPath}/${files.head}"
        if (files.head.endsWith(".tif")) {
          val (_, w, h, bits, spp) = sniffTiff(first)
          catalog("slices", "tif", files.length.toLong,
            Seq(files.length.toLong, h, w), spp, bits)
        } else {
          val hd = sniffJp2(first)
          catalog("slices", "jp2", files.length.toLong,
            Seq(files.length.toLong, hd.height, hd.width), hd.nc.toLong, hd.bits.toLong)
        }
      }
    }
  }

  /** The catalog: one row per input, sniffed in parallel on executors. */
  def discover(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val inputs = Seq("n5", "slices_jp2/ch0", "slices_tif/ch0",
      "stack/ch0.tif", "stack/ch1.tif", "zarr", "zarr3")
    spark.createDataset(inputs).repartition(inputs.size)
      .map(rel => sniff(root, rel))
      .toDF()
  }

  // ---------------------------------------------------------------- slice ingest

  /** The slice-dir READ direction (`gen_highest_resolution_blocks_from
    * _slices` :1024 sorts the files and assigns z by position): the
    * staged `.tif` slices of both channels read through [[TreeFiles]],
    * each file decoded from bytes alone — channel from the `ch{c}` dir
    * name, z from the sorted `z%04d` file name — must reproduce
    * [[VoxelGrid]] exactly. The frames of this and the other two parse
    * functions carry no order: every consumer groups or sorts for
    * itself.
    */
  def parseSliceVoxels(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    TreeFiles.read(spark, s"$root/slices_tif", _.endsWith(".tif"))
      .flatMap { case (rel, bytes) =>
        val parts = rel.split('/')
        val c = parts(parts.length - 2).stripPrefix("ch").toLong
        val z = parts.last.stripPrefix("z").stripSuffix(".tif").toLong
        TiffBinary.stripVoxels(bytes)((_, y, x, v) => (c, z, y.toLong, x.toLong, v.toLong))
      }
      .toDF("c", "z", "y", "x", "v")
  }

  /** The STACK read direction (`stack_to_dask_array`
    * tiff2octree.py:628: one multi-page TIFF per channel, z = page
    * index): the staged `stack/ch{c}.tif` files read through
    * [[TreeFiles]], every page decoded from bytes alone.
    * A stack is an inherently serial container — one file = one task
    * — which is exactly why the reference (and this engine) prefer
    * slice dirs and chunked containers at scale; the arm exists
    * because users arrive with stacks. Must reproduce [[VoxelGrid]]
    * exactly.
    */
  def parseStackVoxels(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    TreeFiles.read(spark, s"$root/stack", _.endsWith(".tif"))
      .flatMap { case (rel, bytes) =>
        val c = rel.split('/').last.stripPrefix("ch").stripSuffix(".tif").toLong
        TiffBinary.stripVoxels(bytes)((z, y, x, v) =>
          (c, z.toLong, y.toLong, x.toLong, v.toLong))
      }
      .toDF("c", "z", "y", "x", "v")
  }

  /** The `.jp2` slice READ direction — the role `get_image`
    * (tiff2octree.py:532, glymur) plays in the reference: the staged
    * channel-0 `.jp2` slices read through [[TreeFiles]], each file's
    * pixels decoded from bytes alone through the
    * REAL [[Jp2Codec]] entropy decoder (MQ + EBCOT), z from the
    * sorted file name; must reproduce the channel-0 [[VoxelGrid]]
    * exactly.
    */
  def parseJp2Voxels(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    TreeFiles.read(spark, s"$root/slices_jp2", _.endsWith(".jp2"))
      .flatMap { case (rel, bytes) =>
        val parts = rel.split('/')
        val c = parts(parts.length - 2).stripPrefix("ch").toLong
        val z = parts.last.stripPrefix("z").stripSuffix(".jp2").toLong
        val page = Jp2Binary.decode(bytes)
        for {
          y <- page.indices; x <- page(y).indices
          v = page(y)(x)
          if v > 0
        } yield (c, z, y.toLong, x.toLong, v)
      }
      .toDF("c", "z", "y", "x", "v")
  }
}
