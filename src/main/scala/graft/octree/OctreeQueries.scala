package graft.octree

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Scratch
import graft.{Tables, VoxelGrid}

/** Driver-contract entry points for every octree operator in
  * SURVEY.md §2.1: each takes (spark, sfDir) and produces the
  * deterministic, oracle-comparable result frame.
  */
object OctreeQueries {

  private def vox(spark: SparkSession, dir: String) = VoxelGrid(spark, dir)

  def blockify(spark: SparkSession, dir: String): DataFrame =
    Addressing.blockify(vox(spark, dir)).orderBy("c", "z", "y", "x")

  def path(spark: SparkSession, dir: String): DataFrame =
    Addressing.blockPaths(vox(spark, dir))

  def optimalLevels(spark: SparkSession, dir: String): DataFrame = {
    val dims = Tables(spark, dir, "orders")
      .filter(col("o_orderkey") % 97 === 0)
      .select(col("o_orderkey").cast("long").as("id"),
        (col("o_orderkey") % 4000 + 600).cast("long").as("dz"),
        (col("o_custkey") % 3000 + 500).cast("long").as("dy"),
        (col("o_orderkey") % 2500 + 400).cast("long").as("dx"))
    Addressing.optimalLevels(dims)
  }

  def mipmapDims(spark: SparkSession, dir: String): DataFrame =
    Addressing.mipmapDims(VoxelGrid.Grid, VoxelGrid.Grid, VoxelGrid.Grid)(spark)

  /** oct_adjust_dims — tiff2octree.py:611 `adjust_dimensions` as its
    * own oracle row: each candidate dim triple shrunk to a multiple of
    * 2^lv across a sweep of level counts (the closed form of the
    * reference's decrement loop).
    */
  def adjustDims(spark: SparkSession, dir: String): DataFrame = {
    val dims = Tables(spark, dir, "orders")
      .filter(col("o_orderkey") % 97 === 0)
      .select(col("o_orderkey").cast("long").as("id"),
        (col("o_orderkey") % 4000 + 600).cast("long").as("dz"),
        (col("o_custkey") % 3000 + 500).cast("long").as("dy"),
        (col("o_orderkey") % 2500 + 400).cast("long").as("dx"))
    dims.withColumn("lv", explode(sequence(lit(1), lit(6))))
      .select(col("id"), col("lv").cast("long").as("lv"),
        col("dz"), col("dy"), col("dx"),
        Addressing.adjustDim("dz", "lv").as("adj_dz"),
        Addressing.adjustDim("dy", "lv").as("adj_dy"),
        Addressing.adjustDim("dx", "lv").as("adj_dx"))
      .orderBy("id", "lv")
  }

  def down(kernel: String)(spark: SparkSession, dir: String): DataFrame =
    Downsample(vox(spark, dir), kernel).orderBy("c", "z", "y", "x")

  def downLinear(spark: SparkSession, dir: String): DataFrame =
    Downsample.linear(vox(spark, dir), VoxelGrid.Grid).orderBy("c", "z", "y", "x")

  def downAa(spark: SparkSession, dir: String): DataFrame =
    Downsample.aa(vox(spark, dir)).orderBy("c", "z", "y", "x")

  def downSpline3(spark: SparkSession, dir: String): DataFrame =
    Downsample.spline3(vox(spark, dir)).orderBy("c", "z", "y", "x")

  def downXY(spark: SparkSession, dir: String): DataFrame =
    Downsample(vox(spark, dir), "arthur", xyOnly = true).orderBy("c", "z", "y", "x")

  def pyramid(spark: SparkSession, dir: String): DataFrame =
    Pyramid(vox(spark, dir))

  /** Deterministic late-arriving slice for [[pyramidDelta]] (~9% of
    * voxels): the incremental path must reconstruct the full pyramid
    * around it.
    */
  private def deltaPred =
    (col("z") * 3 + col("y") * 5 + col("x") * 7 + col("c")) % 11 === 0

  def pyramidDelta(spark: SparkSession, dir: String): DataFrame = {
    val v = vox(spark, dir)
    Pyramid.incremental(v.filter(!deltaPred), v.filter(deltaPred))
  }

  def emptyPrune(spark: SparkSession, dir: String): DataFrame =
    Pyramid.emptyPrune(spark, vox(spark, dir))

  def resume(spark: SparkSession, dir: String): DataFrame =
    Pyramid.resumeRemaining(vox(spark, dir))

  def interleave(spark: SparkSession, dir: String): DataFrame =
    Pyramid.interleave(vox(spark, dir))

  def blockStats(spark: SparkSession, dir: String): DataFrame =
    Pyramid.blockStats(vox(spark, dir))

  def histogram(spark: SparkSession, dir: String): DataFrame =
    Intensity.histogram(vox(spark, dir))

  def percentiles(spark: SparkSession, dir: String): DataFrame =
    Intensity.percentiles(vox(spark, dir))

  def intensityParams(spark: SparkSession, dir: String): DataFrame =
    Intensity.downsampleParams(vox(spark, dir))

  def rescaleU8(spark: SparkSession, dir: String): DataFrame =
    Intensity.rescaleU8(vox(spark, dir))

  /** KTX artifact naming of ktx_from_rendered_tiff / tiff2octree.py:477
    * (`'block' + '_8' + '_xy' + '_' + path + '.ktx'`, octant dirs
    * joined by '/'): the sink-layout op for the KTX export path.
    */
  def ktxName(spark: SparkSession, dir: String): DataFrame =
    Addressing.blockPaths(vox(spark, dir))
      .select(col("c"), col("bz"), col("by"), col("bx"),
        concat(substring(col("path"), 1, 1), lit("/"), substring(col("path"), 2, 1)).as("relpath"),
        concat(lit("block_8_xy_"), col("path"), lit(".ktx")).as("ktx_name"))
      .orderBy("c", "bz", "by", "bx")

  /** oct_ktx_header — per-block KTX container metadata: the 13-field
    * binary header of `KtxHeader.write_stream` (ktx/__init__.py:320;
    * field population `populate_from_array_params` :160 — uint16
    * 2-channel leaf blocks → GL_UNSIGNED_SHORT/GL_RG/GL_RG16), the
    * deterministic key-value section byte count (`__setitem__` :151
    * appends NUL, entries pad to 4; the date/program/stats keys are
    * per-run strings and excluded), and one row per mip level with the
    * OpenGL mip chain dims (ktx/util.py:34), imageSize bytes and the
    * byte offset of each mip's length field (`KtxImageData
    * .write_stream` :377: 4-byte size + data + pad-to-4) — everything
    * a sink needs to lay out the exact .ktx byte stream, joinable to
    * [[ktxName]] on (bz,by,bx).
    */
  /** (mip, dim, imageSize-bytes, prior-bytes) rows of the KTX mip
    * chain — per-axis max(1, leaf>>m), imageSize = voxels·ch·tsize,
    * prior = bytes of all preceding (sizeField + data + pad) blocks —
    * plus the total image-data byte count. Shared by the write-layout
    * [[ktxHeader]] and its read-direction inverse [[ktxParse]].
    */
  private[octree] def mipChain(leaf: Int, channels: Long,
      tsize: Long): (Seq[(Long, Long, Long, Long, Long, Long)], Long) = {
    val nMips = 31 - Integer.numberOfLeadingZeros(leaf) + 1
    var acc = 0L // bytes of all (sizeField + data + pad) before this mip
    val rows = (0 until nMips).map { m =>
      val d = math.max(1, leaf >> m).toLong
      val bytes = d * d * d * channels * tsize
      val row = (m.toLong, d, d, d, bytes, acc)
      acc += 4 + bytes + (3 - ((bytes + 3) % 4))
      row
    }
    (rows, acc)
  }

  def ktxHeader(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val leaf = VoxelGrid.Leaf
    val (glType, glTypeSize, glFormat, glInternal) = (5123L, 2L, 33319L, 33324L) // GL_UNSIGNED_SHORT, GL_RG, GL_RG16
    val channels = 2L
    val (mipSeq, dataBytes) = mipChain(leaf, channels, glTypeSize)
    val nMips = mipSeq.size
    val mipDf = mipSeq.toDF("mip", "mz", "my", "mx", "mip_bytes", "prior_bytes")
    // key-value entry: 4-byte size + key\0 + value\0, padded to 4
    def kvEntry(keyLen: Long, valLen: Long): Long = {
      val size = keyLen + 1 + valLen + 1
      4 + size + (3 - ((size + 3) % 4))
    }
    // key/value lengths derive from the SAME literal strings
    // KtxBinary.serialize writes (never hand-counted integers — a
    // hand-counted 22 for the 23-char multiscale_total_levels key was
    // masked by the 4-byte padding until r7)
    val kvConst = KtxBinary.staticKv(VoxelGrid.Levels, channels.toInt)
      .map { case (k, v) => kvEntry(k.length.toLong, v.length.toLong) }.sum
    // octree_path entry depends on the block's path length (digits
    // joined by '/': value length 2L-1, plus the appended NUL)
    val pathSize = lit(KtxBinary.OctreePathKey.length.toLong + 1L) +
      length(col("path")).cast("long") * 2
    val kvBytes = (lit(kvConst + 4L) + pathSize +
      (lit(3L) - (pathSize + 3) % 4)).as("kv_bytes")
    // one KTX file per spatial block: channels are interleaved into
    // the same container (ktx/util.py:242), so the key drops c
    val blocks = Addressing.blockPaths(vox(spark, dir))
      .groupBy("bz", "by", "bx", "path")
      .agg(count(lit(1)).as("n_channels_present"))
    blocks
      .withColumn("gl_type", lit(glType)).withColumn("gl_type_size", lit(glTypeSize))
      .withColumn("gl_format", lit(glFormat)).withColumn("gl_internal_format", lit(glInternal))
      .withColumn("gl_base_internal_format", lit(glFormat))
      .withColumn("pixel_width", lit(leaf.toLong)).withColumn("pixel_height", lit(leaf.toLong))
      .withColumn("pixel_depth", lit(leaf.toLong))
      .withColumn("n_mipmaps", lit(nMips.toLong))
      .withColumn("kv_bytes", kvBytes)
      .withColumn("file_bytes", lit(64L) + col("kv_bytes") + lit(dataBytes))
      .crossJoin(mipDf)
      .withColumn("mip_offset", lit(64L) + col("kv_bytes") + col("prior_bytes"))
      .drop("prior_bytes")
      .orderBy("bz", "by", "bx", "mip")
  }

  /** oct_ktx_parse — the READ direction of the KTX container
    * (`KtxHeader.read_stream` ktx/__init__.py:225 walks the
    * key-value section by its byte count, `KtxImageData.read_stream`
    * :377 walks per-mip 4-byte imageSize fields + data + pad-to-4,
    * and `Ktx.asarray` :41 reshapes a mip buffer to (z, y, x,
    * channel) uint16): deterministic probe byte offsets into each
    * block's .ktx stream are inverted to what a reader finds there —
    * the containing mip, whether the byte is part of the imageSize
    * field / mip data / padding, and for data bytes the decoded
    * channel-interleaved row-major voxel (lz, ly, lx), the byte's
    * position inside its uint16 element, and the mip-space absolute
    * voxel coordinates. The exact inverse of [[ktxHeader]]'s write
    * layout, joinable back to it on (bz, by, bx, mip).
    *
    * Scale shape: ONE scan, zero joins — the mip regions tile each
    * file's data span, so exploding the probe sequence on the
    * per-(block, mip) header rows and keeping the (exactly one)
    * containing region yields each probe once; everything after is
    * scan-side integer arithmetic.
    */
  /** Probe count for [[ktxParse]] and [[KtxBinary.parseProbes]] —
    * prime vs the 4-byte grain: hits size fields, odd data offsets
    * and second bytes of uint16 elements.
    */
  private[octree] val KtxProbes = 23L

  def ktxParse(spark: SparkSession, dir: String): DataFrame = {
    val (tsize, channels) = (2L, 2L)
    val (_, dataBytes) = mipChain(VoxelGrid.Leaf, channels, tsize)
    val nProbes = KtxProbes
    val pad = lit(3L) - (col("mip_bytes") + lit(3L)) % 4
    val dataStart = col("mip_offset") + lit(4L)
    val d = col("region") === "data"
    ktxHeader(spark, dir)
      .withColumn("probe", explode(sequence(lit(0L), lit(nProbes - 1))))
      .withColumn("pos", lit(64L) + col("kv_bytes") +
        expr(s"(probe * $dataBytes) div $nProbes"))
      .filter(col("pos") >= col("mip_offset") &&
        col("pos") < col("mip_offset") + lit(4L) + col("mip_bytes") + pad)
      .withColumn("region",
        when(col("pos") < dataStart, lit("size"))
          .when(col("pos") < dataStart + col("mip_bytes"), lit("data"))
          .otherwise(lit("pad")))
      .withColumn("byte_in_mip", when(d, col("pos") - dataStart).otherwise(lit(-1L)))
      .withColumn("elem", expr(s"byte_in_mip div $tsize"))
      .withColumn("sp", expr(s"elem div $channels"))
      .withColumn("byte_in_elem", when(d, col("byte_in_mip") % tsize).otherwise(lit(-1L)))
      .withColumn("channel", when(d, col("elem") % channels).otherwise(lit(-1L)))
      .withColumn("lz", when(d, expr("sp div (mx * my)")).otherwise(lit(-1L)))
      .withColumn("ly", when(d, expr("(sp div mx) % my")).otherwise(lit(-1L)))
      .withColumn("lx", when(d, col("sp") % col("mx")).otherwise(lit(-1L)))
      .withColumn("az", when(d, (col("bz") - 1) * col("mz") + col("lz")).otherwise(lit(-1L)))
      .withColumn("ay", when(d, (col("by") - 1) * col("my") + col("ly")).otherwise(lit(-1L)))
      .withColumn("ax", when(d, (col("bx") - 1) * col("mx") + col("lx")).otherwise(lit(-1L)))
      .select(col("bz"), col("by"), col("bx"), col("path"), col("probe"),
        col("pos"), col("mip"), col("region"), col("byte_in_mip"),
        col("byte_in_elem"), col("channel"), col("lz"), col("ly"), col("lx"),
        col("az"), col("ay"), col("ax"))
      .orderBy("bz", "by", "bx", "probe")
  }

  /** oct_ktx_bytes — the PHYSICAL KTX round trip: serialize every
    * occupied block to a real binary `.ktx` file
    * ([[KtxBinary.writeBlocks]]; reference ktx/__init__.py:320
    * `write_stream`), then re-derive the probe frame from nothing but
    * the read-back bytes ([[KtxBinary.parseProbes]], the
    * `read_stream`:225 direction) — sharing [[ktxParse]]'s oracle, so
    * a green row proves the bytes on disk ARE the layout the
    * relational model claims. Files live on tmpfs for the check and
    * are reclaimed once the small probe frame is materialized.
    */
  def ktxBytes(spark: SparkSession, dir: String): DataFrame = {
    Scratch.withDir("ktx") { out =>
      KtxBinary.writeBlocks(spark, dir, out)
      // eager localCheckpoint: partitions materialize on EXECUTORS, so
      // the staging files can be reclaimed without routing the frame
      // through the driver (no corpus-sized collect in any bytes op)
      KtxBinary.parseProbes(spark, out).localCheckpoint(true)
        .orderBy("bz", "by", "bx", "probe")
    }
  }

  /** oct_tiff_bytes — the PHYSICAL TIFF round trip: serialize every
    * occupied block to real deflate-compressed multi-page `.tif`
    * files in the reference's `default.<ch>.tif` octant layout
    * ([[TiffBinary.writeBlocks]]; reference tiff2octree.py:303,:315),
    * then decode the voxels from nothing but read-back bytes
    * ([[TiffBinary.parseVoxels]] — IFD walk + strip inflate, the
    * rasterio:281 read direction). The oracle is the independent
    * DuckDB derivation of the volume model, so a green row proves
    * write→bytes→parse is lossless end to end. Files live on tmpfs
    * and are reclaimed once the parsed frame is materialized.
    */
  def tiffBytes(spark: SparkSession, dir: String): DataFrame = {
    Scratch.withDir("tiff") { out =>
      // eager localCheckpoint keeps the corpus-sized voxel
      // frame DISTRIBUTED — the old collect+parallelize rebuilt it on
      // the driver, an OOM at 100× scale
      TiffBinary.writeBlocks(spark, dir, out)
      TiffBinary.parseVoxels(spark, out).localCheckpoint(true)
        .orderBy("c", "z", "y", "x")
    }
  }

  /** oct_retile_bytes — `conv_tiled_tiff` (tiff2octree.py:516) at the
    * BYTE level: stage the octant tree as strip TIFFs, rewrite every
    * file into the tiled layout (tags 322/323/324/325, zero-padded
    * 16-multiple tiles — the read-efficiency format the reference
    * stages all inputs through), then decode the voxels from nothing
    * but the TILED bytes. Shares oct_tiff_bytes' oracle: a green row
    * proves strip→tiled→parse is lossless end to end. Both stagings
    * live on tmpfs and are reclaimed once the parsed frame is
    * checkpointed executor-side.
    */
  def retileBytes(spark: SparkSession, dir: String): DataFrame = {
    Scratch.withDir("rt_strip") { strip =>
      Scratch.withDir("rt_tiled") { tiled =>
        TiffBinary.writeBlocks(spark, dir, strip)
        TiffBinary.convTiledDir(spark, strip, tiled, 16)
        TiffBinary.parseVoxelsTiled(spark, tiled).localCheckpoint(true)
          .orderBy("c", "z", "y", "x")
      }
    }
  }

  /** Re-tiling (tiff2octree.py:516 `conv_tiled_tiff`, which rewrites
    * strip TIFFs as 256² tiles so window reads stop scanning whole
    * rows): the columnar analog re-blocks the voxel store under a
    * coarser tile edge so window/block readers hit one tile instead
    * of many — at scale this is a `repartitionByRange` + partitioned
    * write; the operator computes the new assignment + per-tile stats.
    */
  def retile(spark: SparkSession, dir: String): DataFrame = {
    val newLeaf = VoxelGrid.Leaf * 2 // 4 -> 8: 8x fewer, 8x larger tiles
    Addressing.blockify(vox(spark, dir), newLeaf)
      .groupBy("c", "bz", "by", "bx")
      .agg(count(lit(1)).as("n_voxels"), max("v").as("max_v"),
        min("lz").as("min_lz"), max("lx").as("max_lx"))
      .orderBy("c", "bz", "by", "bx")
  }

  def transform(spark: SparkSession, dir: String): DataFrame =
    Geometry.transform(spark)

  def blockGeom(spark: SparkSession, dir: String): DataFrame =
    Geometry.blockGeometry(vox(spark, dir))

  /** Non-unit anisotropic parameterization (dyadic voxel sizes so the
    * double arithmetic is exact on both engines) — exercises the
    * origin/voxel-size plumbing of parse_voxel_size tiff2octree.py:825
    * end-to-end.
    */
  val AnisoOrigin: (Double, Double, Double) = (100.5, -20.25, 7.75)
  val AnisoVox: (Double, Double, Double) = (0.25, 0.375, 1.5)

  def transformAniso(spark: SparkSession, dir: String): DataFrame =
    Geometry.transform(spark, origin = AnisoOrigin, voxUm = AnisoVox)

  def blockGeomAniso(spark: SparkSession, dir: String): DataFrame =
    Geometry.blockGeometry(vox(spark, dir), origin = AnisoOrigin, voxUm = AnisoVox)

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "oct_blockify" -> (blockify _),
    "oct_path" -> (path _),
    "oct_levels" -> (optimalLevels _),
    "oct_mipmap_dims" -> (mipmapDims _),
    "oct_down_2ndmax" -> down("second_max") _,
    "oct_down_area" -> down("area") _,
    "oct_down_mean_nz" -> down("mean_nz") _,
    "oct_down_max" -> down("max") _,
    "oct_down_arthur" -> down("arthur") _,
    "oct_down_linear" -> (downLinear _),
    "oct_down_aa" -> (downAa _),
    "oct_down_spline3" -> (downSpline3 _),
    "oct_downsample_xy" -> (downXY _),
    "oct_pyramid" -> (pyramid _),
    "oct_pyramid_delta" -> (pyramidDelta _),
    "oct_empty_prune" -> (emptyPrune _),
    "oct_resume" -> (resume _),
    "oct_interleave" -> (interleave _),
    "oct_stats" -> (blockStats _),
    "oct_histogram" -> (histogram _),
    "oct_percentiles" -> (percentiles _),
    "oct_intensity_params" -> (intensityParams _),
    "oct_rescale_u8" -> (rescaleU8 _),
    "oct_transform" -> (transform _),
    "oct_transform_aniso" -> (transformAniso _),
    "oct_ktx_name" -> (ktxName _),
    "oct_ktx_header" -> (ktxHeader _),
    "oct_ktx_parse" -> (ktxParse _),
    "oct_ktx_bytes" -> (ktxBytes _),
    "oct_tiff_bytes" -> (tiffBytes _),
    "oct_retile_bytes" -> (retileBytes _),
    "oct_adjust_dims" -> (adjustDims _),
    "oct_retile" -> (retile _),
    "oct_block_geom" -> (blockGeom _),
    "oct_block_geom_aniso" -> (blockGeomAniso _),
    "pipeline_octree" -> (OctreePipeline.pipelineOctree _),
    "pipeline_octree_audit" -> (OctreePipeline.pipelineOctreeAudit _)
  )
}
