package graft.perfbench

import java.io.File
import java.nio.file.Files

/** A dense two-channel u16 volume of `edge`³ voxels, one flat array per
  * channel indexed (z·edge + y)·edge + x. Zero means no data.
  */
final class Volume(val edge: Int, val data: Array[Array[Short]]) {
  def idx(z: Int, y: Int, x: Int): Int = (z * edge + y) * edge + x
  def get(c: Int, z: Int, y: Int, x: Int): Int = data(c)(idx(z, y, x)) & 0xffff

  def nonZero: Long = data.map(_.count(_ != 0).toLong).sum

  /** Arthur 2×2×2 reduction (ktx/util.py:164): the second-largest of
    * the 8 subvoxels, or the largest when fewer than two hold data.
    */
  def downsample: Volume = {
    val e = edge / 2
    val out = Array.fill(Volume.Channels)(new Array[Short](e * e * e))
    val cell = new Array[Int](8)
    for (c <- 0 until Volume.Channels; z <- 0 until e; y <- 0 until e; x <- 0 until e) {
      var i = 0
      for (dz <- 0 to 1; dy <- 0 to 1; dx <- 0 to 1) {
        cell(i) = get(c, 2 * z + dz, 2 * y + dy, 2 * x + dx); i += 1
      }
      java.util.Arrays.sort(cell)
      out(c)((z * e + y) * e + x) = (if (cell(6) == 0) cell(7) else cell(6)).toShort
    }
    new Volume(e, out)
  }
}

/** Sorted non-zero voxels of a whole pyramid, keyed by
  * [[RefPyramid.key]]: the form both read-back checks compare against.
  */
final case class VoxelSet(keys: Array[Long], values: Array[Long]) {
  def size: Int = keys.length

  /** The aggregate each timed read-back computes in Spark:
    * (count, Σv, Σ (key mod 1000003)·v) — exact in 64 bits at these
    * sizes, and mirrored by [[RefPyramid.aggExprs]].
    */
  def aggregate: (Long, Long, Long) = {
    var s = 0L; var w = 0L
    var i = 0
    while (i < keys.length) {
      s += values(i); w += (keys(i) % 1000003L) * values(i); i += 1
    }
    (keys.length.toLong, s, w)
  }
}

object VoxelSet {
  def of(rows: Iterator[(Long, Long)]): VoxelSet = {
    val sorted = rows.toArray.sortBy(_._1)
    VoxelSet(sorted.map(_._1), sorted.map(_._2))
  }
}

/** The single-threaded dense reference pyramid the octree checks use. */
final class RefPyramid(val levels: Int, val byLevel: Map[Int, Volume]) {
  val edge: Int = byLevel(levels).edge

  def voxels: VoxelSet = VoxelSet.of(byLevel.iterator.flatMap { case (lv, v) =>
    for {
      c <- Iterator.range(0, Volume.Channels)
      i <- Iterator.range(0, v.data(c).length)
      value = v.data(c)(i) & 0xffff
      if value != 0
    } yield {
      val (z, y, x) = (i / (v.edge * v.edge), (i / v.edge) % v.edge, i % v.edge)
      (RefPyramid.key(edge, lv, c, z, y, x), value.toLong)
    }
  })

  /** Files a full tree holds at leaf edge `leaf`: per occupied block one
    * KTX plus one TIFF per channel with data.
    */
  def expectedFiles(leaf: Int): Long = byLevel.values.map { v =>
    val nb = v.edge / leaf
    var files = 0L
    for (bz <- 0 until nb; by <- 0 until nb; bx <- 0 until nb) {
      val chans = (0 until Volume.Channels).count { c =>
        (0 until leaf * leaf * leaf).exists { i =>
          v.get(c, bz * leaf + i / (leaf * leaf), by * leaf + (i / leaf) % leaf,
            bx * leaf + i % leaf) != 0
        }
      }
      if (chans > 0) files += chans + 1
    }
    files
  }.sum
}

object RefPyramid {
  def apply(base: Volume, levels: Int): RefPyramid = {
    var cur = base
    val all = (levels to 1 by -1).map { lv =>
      if (lv < levels) cur = cur.downsample
      lv -> cur
    }
    new RefPyramid(levels, all.toMap)
  }

  /** One long per (level, channel, level-local z, y, x). */
  def key(edge: Int, level: Long, c: Long, z: Long, y: Long, x: Long): Long =
    (((level * Volume.Channels + c) * edge + z) * edge + y) * edge + x

  /** Spark twin of [[key]] and [[VoxelSet.aggregate]] over a
    * (level, c, z, y, x, v) frame.
    */
  def aggExprs(edge: Int): Seq[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions._
    val k = (((col("level") * Volume.Channels + col("c")) * edge + col("z")) * edge +
      col("y")) * edge + col("x")
    Seq(count(lit(1)), sum(col("v")), sum(pmod(k, lit(1000003L)) * col("v")))
  }
}

object Volume {
  val Channels = 2
  /** Edge of the regions that are occupied or empty as a whole. */
  val Region = 16
  val LayoutSeed = 16L

  /** Sparse volume: round(`regionFrac` · regions) of the 16³ regions are
    * occupied; inside them each voxel of each channel holds data with
    * probability `density`, valued 1 + ⌊65534·u³⌋ (u uniform), so most
    * values are dim and a few are bright. `seed` draws the voxels. Which
    * regions are occupied is drawn from a fixed seed: with a seeded
    * layout, pass times differed by up to 35% between seeds, and the same
    * seed repeated its time.
    */
  def generate(seed: Long, edge: Int, regionFrac: Double, density: Double): Volume = {
    require(edge % Region == 0, s"edge $edge is not a multiple of $Region")
    val nr = edge / Region
    val regions = nr * nr * nr
    val order = Array.range(0, regions)
    val layout = new java.util.SplittableRandom(LayoutSeed)
    for (i <- regions - 1 to 1 by -1) {
      val j = layout.nextInt(i + 1)
      val t = order(i); order(i) = order(j); order(j) = t
    }
    val rng = new java.util.SplittableRandom(seed)
    val occupied = new Array[Boolean](regions)
    order.take(math.round(regionFrac * regions).toInt).foreach(occupied(_) = true)
    val data = Array.fill(Channels)(new Array[Short](edge * edge * edge))
    for (c <- 0 until Channels; z <- 0 until edge; y <- 0 until edge; x <- 0 until edge) {
      val r = ((z / Region) * nr + y / Region) * nr + x / Region
      if (occupied(r) && rng.nextDouble() < density) {
        val u = rng.nextDouble()
        data(c)((z * edge + y) * edge + x) = (1 + (65534 * u * u * u).toInt).toShort
      }
    }
    new Volume(edge, data)
  }

  /** Writes the volume the way a microscope hands it over: one
    * single-page deflate TIFF per (channel, z) under
    * `root/slices_tif/ch{c}/z%04d.tif`. Returns the bytes written.
    */
  def stageSlices(vol: Volume, root: String): Long = {
    var bytes = 0L
    for (c <- 0 until Channels; z <- 0 until vol.edge) {
      val page = Array.tabulate(vol.edge, vol.edge)((y, x) => vol.get(c, z, y, x).toLong)
      val f = new File(f"$root/slices_tif/ch$c/z$z%04d.tif")
      f.getParentFile.mkdirs()
      val b = graft.octree.TiffBinary.serializePages(Seq(page))
      Files.write(f.toPath, b)
      bytes += b.length
    }
    bytes
  }
}

object Fs {
  /** Relative paths of every regular file under `root`, sorted. */
  def list(root: File): Seq[String] = {
    val base = root.toPath
    val s = Files.walk(base)
    try {
      val out = Seq.newBuilder[String]
      s.filter(p => Files.isRegularFile(p)).forEach(p => out += base.relativize(p).toString)
      out.result().sorted
    } finally s.close()
  }
}
