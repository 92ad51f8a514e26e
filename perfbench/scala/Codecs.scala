package graft.octree

/** Single-thread throughput of the per-block codecs the octree writer
  * and readers call, in MB/s of raw u16 voxel payload. Lives in the
  * codecs' package because their block-level entry points are
  * package-private.
  */
object PerfbenchCodecs {
  private val Leaf = graft.VoxelGrid.Leaf

  /** One occupied leaf block: (level, bz, by, bx) 1-based, and its
    * voxels (c, lz, ly, lx, v).
    */
  type Block = (Int, Long, Long, Long, Seq[(Long, Long, Long, Long, Long)])

  private def rate(rawBytes: Long, minNs: Long)(body: => Unit): Double = {
    val t0 = System.nanoTime()
    var n = 0L
    while (n == 0 || System.nanoTime() - t0 < minNs) { body; n += 1 }
    rawBytes * n / 1e6 / ((System.nanoTime() - t0) / 1e9)
  }

  /** (tiff_encode, tiff_decode, ktx_encode) MB/s over `blocks`, each
    * timed for at least `minNs`.
    */
  def measure(blocks: Seq[Block], minNs: Long): (Double, Double, Double) = {
    val pages = blocks.flatMap { case (_, _, _, _, vox) =>
      vox.groupBy(_._1).values.map { vs =>
        val g = Array.ofDim[Long](Leaf, Leaf, Leaf)
        vs.foreach { case (_, z, y, x, v) => g(z.toInt)(y.toInt)(x.toInt) = v }
        g.toSeq
      }
    }
    val tiffRaw = pages.size.toLong * Leaf * Leaf * Leaf * 2
    val tiffs = pages.map(p => TiffBinary.serializePages(p))
    val tiffEnc = rate(tiffRaw, minNs)(pages.foreach(p => TiffBinary.serializePages(p)))
    val tiffDec = rate(tiffRaw, minNs)(tiffs.foreach { b =>
      TiffBinary.decodePages(b).foreach { case (_, w, h, _, _, off, nb) =>
        TiffBinary.inflate(b.slice(off.toInt, (off + nb).toInt), (w * h * 2).toInt)
      }
    })
    val ktxRaw = blocks.size.toLong * Leaf * Leaf * Leaf * 2 * 2
    val ktxEnc = rate(ktxRaw, minNs)(blocks.foreach { case (lv, bz, by, bx, vox) =>
      KtxBinary.serializeAt(lv, bz, by, bx, vox)
    })
    (tiffEnc, tiffDec, ktxEnc)
  }
}
