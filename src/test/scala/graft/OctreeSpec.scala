package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.octree._

/** Hand-computed semantics checks for the octree kernels — the DuckDB
  * oracle guards Spark-vs-DuckDB agreement; these specs guard
  * agreement with the reference's numpy behavior on tiny volumes.
  */
class OctreeSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient lazy val spark: SparkSession = GraftSession("OctreeSpec", 2)

  override def afterAll(): Unit = spark.stop()

  import org.apache.spark.sql.functions._

  private def vox(rows: (Long, Long, Long, Long, Long)*) = {
    import spark.implicits._
    rows.toDF("c", "z", "y", "x", "v")
  }

  // One 2x2x2 parent group with 3 present voxels (5 implicit zeros):
  // values 10, 40, 30 -> sorted desc [40,30,10,0,0,0,0,0]
  private val group = vox((0, 0, 0, 0, 10), (0, 1, 1, 1, 40), (0, 0, 1, 0, 30))
  // A lone voxel in the next parent group: second-max over the dense
  // 8 is 0 (pruned); arthur falls back to the max.
  private val lone = vox((0, 0, 0, 2, 7))

  private def one(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
    df.select("x", "v").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  test("incremental pyramid equals the full rebuild from a pruned recompute") {
    import graft.octree.Pyramid
    // synthetic 8³ volume, levels=3: deterministic sparse fill
    val all = vox((for {
      z <- 0L until 8; y <- 0L until 8; x <- 0L until 8
      if (z * 7 + y * 5 + x * 3) % 4 == 0
    } yield (0L, z, y, x, 1L + (z * 64 + y * 8 + x) % 97)): _*)
    val isDelta = (col("z") * 3 + col("y") * 5 + col("x") * 7) % 11 === 0
    val base = all.filter(!isDelta)
    val delta = all.filter(isDelta)
    val nDelta = delta.count(); val nAll = all.count()
    assert(nDelta > 0 && nDelta < nAll / 3, "delta must be a strict minority")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("level", "c", "z", "y", "x", "v").collect().map(_.toSeq).toSet
    val full = rows(Pyramid(all, levels = 3))
    val inc = rows(Pyramid.incremental(base, delta, levels = 3))
    assert(inc === full, "incremental splice diverged from the full rebuild")
    // the pruned recompute must touch fewer full-res voxels than the
    // volume (the whole point): affected coarsest cubes only
    val affCubes = delta.select((col("z") / 4).cast("long"), (col("y") / 4).cast("long"),
      (col("x") / 4).cast("long")).distinct().count()
    assert(affCubes < 8, s"delta touches all $affCubes coarsest cubes — prune is vacuous")
  }

  test("second_max takes the 2nd largest incl. implicit zeros; lone voxel prunes to empty") {
    assert(one(Downsample(group.union(lone), "second_max")) === Seq((0L, 30L)))
  }

  test("arthur replaces a zero 2nd-max with the max (ktx/util.py:170)") {
    assert(one(Downsample(group.union(lone), "arthur")) === Seq((0L, 30L), (1L, 7L)))
  }

  test("area divides by the dense 8 and truncates like astype") {
    // (10+40+30)/8 = 10, lone 7/8 = 0 -> pruned
    assert(one(Downsample(group.union(lone), "area")) === Seq((0L, 10L)))
  }

  test("mean_nz is the NaN-mean over present voxels, floor-truncated") {
    // (10+40+30)/3 = 26, lone 7/1 = 7
    assert(one(Downsample(group.union(lone), "mean_nz")) === Seq((0L, 26L), (1L, 7L)))
  }

  test("max kernel") {
    assert(one(Downsample(group.union(lone), "max")) === Seq((0L, 40L), (1L, 7L)))
  }

  test("xy-only downsample keeps z resolution (ktx/util.py:183)") {
    val d = Downsample(vox((0, 0, 0, 0, 5), (0, 1, 0, 1, 9)), "arthur", xyOnly = true)
      .select("z", "y", "x", "v").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq.sorted
    assert(d === Seq((0L, 0L, 0L, 5L), (1L, 0L, 0L, 9L)))
  }

  test("octPath matches get_octree_relative_path digit order (tiff2octree.py:263)") {
    // Block (z,y,x)=(1,1,1) 1-based at L=3 -> digits "11";
    // (4,4,4) -> "88"; (1,2,3) -> x=3:bits 10, y=2:bits 01, z=1:bits 00
    //   lv1: 1 + 1 + 2*0 + 4*0 = 2 ; lv0: 1 + 0 + 2*1 + 4*0 = 3 -> "23"
    val df = vox((0, 0, 0, 0, 1)).select(
      Addressing.octPath(lit(1L), lit(1L), lit(1L), 3).as("a"),
      Addressing.octPath(lit(4L), lit(4L), lit(4L), 3).as("b"),
      Addressing.octPath(lit(1L), lit(2L), lit(3L), 3).as("c"))
    val r = df.collect()(0)
    assert((r.getString(0), r.getString(1), r.getString(2)) === ("11", "88", "23"))
  }

  test("reference path parity on a brute-force sample") {
    // Port of the reference loop, evaluated in Scala, vs the Column expr.
    def refPath(zc: Int, yc: Int, xc: Int, level: Int): String = {
      var (pz, py, px) = (zc - 1, yc - 1, xc - 1)
      val sb = new StringBuilder
      for (lv <- (level - 1) to 0 by -1) {
        val d = 1 << lv
        val digit = 1 + px / d + 2 * (py / d) + 4 * (pz / d)
        if (lv < level - 1) sb.append(digit)
        pz %= d; py %= d; px %= d
      }
      sb.toString
    }
    import spark.implicits._
    val coords = for (z <- 1 to 4; y <- 1 to 4; x <- 1 to 4) yield (z.toLong, y.toLong, x.toLong)
    val got = coords.toDF("bz", "by", "bx")
      .select(col("bz"), col("by"), col("bx"), Addressing.octPath(col("bz"), col("by"), col("bx"), 3).as("p"))
      .collect().map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)), r.getString(3))).toMap
    coords.foreach { case (z, y, x) =>
      assert(got((z, y, x)) === refPath(z.toInt, y.toInt, x.toInt, 3), s"coord ($z,$y,$x)")
    }
  }

  test("percentiles: single-value channel puts every slot at that value") {
    val p = Intensity.percentiles(vox((0, 0, 0, 0, 42)))
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq.sorted
    assert(p === (0L to 100L).map(i => (i, 42L)))
  }

  test("rescale_u8 keeps outputs in [1, 255] and is monotone") {
    val dense = (1L to 200L).map(i => (0L, i % 8, (i / 8) % 8, i % 16, i * 327 % 65535 + 1))
    val out = Intensity.rescaleU8(vox(dense: _*)).select("v8").collect().map(_.getLong(0))
    assert(out.forall(v => v >= 1 && v <= 255))
  }

  test("pyramid emits every level with shrinking coordinate bounds") {
    val full = for (z <- 0L until 4L; y <- 0L until 4L; x <- 0L until 4L)
      yield (0L, z, y, x, (z * 16 + y * 4 + x + 1))
    val p = Pyramid(vox(full: _*), levels = 3, kernel = "max")
    val byLevel = p.groupBy("level").agg(count(lit(1)).as("n"), max("z").as("mz"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    assert(byLevel === Seq((1L, 1L, 0L), (2L, 8L, 1L), (3L, 64L, 3L)))
  }

  /** Seeded sparse two-channel volume in a 256³ box: dense-ish 6³
    * clusters, lone voxels (single-voxel cells), repeated coordinates, and
    * small values that `area` prunes — with whole regions empty.
    */
  private def sparseVolume(seed: Long) = {
    val rng = new java.util.SplittableRandom(seed)
    def value(): Long = if (rng.nextInt(3) == 0) 1L + rng.nextInt(8) else 1L + rng.nextInt(65535)
    val clusters = (0 until 6).flatMap { _ =>
      val c = rng.nextInt(2).toLong
      val (oz, oy, ox) = (rng.nextInt(250), rng.nextInt(250), rng.nextInt(250))
      for (dz <- 0 until 6; dy <- 0 until 6; dx <- 0 until 6 if rng.nextInt(4) != 0)
        yield (c, (oz + dz).toLong, (oy + dy).toLong, (ox + dx).toLong, value())
    }
    val lone = (0 until 200).map(_ => (rng.nextInt(2).toLong, rng.nextInt(256).toLong,
      rng.nextInt(256).toLong, rng.nextInt(256).toLong, value()))
    // repeated coordinates, half with the same value, half with a new one
    val dups = clusters.take(40).zipWithIndex.map { case ((c, z, y, x, v), i) =>
      (c, z, y, x, if (i % 2 == 0) v else value())
    }
    vox(clusters ++ lone ++ dups: _*)
  }

  /** Jobs `body` submits, counted by a listener; a marker job after it
    * guarantees every earlier event has been delivered.
    */
  private def jobsOf(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case "counted" => jobs.incrementAndGet(): Unit
          case "marker" => marker.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("counted", "counted")
      try body finally {
        sc.setJobGroup("marker", "marker")
        sc.parallelize(Seq(1), 1).count()
        sc.clearJobGroup()
      }
      assert(marker.await(60, java.util.concurrent.TimeUnit.SECONDS))
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  test("pyramid equals the per-level Downsample fold for every kernel and depth") {
    val v = sparseVolume(20261017L).localCheckpoint(true)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("level", "c", "z", "y", "x", "v").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5))).toSeq.sorted
    for (kernel <- Downsample.kernels; levels <- Seq(3, 6, 8)) {
      var cur = v
      var want = v.select(lit(levels.toLong).as("level"), col("c"), col("z"), col("y"),
        col("x"), col("v"))
      for (lv <- (levels - 1) to 1 by -1) {
        cur = Downsample(cur, kernel).localCheckpoint(true)
        want = want.union(cur.select(lit(lv.toLong).as("level"), col("c"), col("z"),
          col("y"), col("x"), col("v")))
      }
      val expected = rows(want)
      // second_max and area thin out with depth; the others must reach the root
      assert(expected.exists(r => r._1 == (if (kernel == "max" || kernel == "arthur") 1L
        else levels - 1L)), s"kernel $kernel, levels $levels: fixture too thin")
      assert(rows(Pyramid(v, levels, kernel)) === expected, s"kernel $kernel, levels $levels")
    }
  }

  test("six-level pyramid is one shuffle in at most two jobs") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
    val v = sparseVolume(7L).localCheckpoint(true)
    val p = Pyramid(v, 6)
    val jobs = jobsOf(p.localCheckpoint(true): Unit)
    assert(jobs >= 1 && jobs <= 2, s"$jobs jobs")
    val plan = p.queryExecution.executedPlan
    val exchanges = new AdaptiveSparkPlanHelper {}.collect(plan) {
      case e: ShuffleExchangeLike => e
      case e: ReusedExchangeExec => e
    }
    assert(exchanges.size === 1, plan.toString)
  }

  test("pyramid rejects an unknown kernel before submitting a job") {
    val v = vox((0, 0, 0, 0, 1))
    var err: IllegalArgumentException = null
    val jobs = jobsOf {
      err = intercept[IllegalArgumentException](Pyramid(v, 6, "median"))
    }
    assert(err.getMessage.contains("unknown kernel median"))
    assert(jobs === 0)
  }

  test("ktx parse inverts the write layout byte-for-byte") {
    // every probe appears exactly once per block (the mip regions
    // tile the data span with no gap or overlap), and re-encoding a
    // parsed data byte's (mip, lz, ly, lx, channel, byte_in_elem)
    // through the WRITE layout lands on the probed position
    val dir = "/root/testdata/sf0.001"
    val hdr = OctreeQueries.ktxHeader(spark, dir)
      .select(col("bz"), col("by"), col("bx"), col("mip"),
        col("mip_offset"), col("mx"), col("my")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ->
        (r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    val parsed = OctreeQueries.ktxParse(spark, dir).collect()
    val perBlock = parsed.groupBy(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(perBlock.nonEmpty)
    perBlock.foreach { case (_, rows) =>
      assert(rows.map(_.getAs[Long]("probe")).sorted.toSeq === (0L until 23L))
    }
    val dataRows = parsed.filter(_.getAs[String]("region") == "data")
    assert(dataRows.nonEmpty)
    dataRows.foreach { r =>
      val (off, mx, my) = hdr((r.getLong(0), r.getLong(1), r.getLong(2),
        r.getAs[Long]("mip")))
      val sp = (r.getAs[Long]("lz") * my + r.getAs[Long]("ly")) * mx +
        r.getAs[Long]("lx")
      val rebuilt = off + 4 + (sp * 2 + r.getAs[Long]("channel")) * 2 +
        r.getAs[Long]("byte_in_elem")
      assert(rebuilt === r.getAs[Long]("pos"), s"round-trip failed: $r")
    }
  }

  test("aa kernel: weights are a partition of unity; uniform blocks are preserved") {
    // each output's 64 quantized weights must sum to ~2^40 (partition
    // of unity), so a constant block stays constant after rounding
    val sums = Downsample.AaProducts.groupBy(t => (t._1, t._2, t._3))
      .view.mapValues(_.map(_._7).sum)
    sums.foreach { case (j, s) =>
      assert(math.abs(s - (1L << Downsample.AaScaleBits)) <= 64, s"weights at $j sum to $s")
    }
    // dense uniform 4^3 block, both output checks: value preserved
    val uni = vox((for (z <- 0L to 3L; y <- 0L to 3L; x <- 0L to 3L)
      yield (0L, z, y, x, 1234L)): _*)
    val out = Downsample.aa(uni).collect()
    assert(out.length === 8)
    assert(out.forall(_.getAs[Long]("v") === 1234L))
    // the axis matrix rows are mirror images and rows sum to 1
    Downsample.AaAxis.foreach(r => assert(math.abs(r.sum - 1.0) < 1e-12))
    assert(Downsample.AaAxis(0).toSeq === Downsample.AaAxis(1).reverse.toSeq)
  }

  test("spline3 kernel: corner sampling on 4-voxel leaves, values unchanged") {
    // zoom(0.5, order=3, grid_mode=False) samples axis coords j*(4-1)/(2-1)
    // = {0, 3}: the knots — so outputs are the block's corner voxels
    val block = vox(
      (0L, 0L, 0L, 0L, 11L), (0L, 0L, 0L, 3L, 22L), (0L, 3L, 3L, 3L, 33L),
      (0L, 1L, 1L, 1L, 99L), (0L, 2L, 0L, 0L, 77L)) // interior: dropped
    val out = Downsample.spline3(block).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(t => (t._2, t._3, t._4))
    assert(out.toSeq === Seq((0L, 0L, 0L, 0L, 11L), (0L, 0L, 0L, 1L, 22L),
      (0L, 1L, 1L, 1L, 33L)))
  }

  test("physical ktx files round-trip: bytes parse to the relational frames, voxels lossless") {
    val dir = "/root/testdata/sf0.001"
    Scratch.withDir("ktx_spec") { out =>
      KtxBinary.writeBlocks(spark, dir, out)
      // 1. the probe frame decoded from raw bytes equals the
      //    oracle-verified relational ktxParse frame, row for row
      val want = OctreeQueries.ktxParse(spark, dir).collect().map(_.toSeq)
      val got = KtxBinary.parseProbes(spark, out).orderBy("bz", "by", "bx", "probe")
        .collect().map(_.toSeq)
      assert(got.length === want.length)
      assert(got.toSeq === want.toSeq)
      // 2. mip-0 payloads decode back to the exact source voxel grid
      val voxWant = VoxelGrid(spark, dir).orderBy("c", "z", "y", "x")
        .collect().map(_.toSeq)
      val voxGot = KtxBinary.parseVoxels(spark, out).orderBy("c", "z", "y", "x")
        .collect().map(_.toSeq)
      assert(voxGot.toSeq === voxWant.toSeq)
      // 3. each file's on-disk size equals the header frame's
      //    file_bytes accounting
      val sizes = OctreeQueries.ktxHeader(spark, dir)
        .select(col("path"), col("file_bytes")).distinct().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(sizes.nonEmpty)
      sizes.foreach { case (p, bytes) =>
        val f = new java.io.File(
          s"$out/${p.map(_.toString).mkString("/")}/block_8_xy_$p.ktx")
        assert(f.isFile, s"missing ktx file for $p")
        assert(f.length() === bytes, s"file_bytes mismatch for $p")
      }
    }
  }

  test("ktx in-file mip chain is the reference's arthur kernel, per block") {
    // mip m>0 bytes must equal m applications of ktx/util.py:164's
    // 'arthur' (sort the 8 subvoxels, second-largest, 0→largest
    // fallback; create_mipmaps :195 default) to the block's mip-0 —
    // predicted here by an INDEPENDENT driver-side dense-array
    // reimplementation of the numpy sort semantics
    val dir = "/root/testdata/sf0.001"
    Scratch.withDir("ktx_mip_spec") { out =>
      KtxBinary.writeBlocks(spark, dir, out)
      val got = KtxBinary.parseMipVoxels(spark, out).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5))).toSet
      val leaf = VoxelGrid.Leaf
      val vox = VoxelGrid(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      val want = scala.collection.mutable.Set.empty[(Long, Long, Long, Long, Long, Long)]
      vox.groupBy { case (_, z, y, x, _) => (z / leaf, y / leaf, x / leaf) }
        .foreach { case ((bz, by, bx), vs) =>
          var grid = Array.ofDim[Long](2, leaf, leaf, leaf)
          vs.foreach { case (c, z, y, x, v) =>
            grid(c.toInt)((z % leaf).toInt)((y % leaf).toInt)((x % leaf).toInt) = v
          }
          var e = leaf; var m = 0L
          while (e >= 1) {
            for (c <- 0 until 2; z <- 0 until e; y <- 0 until e; x <- 0 until e
                 if grid(c)(z)(y)(x) > 0)
              want += ((m, c.toLong, bz * e + z, by * e + y, bx * e + x, grid(c)(z)(y)(x)))
            if (e > 1) {
              val next = Array.ofDim[Long](2, e / 2, e / 2, e / 2)
              for (c <- 0 until 2; z <- 0 until e / 2; y <- 0 until e / 2; x <- 0 until e / 2) {
                val cell = (for (dz <- 0 to 1; dy <- 0 to 1; dx <- 0 to 1)
                  yield grid(c)(2 * z + dz)(2 * y + dy)(2 * x + dx)).sorted
                next(c)(z)(y)(x) = if (cell(6) == 0L) cell(7) else cell(6)
              }
              grid = next
            }
            e /= 2; m += 1
          }
        }
      assert(got.nonEmpty)
      assert(got === want.toSet)
    }
  }

  test("physical tiff files round-trip: deflate strips parse back to the exact voxel grid") {
    val dir = "/root/testdata/sf0.001"
    Scratch.withDir("tiff_spec") { out =>
      TiffBinary.writeBlocks(spark, dir, out)
      // 1. bytes decode back to exactly the source volume model
      val want = VoxelGrid(spark, dir).orderBy("c", "z", "y", "x")
        .collect().map(_.toSeq)
      val got = TiffBinary.parseVoxels(spark, out).orderBy("c", "z", "y", "x")
        .collect().map(_.toSeq)
      assert(got.length === want.length)
      assert(got.toSeq === want.toSeq)
      // 2. container shape: each octant dir holds exactly the files of
      //    the channels PRESENT in that block — an empty channel is
      //    skipped, as the reference only imsaves when
      //    img_data.max() > 0 (tiff2octree.py:312)
      val files = new java.io.File(out).listFiles().flatMap(_.listFiles())
        .flatMap(_.listFiles()).filter(_.getName.endsWith(".tif"))
      assert(files.nonEmpty)
      val leaf = VoxelGrid.Leaf.toLong
      val wantFiles = VoxelGrid(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1) / leaf, r.getLong(2) / leaf, r.getLong(3) / leaf))
        .toSet
      val gotFiles = files.map { f =>
        val rel = f.getAbsolutePath.stripPrefix(new java.io.File(out).getAbsolutePath)
        val digits = rel.split('/').filter(_.nonEmpty).dropRight(1)
        var (bz, by, bx) = (0L, 0L, 0L)
        digits.zipWithIndex.foreach { case (ds, i) =>
          val lv = VoxelGrid.Levels - 2 - i
          val d = ds.head - '1'
          bx |= (d & 1L) << lv; by |= ((d >> 1) & 1L) << lv; bz |= ((d >> 2) & 1L) << lv
        }
        (f.getName.stripPrefix("default.").stripSuffix(".tif").toLong, bz, by, bx)
      }.toSet
      assert(gotFiles === wantFiles, "file set != channels present per block")
      files.foreach { f =>
        val bytes = java.nio.file.Files.readAllBytes(f.toPath)
        val pages = TiffBinary.decodePages(bytes)
        assert(pages.length === VoxelGrid.Leaf, s"${f.getName}: wrong page count")
        pages.foreach { case (_, w, h, bits, comp, off, _) =>
          assert(w === VoxelGrid.Leaf.toLong && h === VoxelGrid.Leaf.toLong)
          assert(bits === 16L && comp === 8L, s"${f.getName}: not 16-bit deflate")
          assert(off % 2 === 0L, s"${f.getName}: odd strip offset")
        }
        // TIFF 6.0 word alignment: every IFD in the chain sits on an
        // even offset (strips are even-padded to guarantee it)
        def getU32(b: Array[Byte], o: Int): Long =
          (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
            ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)
        var ifd = getU32(bytes, 4)
        while (ifd != 0L) {
          assert(ifd % 2 === 0L, s"${f.getName}: odd IFD offset $ifd")
          val n = (bytes(ifd.toInt) & 0xff) | ((bytes(ifd.toInt + 1) & 0xff) << 8)
          ifd = getU32(bytes, ifd.toInt + 2 + n * 12)
        }
      }
    }
  }

  test("tiled tiff: multi-tile pages with out-of-line offset arrays round-trip") {
    // a 24×40 page under 16² tiles → a 2×3 = 6-tile grid: TileOffsets
    // and TileByteCounts exceed 4 bytes, so they MUST be stored as
    // offset-pointed LONG arrays; edge tiles carry zero padding that
    // the decode clips back off
    val rnd = new scala.util.Random(7)
    val pages = Seq.fill(3)(Array.tabulate(24, 40)((y, x) =>
      if (rnd.nextInt(3) == 0) 0L else 1L + rnd.nextInt(65535).toLong))
    val bytes = TiffBinary.serializeTiledPages(pages, 16)
    val back = TiffBinary.decodeTiledPages(bytes)
    assert(back.length === 3)
    back.zip(pages).foreach { case (got, want) =>
      assert(got.map(_.toSeq).toSeq === want.map(_.toSeq).toSeq)
    }
    // single-tile pages take the inline-value arm of the same tags
    val one = Seq(Array.tabulate(4, 4)((y, x) => (y * 4 + x + 1).toLong))
    assert(TiffBinary.decodeTiledPages(TiffBinary.serializeTiledPages(one, 16))
      .head.map(_.toSeq).toSeq === one.head.map(_.toSeq).toSeq)
  }

  test("conv_tiled_tiff rewrite: strip and tiled parses agree on real staged files") {
    val dir = "/root/testdata/sf0.001"
    Scratch.withDir("rt_strip_spec") { strip =>
      Scratch.withDir("rt_tiled_spec") { tiled =>
        TiffBinary.writeBlocks(spark, dir, strip)
        TiffBinary.convTiledDir(spark, strip, tiled, 16)
        val a = TiffBinary.parseVoxels(spark, strip).orderBy("c", "z", "y", "x")
          .collect().map(_.toSeq)
        val b = TiffBinary.parseVoxelsTiled(spark, tiled).orderBy("c", "z", "y", "x")
          .collect().map(_.toSeq)
        assert(a.nonEmpty)
        assert(b.toSeq === a.toSeq)
        // the tiled mirror holds exactly the strip tree's files
        def rels(root: String): Set[String] = {
          val p = new java.io.File(root).getAbsolutePath
          def walk(f: java.io.File): Seq[java.io.File] =
            if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
          walk(new java.io.File(root)).map(_.getAbsolutePath.stripPrefix(p)).toSet
        }
        assert(rels(tiled) === rels(strip))
      }
    }
  }
}
