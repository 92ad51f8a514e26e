package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.sources.{N5Binary, VolumeQueries, VolumeSource}

class VolumeSourceSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient lazy val spark: SparkSession = {
    val s = GraftSession("VolumeSourceSpec", 4)
    s.conf.set("spark.sql.adaptive.enabled", "false") // keep scan partition counts observable
    s
  }

  override def afterAll(): Unit = spark.stop()

  private def scan = spark.read.format("graft.sources.VolumeSource").load()

  test("csv bad-record channel: three-way accounting exact, no silent loss") {
    import org.apache.spark.sql.functions.col
    val sf = "/root/testdata/sf0.001"
    val got = graft.sources.VolumeQueries.csvBadRecords(spark, sf).collect()(0)
    val o = graft.Tables(spark, sf, "orders")
      .select(col("o_orderkey").as("k"),
        org.apache.spark.sql.functions.floor(col("o_totalprice") * 100)
          .cast("long").as("pc"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val (bad, good) = o.partition(_._1 % 37 == 0)
    assert(bad.nonEmpty, "no corrupt rows staged — the channel is untested")
    assert(got.getLong(0) === o.length.toLong, "rows lost in the round trip")
    assert(got.getLong(1) === good.length.toLong)
    assert(got.getLong(2) === bad.length.toLong)
    assert(got.getLong(3) === good.map(_._1).sum)
    assert(got.getLong(4) === good.map(_._2).sum)
  }

  test("full scan matches the Scala-side fill enumeration") {
    val expected = (for {
      c <- 0L until 2L; z <- 0L until 16L; y <- 0L until 16L; x <- 0L until 16L
      h = VolumeSource.hash(c, z, y, x) if VolumeSource.present(h)
    } yield VolumeSource.value(h)).toSeq
    assert(scan.count() === expected.size)
    val sumV = scan.agg(sum("v")).collect()(0).getLong(0)
    assert(sumV === expected.sum)
  }

  test("coordinate predicates prune block partitions in the scan") {
    val full = scan.rdd.getNumPartitions
    assert(full === 2 * 4 * 4 * 4) // one partition per (c, bz, by, bx)
    val slab = scan.filter(col("c") === 0 && col("z") < 4).rdd.getNumPartitions
    assert(slab === 1 * 1 * 4 * 4) // one channel, one z-slab of blocks
  }

  test("pruned scan returns exactly the filtered rows") {
    val a = scan.filter(col("z") >= 4 && col("z") < 12 && col("c") === 0)
      .agg(count(lit(1)), sum("v")).collect()(0)
    val expected = (for {
      z <- 4L until 12L; y <- 0L until 16L; x <- 0L until 16L
      h = VolumeSource.hash(0, z, y, x) if VolumeSource.present(h)
    } yield VolumeSource.value(h)).toSeq
    assert(a.getLong(0) === expected.size)
    assert(a.getLong(1) === expected.sum)
  }

  test("value zonemap prunes blocks at plan time and loses no matching voxel") {
    val path = Scratch.path("zm_spec") + ".csv"
    try {
      val n = VolumeSource.buildZonemap(spark, path)
      assert(n <= 128L && n > 0L)
      val zm = VolumeSource.loadZonemap(path)
      val thr = 65000L
      val expectedPlanned = zm.count { case (_, (_, vmax)) => vmax >= thr }
      val prunedDf = spark.read.format("graft.sources.VolumeSource")
        .option("zonemap", path).load().filter(col("v") >= thr)
      // plan size == envelope arithmetic, strictly fewer than all blocks
      assert(prunedDf.rdd.getNumPartitions === expectedPlanned)
      assert(expectedPlanned < 128)
      // no matching voxel was lost: pruned read == unmapped full read
      val full = scan.filter(col("v") >= thr)
        .agg(count(lit(1)), sum("v")).collect()(0)
      val pr = prunedDf.agg(count(lit(1)), sum("v")).collect()(0)
      assert(pr.getLong(0) === full.getLong(0))
      assert(pr.getLong(1) === full.getLong(1))
      // an unconstrained query ignores the map (plans every block)
      val unconstrained = spark.read.format("graft.sources.VolumeSource")
        .option("zonemap", path).load()
      assert(unconstrained.rdd.getNumPartitions === 128)
      // zonemap composes with block-key pruning: both prunes apply
      val both = spark.read.format("graft.sources.VolumeSource")
        .option("zonemap", path).load()
        .filter(col("c") === 0 && col("v") >= thr)
      val expectBoth = zm.count { case ((c, _, _, _), (_, vmax)) =>
        c == 0L && vmax >= thr }
      assert(both.rdd.getNumPartitions === expectBoth)
    } finally Scratch.rm(path)
  }

  test("level option selects the pyramid scale and still prunes blocks") {
    val l1 = spark.read.format("graft.sources.VolumeSource").option("level", 1).load()
    assert(l1.rdd.getNumPartitions === 2 * 2 * 2 * 2) // grid 8: 2 blocks/axis
    val expected = (for {
      z <- 2L until 6L; y <- 0L until 8L; x <- 0L until 8L
      h = VolumeSource.hashL(1, 1, z, y, x) if VolumeSource.present(h)
    } yield VolumeSource.value(h)).toSeq
    val slab = l1.filter(col("c") === 1 && col("z") >= 2 && col("z") < 6)
    assert(slab.rdd.getNumPartitions === 1 * 2 * 2 * 2) // c pruned, both z-blocks touched
    val a = slab.agg(count(lit(1)), sum("v")).collect()(0)
    assert(a.getLong(0) === expected.size)
    assert(a.getLong(1) === expected.sum)
    // discovery lists every (level, channel) surface down to one leaf
    val disc = VolumeSource.discoverLevels(spark).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(disc === Set((0L, 0L, 16L, 64L), (0L, 1L, 16L, 64L),
      (1L, 0L, 8L, 8L), (1L, 1L, 8L, 8L), (2L, 0L, 4L, 1L), (2L, 1L, 4L, 1L)))
  }

  test("pyramid sink round-trips partitioned by (level, c)") {
    Scratch.withDir("pyr") { dir =>
      val pyr = graft.octree.Pyramid(VolumeGridFixture(spark))
      VolumeQueries.writePyramid(pyr, dir)
      val back = spark.read.parquet(dir)
      assert(back.count() === pyr.count())
      val lvl1 = VolumeQueries.readLevel(spark, dir, 1)
      // partition-column type is inferred on read; compare as strings
      assert(lvl1.select("level").distinct().collect().map(_.get(0).toString).toSeq === Seq("1"))
    }
  }

  test("pyramid store reads take the writer's schema: no inference job, long level and c") {
    Scratch.withDir("pyr_schema") { dir =>
      val pyr = graft.octree.Pyramid(VolumeGridFixture(spark))
      VolumeQueries.writePyramid(pyr, dir)
      var back: org.apache.spark.sql.DataFrame = null
      assert(SparkJobs.count(spark) { back = VolumeQueries.readStore(spark, dir) } === 0)
      // without a schema the same read pays a schema-inference job
      assert(SparkJobs.count(spark)(spark.read.parquet(dir): Unit) === 1)
      assert(back.dtypes.toSeq === pyr.dtypes.toSeq)
      val cols = Seq("level", "c", "z", "y", "x").map(col)
      assert(back.orderBy(cols: _*).collect().toSeq === pyr.orderBy(cols: _*).collect().toSeq)
    }
  }

  test("pyramid and volume sink rows remove their staging directories") {
    val sf = "/root/testdata/sf0.001"
    val root = new java.io.File(Scratch.root)
    val pid = ProcessHandle.current().pid()
    def staged = Option(root.list()).toSeq.flatten.filter(n =>
      n.startsWith(s"graft_pyr_sink_${pid}_") || n.startsWith(s"graft_vsink_${pid}_")).toSet
    val before = staged
    val pyramid = VolumeQueries.pyramidSink(spark, sf).collect().toSeq
    val volume = VolumeQueries.volumeSink(spark, sf).collect().toSeq
    assert(staged === before)
    // both frames were read back in full before their files went away
    val want = graft.octree.Pyramid(graft.VoxelGrid(spark, sf))
      .select("level", "c", "z", "y", "x", "v").orderBy("level", "c", "z", "y", "x")
      .collect().toSeq
    assert(want.nonEmpty && pyramid === want && volume === want)
  }

  test("bucketed pyramid store: level read partition-pruned, block stats plan zero Exchange") {
    // 8-cube, 2-channel fixture: full-res level spans 8 blocks, so
    // rows hash to MULTIPLE bucket ids and the file-count assertion
    // below actually exercises the pre-write repartition (a 1-block
    // fixture passes trivially with or without it)
    val wide = {
      import spark.implicits._
      (for (c <- 0L until 2L; z <- 0L until 8L; y <- 0L until 8L; x <- 0L until 8L)
        yield (c, z, y, x, z * 64 + y * 8 + x + 1)).toDF("c", "z", "y", "x", "v")
    }
    val pyr = graft.octree.Pyramid(wide)
    spark.sql("DROP TABLE IF EXISTS pyr_bkt_spec")
    try {
      VolumeQueries.writePyramidBucketed(pyr, "pyr_bkt_spec")
      val lvl = spark.table("pyr_bkt_spec")
        .filter(col("level") === 3 && col("c") === 0)
      // the level/channel predicates prune partitions at the scan
      val scanPlan = lvl.queryExecution.executedPlan.toString
      assert(scanPlan.contains("PartitionFilters: ["), scanPlan)
      assert(scanPlan.contains("(level"),
        s"level predicate not a partition filter:\n$scanPlan")
      // per-block aggregation over the stored, bucketed block key:
      // the bucket layout satisfies the grouping distribution — no
      // shuffle anywhere in the plan
      val stats = graft.octree.Pyramid.statsOfBlocked(lvl)
      val plan = stats.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed block stats still shuffles:\n$plan")
      // the pre-write repartition aligns tasks to bucket ids: each
      // (level, c) directory holds EXACTLY one file per occupied
      // bucket (SQL hash() is the same Murmur3 the bucket writer
      // files by). Without the repartition, every upstream task
      // holding rows of a bucket writes its own file, so this count
      // inflates — the multi-block fixture makes that observable.
      val occupied = spark.table("pyr_bkt_spec")
        .groupBy("level", "c")
        .agg(countDistinct(expr("pmod(hash(bz, by, bx), 8)")).as("nbkt"))
        .collect()
        .map(r => (r.get(0).toString, r.get(1).toString) -> r.getLong(2)).toMap
      assert(occupied.values.max > 1, "fixture must span multiple buckets")
      val warehouse = new java.io.File(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
      val dirs = new java.io.File(warehouse, "pyr_bkt_spec").listFiles()
        .filter(_.isDirectory).flatMap(_.listFiles()).filter(_.isDirectory)
      assert(dirs.nonEmpty)
      dirs.foreach { d =>
        // d is warehouse/pyr_bkt_spec/level=L/c=C
        val lv = d.getParentFile.getName.stripPrefix("level=")
        val ch = d.getName.stripPrefix("c=")
        val files = d.listFiles().filter(_.getName.endsWith(".parquet"))
        assert(files.length === occupied((lv, ch)),
          s"level=$lv/c=$ch: ${files.length} files vs ${occupied((lv, ch))} occupied buckets")
      }
      // and it computes exactly what the derive-and-shuffle path does
      val expected = graft.octree.Pyramid.blockStats(wide.filter(col("c") === 0))
        .collect().map(_.toSeq).toSet
      assert(stats.select("c", "bz", "by", "bx", "n_voxels", "min_v", "max_v",
          "sum_v", "zero_frac").collect().map(_.toSeq).toSet === expected)
    } finally spark.sql("DROP TABLE IF EXISTS pyr_bkt_spec")
  }

  private object VolumeGridFixture {
    def apply(spark: SparkSession) = {
      import spark.implicits._
      (for (z <- 0L until 4L; y <- 0L until 4L; x <- 0L until 4L)
        yield (0L, z, y, x, z * 16 + y * 4 + x + 1)).toDF("c", "z", "y", "x", "v")
    }
  }

  test("volume compaction collapses small files losslessly under the size target") {
    import spark.implicits._
    // 2 channels x 16-cube: the full-res level holds 4096 rows per
    // channel dir, ABOVE CompactTargetRows, so the per-dir file
    // budget arithmetic (nf = ceil(rows/target) > 1) is exercised
    val wide = (for (c <- 0L until 2L; z <- 0L until 16L; y <- 0L until 16L;
        x <- 0L until 16L)
      yield (c, z, y, x, z * 256 + y * 16 + x + 1)).toDF("c", "z", "y", "x", "v")
    val pyr = graft.octree.Pyramid(wide).localCheckpoint()
    Scratch.withDir("cmp_frag") { frag =>
      Scratch.withDir("cmp") { comp =>
        (0 until VolumeQueries.CompactWaves).foreach { k =>
          pyr.filter(pmod(col("z"), lit(VolumeQueries.CompactWaves.toLong)) === k.toLong)
            .write.mode(org.apache.spark.sql.SaveMode.Append)
            .partitionBy("level", "c").parquet(frag)
        }
        VolumeQueries.compactStore(spark, frag, comp)
        def filesPerDir(root: String): Map[String, Seq[java.io.File]] =
          Option(new java.io.File(root).listFiles()).getOrElse(Array.empty)
            .filter(f => f.isDirectory && f.getName.startsWith("level="))
            .flatMap(l => Option(l.listFiles()).getOrElse(Array.empty)
              .filter(_.isDirectory)
              .map(c => s"${l.getName}/${c.getName}" ->
                Option(c.listFiles()).getOrElse(Array.empty)
                  .filter(_.getName.endsWith(".parquet")).toSeq))
            .toMap
        val fragF = filesPerDir(frag)
        val compF = filesPerDir(comp)
        assert(fragF.keySet === compF.keySet)
        val target = VolumeQueries.CompactTargetRows
        fragF.keySet.foreach { d =>
          val rows = compF(d).map(f => spark.read.parquet(f.getPath).count())
          val nf = (rows.sum + target - 1) / target
          // never more files than needed modulo the hard row cap; never
          // more than the fragmented state
          assert(compF(d).size <= 2 * nf, s"$d over file budget")
          assert(compF(d).size <= fragF(d).size, s"$d grew")
          rows.foreach(r => assert(r <= target, s"$d has an oversized file"))
        }
        // the fixture really was fragmented, and compaction really collapsed
        assert(fragF.values.map(_.size).max >= VolumeQueries.CompactWaves)
        assert(compF.values.map(_.size).sum < fragF.values.map(_.size).sum)
        // lossless: identical voxel multiset
        val a = spark.read.parquet(frag).select("level", "c", "z", "y", "x", "v")
          .orderBy("level", "c", "z", "y", "x").collect().toSeq
        val b = spark.read.parquet(comp).select("level", "c", "z", "y", "x", "v")
          .orderBy("level", "c", "z", "y", "x").collect().toSeq
        assert(a.map(_.toString) === b.map(_.toString))
      }
    }
  }

  test("snapshot store: rewrite isolation, time travel, and vacuum safety") {
    import spark.implicits._
    import graft.sources.SnapshotStore
    val wide = (for (c <- 0L until 2L; z <- 0L until 16L; y <- 0L until 16L;
        x <- 0L until 16L)
      yield (c, z, y, x, z * 256 + y * 16 + x + 1)).toDF("c", "z", "y", "x", "v")
    val pyr = graft.octree.Pyramid(wide).localCheckpoint()
    Scratch.withDir("snap") { store =>
      (0 until VolumeQueries.CompactWaves).foreach { k =>
        pyr.filter(pmod(col("z"), lit(VolumeQueries.CompactWaves.toLong)) === k.toLong)
          .write.mode(org.apache.spark.sql.SaveMode.Append)
          .partitionBy("level", "c").parquet(store)
      }
      val v1 = SnapshotStore.commit(store, SnapshotStore.listDataFiles(store))
      val v2 = SnapshotStore.commit(store,
        VolumeQueries.compactVersion(spark, store, v1))
      assert(SnapshotStore.latest(store) === v2)
      val f1 = SnapshotStore.files(store, v1).toSet
      val f2 = SnapshotStore.files(store, v2).toSet
      // the rewrite produced a wholly new file set; both are live on disk
      assert(f1.nonEmpty && f2.nonEmpty && f1.intersect(f2).isEmpty)
      assert((f1 ++ f2).subsetOf(SnapshotStore.listDataFiles(store).toSet))
      def voxels(v: Int): Seq[String] =
        SnapshotStore.read(spark, store, v)
          .select(col("level").cast("long"), col("c").cast("long"),
            col("z"), col("y"), col("x"), col("v"))
          .orderBy("level", "c", "z", "y", "x").collect().map(_.toString).toSeq
      val expected = pyr
        .select(col("level").cast("long"), col("c").cast("long"),
          col("z"), col("y"), col("x"), col("v"))
        .orderBy("level", "c", "z", "y", "x").collect().map(_.toString).toSeq
      // time travel BEHIND the rewrite and the rewritten head both read
      // exactly the pyramid
      assert(voxels(v1) === expected)
      assert(voxels(v2) === expected)
      // vacuum: v1's files reclaimed, v1's manifest gone, v2 untouched
      val dead = SnapshotStore.expire(store, v2)
      assert(dead.toSet === f1)
      assert(SnapshotStore.versions(store) === Seq(v2))
      assert(SnapshotStore.listDataFiles(store).toSet === f2)
      assert(voxels(v2) === expected)
    }
  }

  test("CSV staging round-trips hostile text (quotes, commas, newlines) losslessly") {
    import spark.implicits._
    val rows = Seq((1L, "a,b,c"), (2L, "he said \"hi\" twice"),
      (3L, "line1\nline2\r\nline3"), (4L, "trailing,\"\n"))
    val df = rows.toDF("id", "t")
    Scratch.withDir("csv_spec") { tmp =>
      // without the two whitespace options the WRITER trims the trailing
      // newline of row 4 inside its quotes — this spec pins the fix
      df.write.mode("overwrite").option("header", "true")
        .option("ignoreLeadingWhiteSpace", "false")
        .option("ignoreTrailingWhiteSpace", "false")
        .option("quote", "\"").option("escape", "\"").csv(tmp)
      val back = spark.read.schema(df.schema)
        .option("header", "true").option("multiLine", "true")
        .option("ignoreLeadingWhiteSpace", "false")
        .option("ignoreTrailingWhiteSpace", "false")
        .option("quote", "\"").option("escape", "\"").csv(tmp)
        .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
      assert(back === rows.sortBy(_._1))
    }
  }

  test("snapshot store: unrepresentable file names rejected, empty store errors") {
    import graft.sources.SnapshotStore
    Scratch.withDir("snap_edge") { store =>
      new java.io.File(store).mkdirs()
      // latest() on a store with no committed version: a DESCRIPTIVE
      // error, not an opaque empty-max UnsupportedOperationException
      val e = intercept[IllegalArgumentException](SnapshotStore.latest(store))
      assert(e.getMessage.contains(store))
      // the hand-written manifest splits its array on ',': names the
      // format cannot represent must be rejected AT COMMIT, never
      // corrupt the manifest silently
      for (bad <- Seq("a,b.parquet", "a\"b.parquet", "a\nb.parquet"))
        intercept[IllegalArgumentException](SnapshotStore.commit(store, Seq(bad)))
      assert(SnapshotStore.versions(store).isEmpty) // nothing half-committed
      val v = SnapshotStore.commit(store, Seq("level=0/c=0/part-0.parquet"))
      assert(SnapshotStore.latest(store) === v)
      assert(SnapshotStore.files(store, v) === Seq("level=0/c=0/part-0.parquet"))
    }
  }

  test("physical n5 container round-trips: chunk bytes parse back to the exact arthur pyramid") {
    val dir = "/root/testdata/sf0.001"
    Scratch.withDir("n5_spec") { out =>
      N5Binary.writeContainer(spark, dir, out)
      // 1. every level's voxels decoded from bytes == the pyramid frame
      val want = graft.octree.Pyramid(graft.VoxelGrid(spark, dir))
        .orderBy("level", "c", "z", "y", "x").collect().map(_.toSeq)
      val got = N5Binary.parseVoxels(spark, out).orderBy("level", "c", "z", "y", "x")
        .collect().map(_.toSeq)
      assert(got.nonEmpty)
      assert(got.toSeq === want.toSeq)
      // 2. discovery from attributes.json bytes == the full catalog
      val levels = N5Binary.discoverLevels(spark, out).orderBy("level", "c").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      assert(levels === (for (s <- 0L until 3L; c <- 0L until 2L) yield {
        val edge = 16L >> s
        val nb = edge / graft.VoxelGrid.Leaf
        (s, c, edge, nb * nb * nb)
      }).toSeq)
      // 3. sparsity: exactly one chunk file per OCCUPIED s0 block per
      //    channel (all-zero chunks are absent, the N5 convention)
      val occupied = graft.VoxelGrid(spark, dir).collect().map { r =>
        val leaf = graft.VoxelGrid.Leaf
        (r.getLong(0), r.getLong(1) / leaf, r.getLong(2) / leaf, r.getLong(3) / leaf)
      }.toSet
      def chunks(root: java.io.File): Seq[java.io.File] =
        if (root.isDirectory) Option(root.listFiles()).toSeq.flatten.flatMap(chunks)
        else if (root.getName != "attributes.json") Seq(root) else Seq.empty
      val s0 = chunks(new java.io.File(out))
        .filter(_.getAbsolutePath.contains("/s0/"))
      assert(s0.size === occupied.size)
      // 4. chunk header: default mode, 3 dims of blockSize each
      val bytes = java.nio.file.Files.readAllBytes(s0.head.toPath)
      def u16(o: Int) = ((bytes(o) & 0xff) << 8) | (bytes(o + 1) & 0xff)
      def u32(o: Int) = ((bytes(o) & 0xffL) << 24) | ((bytes(o + 1) & 0xffL) << 16) |
        ((bytes(o + 2) & 0xffL) << 8) | (bytes(o + 3) & 0xffL)
      assert(u16(0) === 0 && u16(2) === 3)
      assert((0 until 3).map(i => u32(4 + 4 * i)) === Seq.fill(3)(graft.VoxelGrid.Leaf.toLong))
      // 5. the root pixelResolution attribute reads back
      //    (get_pixel_resolution_n5_zarr's probe)
      assert(N5Binary.pixelResolution(out) === N5Binary.PixelResolution)
    }
  }

  test("physical zarr container round-trips: chunk bytes parse back to the exact arthur pyramid") {
    import graft.sources.ZarrBinary
    val dir = "/root/testdata/sf0.001"
    Scratch.withDir("zarr_spec") { out =>
      ZarrBinary.writeContainer(spark, dir, out)
      // 1. every level's voxels decoded from bytes == the pyramid frame
      val want = graft.octree.Pyramid(graft.VoxelGrid(spark, dir))
        .orderBy("level", "c", "z", "y", "x").collect().map(_.toSeq)
      val got = ZarrBinary.parseVoxels(spark, out).orderBy("level", "c", "z", "y", "x")
        .collect().map(_.toSeq)
      assert(got.nonEmpty)
      assert(got.toSeq === want.toSeq)
      // 2. discovery from .zarray bytes == the full catalog (same rows
      //    as the N5 flavor — the two containers are interchangeable)
      val levels = ZarrBinary.discoverLevels(spark, out).orderBy("level", "c").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      assert(levels === (for (s <- 0L until 3L; c <- 0L until 2L) yield {
        val edge = 16L >> s
        val nb = edge / graft.VoxelGrid.Leaf
        (s, c, edge, nb * nb * nb)
      }).toSeq)
      // 3. sparsity: exactly one chunk file per OCCUPIED s0 block per
      //    channel (missing chunks = fill_value, the Zarr convention)
      val occupied = graft.VoxelGrid(spark, dir).collect().map { r =>
        val leaf = graft.VoxelGrid.Leaf
        (r.getLong(0), r.getLong(1) / leaf, r.getLong(2) / leaf, r.getLong(3) / leaf)
      }.toSet
      def chunks(root: java.io.File): Seq[java.io.File] =
        if (root.isDirectory) Option(root.listFiles()).toSeq.flatten.flatMap(chunks)
        else if (!root.getName.startsWith(".")) Seq(root) else Seq.empty
      val s0 = chunks(new java.io.File(out))
        .filter(_.getAbsolutePath.contains("/s0/"))
      assert(s0.size === occupied.size)
      // 4. chunk files are RAW zlib — no N5-style header: the inflated
      //    payload is exactly Leaf³ BE u16 values
      val inf = new java.util.zip.Inflater()
      inf.setInput(java.nio.file.Files.readAllBytes(s0.head.toPath))
      val l = graft.VoxelGrid.Leaf
      val raw = new Array[Byte](l * l * l * 2 + 1)
      val n = inf.inflate(raw)
      assert(inf.finished() && n === l * l * l * 2)
      // 5. the root .zattrs pixelResolution reads back
      assert(ZarrBinary.pixelResolution(out) === ZarrBinary.PixelResolution)
    }
  }

  test("nested-separator zarr containers round-trip identically to flat ones") {
    // dimension_separator "/" (the nested layout real stores use and
    // v3 standardizes) must parse back to the same pyramid as "."
    import graft.sources.ZarrBinary
    val dir = "/root/testdata/sf0.001"
    Scratch.withDir("zarr_nested") { out =>
      ZarrBinary.writeContainer(spark, dir, out, separator = "/")
      // chunks are nested directories now, not flat dot-files
      assert(new java.io.File(s"$out/c0/s0").listFiles()
        .exists(f => f.isDirectory && f.getName.forall(_.isDigit)))
      val want = graft.octree.Pyramid(graft.VoxelGrid(spark, dir))
        .orderBy("level", "c", "z", "y", "x").collect().map(_.toSeq)
      val got = ZarrBinary.parseVoxels(spark, out).orderBy("level", "c", "z", "y", "x")
        .collect().map(_.toSeq)
      assert(got.nonEmpty)
      assert(got.toSeq === want.toSeq)
      // and the .zarray advertises the separator
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$out/c0/s0/.zarray")), "UTF-8")
      assert(txt.contains(""""dimension_separator":"/""""))
    }
  }

  test("gzip-compressed zarr containers round-trip identically to zlib ones") {
    // numcodecs ships both `zlib` (raw DEFLATE) and `gzip`
    // (gzip-framed) as distinct codec ids; the parser must honor the
    // id in .zarray per array via the same broadcast-joined metadata
    import graft.sources.ZarrBinary
    val dir = "/root/testdata/sf0.001"
    Scratch.withDir("zarr_gzip") { out =>
      ZarrBinary.writeContainer(spark, dir, out, compressor = "gzip")
      // chunk payloads are genuinely gzip-framed (magic 1f 8b)
      def chunks(root: java.io.File): Seq[java.io.File] =
        if (root.isDirectory) Option(root.listFiles()).toSeq.flatten.flatMap(chunks)
        else if (!root.getName.startsWith(".")) Seq(root) else Seq.empty
      val head = java.nio.file.Files.readAllBytes(chunks(new java.io.File(out)).head.toPath)
      assert((head(0) & 0xff) === 0x1f && (head(1) & 0xff) === 0x8b)
      val want = graft.octree.Pyramid(graft.VoxelGrid(spark, dir))
        .orderBy("level", "c", "z", "y", "x").collect().map(_.toSeq)
      val got = ZarrBinary.parseVoxels(spark, out).orderBy("level", "c", "z", "y", "x")
        .collect().map(_.toSeq)
      assert(got.nonEmpty)
      assert(got.toSeq === want.toSeq)
    }
  }

  test("zarr decode is C-order on a non-cubic chunk (axis mixups cannot hide)") {
    import graft.sources.ZarrBinary
    Scratch.withDir("zarr_order") { out =>
      // hand-write a one-chunk array of shape (2, 3, 4): value encodes
      // the coordinate as z·100 + y·10 + x + 1, C-order serialization
      val (dz, dy, dx) = (2, 3, 4)
      new java.io.File(s"$out/c0/s0").mkdirs()
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$out/c0/s0/.zarray"),
        (s"""{"zarr_format":2,"shape":[$dz,$dy,$dx],"chunks":[$dz,$dy,$dx],""" +
          s""""dtype":">u2","compressor":{"id":"zlib","level":1},""" +
          s""""fill_value":0,"order":"C","filters":null}""").getBytes("UTF-8"))
      val raw = new Array[Byte](dz * dy * dx * 2)
      for (z <- 0 until dz; y <- 0 until dy; x <- 0 until dx) {
        val v = z * 100 + y * 10 + x + 1
        val off = ((z * dy + y) * dx + x) * 2
        raw(off) = ((v >> 8) & 0xff).toByte; raw(off + 1) = (v & 0xff).toByte
      }
      val d = new java.util.zip.Deflater(1)
      d.setInput(raw); d.finish()
      val buf = new Array[Byte](raw.length * 2 + 64)
      val nc = d.deflate(buf)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$out/c0/s0/0.0.0"), buf.take(nc))
      val got = ZarrBinary.parseVoxels(spark, out).collect()
        .map(r => (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toSet
      val want = (for (z <- 0 until dz; y <- 0 until dy; x <- 0 until dx)
        yield (z.toLong, y.toLong, x.toLong, (z * 100 + y * 10 + x + 1).toLong)).toSet
      assert(got === want)
    }
  }

  test("corrupt container chunks fail loudly in both N5 and Zarr parsers") {
    // a truncated/garbled chunk must surface as a task failure with
    // the parser's own message, never as silently-missing voxels —
    // at 100 TB a quiet decode hole is data corruption, not an error
    val dir = "/root/testdata/sf0.001"
    for ((name, write, parse) <- Seq[(String,
        (org.apache.spark.sql.SparkSession, String, String) => Unit,
        (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame)](
      ("n5", (s, d, o) => N5Binary.writeContainer(s, d, o),
        (s, o) => N5Binary.parseVoxels(s, o)),
      ("zarr", (s, d, o) => graft.sources.ZarrBinary.writeContainer(s, d, o),
        (s, o) => graft.sources.ZarrBinary.parseVoxels(s, o)))) {
      Scratch.withDir(s"corrupt_$name") { out =>
        write(spark, dir, out)
        // find one chunk file and truncate it mid-payload
        def chunks(root: java.io.File): Seq[java.io.File] =
          if (root.isDirectory) Option(root.listFiles()).toSeq.flatten.flatMap(chunks)
          else if (!root.getName.startsWith(".") && root.getName != "attributes.json")
            Seq(root) else Seq.empty
        val victim = chunks(new java.io.File(out)).head
        val bytes = java.nio.file.Files.readAllBytes(victim.toPath)
        java.nio.file.Files.write(victim.toPath, bytes.take(bytes.length / 2))
        val e = intercept[Throwable](parse(spark, out).collect())
        // the parser's length/format require must be the root cause
        def chain(t: Throwable): Seq[Throwable] =
          Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
        assert(chain(e).exists(c => c.getMessage != null &&
          (c.getMessage.contains("not exactly") || c.getMessage.contains("truncated") ||
            c.getMessage.contains("chunk") || c.getMessage.contains("Unexpected") ||
            c.isInstanceOf[java.io.IOException])),
          s"$name corruption surfaced as: ${chain(e).map(_.getClass.getSimpleName)}")
      }
    }
  }

  test("ingest level math matches the reference formulas") {
    import graft.sources.IngestDispatch.{adjustDimensions, calcOptimalNlevels}
    // adjust_dimensions trims each axis to a multiple of 2^nlevels
    assert(adjustDimensions(Seq(16L, 16L, 16L), 3) === Seq(16L, 16L, 16L))
    assert(adjustDimensions(Seq(1000L, 300L, 77L), 1) === Seq(1000L, 300L, 76L))
    assert(adjustDimensions(Seq(1000L, 300L, 77L), 4) === Seq(992L, 288L, 64L))
    // calc_optimal_nlevels grows levels until a leaf is under 512³
    assert(calcOptimalNlevels(Seq(16L, 16L, 16L)) === 1)
    assert(calcOptimalNlevels(Seq(4096L, 2048L, 1024L)) === 4)
    assert(calcOptimalNlevels(Seq(5000L, 5000L, 5000L)) === 5)
    // boundary: leaf exactly 512³ is NOT under the cap → one more level
    assert(calcOptimalNlevels(Seq(512L, 512L, 512L)) === 2)
  }

  test("jp2 header boxes round-trip and cross-check ihdr against SIZ") {
    import graft.sources.Jp2Binary
    val page = Array.tabulate(16, 16)((y, x) => (y * 16 + x).toLong)
    val bytes = Jp2Binary.serialize(page)
    // signature box is byte-exact per ISO 15444-1 I.5.1
    assert(bytes.take(12).map(_ & 0xff).toSeq ===
      Seq(0, 0, 0, 12, 'j', 'P', ' ', ' ', 0x0d, 0x0a, 0x87, 0x0a))
    val hd = Jp2Binary.parseHeader(bytes)
    assert(hd === Jp2Binary.Jp2Header(16, 16, 1, 16))
    // header parse must work from a bounded prefix (the sniff reads 4 KB)
    assert(Jp2Binary.parseHeader(bytes.take(
      math.min(bytes.length, 4096))) === hd)
    // a tampered SIZ width must fail the ihdr/SIZ cross-check
    val bad = bytes.clone()
    val jp2c = (0 until bytes.length - 8).find(o =>
      new String(bytes.slice(o + 4, o + 8), "US-ASCII") == "jp2c").get
    bad(jp2c + 8 + 11) = 99.toByte // low byte of Xsiz
    assertThrows[IllegalArgumentException](Jp2Binary.parseHeader(bad))
  }

  test("ingest dispatch: every staged arm sniffs to the reference catalog, slices ingest losslessly") {
    val dir = "/root/testdata/sf0.001"
    Scratch.withDir("ingest_spec") { out =>
      graft.sources.IngestDispatch.stageAll(spark, dir, out)
      val rows = graft.sources.IngestDispatch.discover(spark, out).orderBy("input").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3),
          (r.getLong(4), r.getLong(5), r.getLong(6)), r.getLong(7), r.getLong(8),
          r.getLong(9), (r.getLong(10), r.getLong(11), r.getLong(12)))).toSeq
      val g = (16L, 16L, 16L); val leaf = (4L, 4L, 4L)
      assert(rows === Seq(
        ("n5", "n5", "n5", 2L, g, 1L, 16L, 1L, leaf),
        ("slices_jp2/ch0", "slices", "jp2", 16L, g, 1L, 16L, 1L, leaf),
        ("slices_tif/ch0", "slices", "tif", 16L, g, 1L, 16L, 1L, leaf),
        ("stack/ch0.tif", "stack", "tif", 1L, g, 1L, 16L, 1L, leaf),
        ("stack/ch1.tif", "stack", "tif", 1L, g, 1L, 16L, 1L, leaf),
        ("zarr", "zarr", "zarr", 2L, g, 1L, 16L, 1L, leaf),
        ("zarr3", "zarr3", "zarr3", 2L, g, 1L, 16L, 1L, leaf)))
      // the slice arm read direction reproduces the voxel model exactly
      val want = graft.VoxelGrid(spark, dir)
        .orderBy("c", "z", "y", "x").collect().map(_.toSeq)
      val got = graft.sources.IngestDispatch.parseSliceVoxels(spark, out)
        .orderBy("c", "z", "y", "x").collect().map(_.toSeq)
      assert(got.nonEmpty)
      assert(got.toSeq === want.toSeq)
      // every slice file exists even when its plane is empty
      assert(new java.io.File(s"$out/slices_tif/ch0").list().length === 16)
      assert(new java.io.File(s"$out/slices_jp2/ch0").list().length === 16)
      // the jp2 arm decodes its channel through the REAL entropy
      // decoder and matches the voxel model exactly
      val wantC0 = want.filter(_.head == 0L)
      val gotJp2 = graft.sources.IngestDispatch.parseJp2Voxels(spark, out)
        .orderBy("c", "z", "y", "x").collect().map(_.toSeq)
      assert(gotJp2.nonEmpty)
      assert(gotJp2.toSeq === wantC0.toSeq)
      // the stack arm's multi-page read direction reproduces both
      // channels exactly (z = page index)
      val gotStack = graft.sources.IngestDispatch.parseStackVoxels(spark, out)
        .orderBy("c", "z", "y", "x").collect().map(_.toSeq)
      assert(gotStack.nonEmpty)
      assert(gotStack.toSeq === want.toSeq)
    }
  }

  test("tfrecord framing and Example encoding round-trip, CRCs detect corruption") {
    import graft.sources.TfRecordBinary
    val rows = Seq((0L, 0L, ""), (7L, 3L, "abc"),
      (4999L, 577L, "x" * 577), (128L, 16384L, "spark sort merge"))
    val shard = TfRecordBinary.shardBytes(rows)
    val parsed = TfRecordBinary.parseShard(shard)
    assert(parsed.map(r => (r.docId, r.nChars, r.text)) === rows)
    // byte accounting: per-record framing is 16 bytes + the Example
    assert(parsed.map(_.recBytes).sum === shard.length.toLong)
    // the oracle's varint-size CASE math must agree with the encoder
    for (v <- Seq(0L, 1L, 127L, 128L, 16383L, 16384L, 2097151L, 2097152L))
      assert(TfRecordBinary.varintSize(v) ===
        (if (v < 128) 1 else if (v < 16384) 2 else if (v < 2097152) 3 else 4))
    // a flipped payload byte must fail the data CRC
    val corrupt = shard.clone()
    corrupt(20) = (corrupt(20) ^ 0x01).toByte
    intercept[IllegalArgumentException](TfRecordBinary.parseShard(corrupt))
    // a flipped length byte must fail the length CRC
    val corrupt2 = shard.clone()
    corrupt2(0) = (corrupt2(0) ^ 0x01).toByte
    intercept[IllegalArgumentException](TfRecordBinary.parseShard(corrupt2))
    // masked CRC32C pins the published masking constant
    assert(TfRecordBinary.maskedCrc(Array[Byte]()) ===
      ((0L >>> 15 | 0L << 17) + TfRecordBinary.MaskDelta & 0xffffffffL))
  }

  test("src_tfrecord_sink stages shards and re-parses them to the table's aggregates") {
    val dir = "/root/testdata/sf0.001"
    val got = VolumeQueries.tfrecordSink(spark, dir).collect()
    assert(got.length === VolumeQueries.TfShards)
    val total = got.map(_.getAs[Long]("n_records")).sum
    assert(total === 500L)
    // parsed sums must equal the table's own aggregates per shard
    val want = Tables(spark, dir, "documents")
      .withColumn("shard", expr(
        s"graft_md5_prefix(concat('shard:', cast(doc_id as string))) % ${VolumeQueries.TfShards}"))
      .groupBy("shard").agg(count(lit(1)).as("n"), sum("doc_id").as("sid"))
      .collect().map(r => r.getAs[Long]("shard") ->
        ((r.getAs[Long]("n"), r.getAs[Long]("sid")))).toMap
    got.foreach { r =>
      val (n, sid) = want(r.getAs[Long]("shard"))
      assert(r.getAs[Long]("n_records") === n)
      assert(r.getAs[Long]("sum_doc_id") === sid)
    }
  }

  test("ustar entries round-trip, checksums detect header corruption") {
    import graft.sources.TarBinary
    val samples = Seq(("00000007.txt", "hello world".getBytes("UTF-8")),
      ("00000007.cls", "en".getBytes("UTF-8")),
      ("00000012.txt", Array.fill[Byte](512)('a'.toByte)),  // exact block boundary
      ("00000012.cls", Array.empty[Byte]))                   // zero-size member
    val archive = samples.map { case (n, d) => TarBinary.entry(n, d) }
      .foldLeft(Array.empty[Byte])(_ ++ _) ++ TarBinary.trailer
    val parsed = TarBinary.parse(archive)
    assert(parsed.map(m => (m.name, m.data.toSeq)) ===
      samples.map { case (n, d) => (n, d.toSeq) })
    // byte accounting: entries + the two-block trailer = file size
    assert(parsed.map(_.entryBytes).sum + 1024 === archive.length.toLong)
    // a flipped name byte must fail the header checksum
    val corrupt = archive.clone()
    corrupt(3) = (corrupt(3) ^ 0x01).toByte
    intercept[IllegalArgumentException](TarBinary.parse(corrupt))
  }

  test("src_wds_sink stages WebDataset tar shards and re-assembles samples") {
    val dir = "/root/testdata/sf0.001"
    val got = VolumeQueries.wdsSink(spark, dir).collect()
    assert(got.length === VolumeQueries.TfShards)
    assert(got.map(_.getAs[Long]("n_samples")).sum === 500L)
    // tar members are 512-aligned: every shard's byte total is a block multiple
    got.foreach(r => assert(r.getAs[Long]("bytes_total") % 512 === 0L))
  }

  test("zarr v3 containers round-trip: zarr.json metadata + c/ chunk keys + codec pipeline") {
    import graft.sources.Zarr3Binary
    val dir = "/root/testdata/sf0.001"
    Scratch.withDir("zarr3_spec") { out =>
      Zarr3Binary.writeContainer(spark, dir, out)
      // voxels decoded from bytes == the pyramid frame (same bar as v2)
      val want = graft.octree.Pyramid(graft.VoxelGrid(spark, dir))
        .orderBy("level", "c", "z", "y", "x").collect().map(_.toSeq)
      val got = Zarr3Binary.parseVoxels(spark, out).orderBy("level", "c", "z", "y", "x")
        .collect().map(_.toSeq)
      assert(got.nonEmpty && got.toSeq === want.toSeq)
      // catalog from zarr.json bytes == the shared container catalog
      val levels = Zarr3Binary.discoverLevels(spark, out).orderBy("level", "c").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      assert(levels === (for (s <- 0L until 3L; c <- 0L until 2L) yield {
        val edge = 16L >> s
        val nb = edge / graft.VoxelGrid.Leaf
        (s, c, edge, nb * nb * nb)
      }).toSeq)
      // v3 layout invariants: ONE metadata document per node, chunks
      // under the default c/ key prefix, gzip-framed payloads
      assert(new java.io.File(s"$out/zarr.json").isFile)
      assert(new java.io.File(s"$out/c0/s0/zarr.json").isFile)
      assert(!new java.io.File(s"$out/.zgroup").exists)
      def chunks(root: java.io.File): Seq[java.io.File] =
        if (root.isDirectory) Option(root.listFiles()).toSeq.flatten.flatMap(chunks)
        else if (root.getName != "zarr.json") Seq(root) else Seq.empty
      val files = chunks(new java.io.File(out))
      assert(files.nonEmpty)
      assert(files.forall(_.getAbsolutePath.matches(".*/c/[0-9]+/[0-9]+/[0-9]+$")))
      val head = java.nio.file.Files.readAllBytes(files.head.toPath)
      assert((head(0) & 0xff) === 0x1f && (head(1) & 0xff) === 0x8b, "not gzip-framed")
      // root attributes ride inline in the v3 document
      assert(Zarr3Binary.pixelResolution(out) === Zarr3Binary.PixelResolution)
    }
  }

  test("DSV2 sink: Spark plans the clustering+sort and each block lands in ONE file") {
    import graft.sources.VolumeSink
    Scratch.withDir("vsink_spec_plan") { out =>
      val pyr = graft.octree.Pyramid(graft.VoxelGrid(spark, "/root/testdata/sf0.001"))
      val blocked = graft.octree.Addressing.blockify(pyr)
        .select("level", "c", "bz", "by", "bx", "lz", "ly", "lx", "v")
      // DELIBERATELY mis-ordered input: rows shuffled across keys. The
      // write still succeeds because Spark satisfies the Write's
      // RequiresDistributionAndOrdering; the writer's contiguity
      // tripwire would fail the task otherwise.
      blocked.orderBy(col("v"), col("lx"))
        .write.format("graft.sources.VolumeSink").option("path", out)
        .mode("overwrite").save()
      // one chunk file per distinct block, under level=/c= dirs
      val nBlocks = blocked.select("level", "c", "bz", "by", "bx").distinct().count()
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
      val files = walk(new java.io.File(out))
      assert(files.count(_.getName.endsWith(".vox")).toLong === nBlocks)
      assert(files.exists(_.getName == "_manifest.json"), "commit manifest missing")
      assert(!files.exists(_.getName.contains("inprogress")), "staged files leaked")
      // round trip: decoded chunks equal the pyramid frame exactly
      val got = VolumeSink.parseVoxels(spark, out)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5))).sorted.toSeq
      val want = pyr.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).sorted.toSeq
      assert(got === want)
    }
  }

  test("DSV2 sink: duplicate blocks abort instead of silently overwriting") {
    Scratch.withDir("vsink_spec_dup") { out =>
      val pyr = graft.octree.Pyramid(graft.VoxelGrid(spark, "/root/testdata/sf0.001"))
      val blocked = graft.octree.Addressing.blockify(pyr)
        .select("level", "c", "bz", "by", "bx", "lz", "ly", "lx", "v")
        .localCheckpoint(true)
      blocked.write.format("graft.sources.VolumeSink").option("path", out)
        .mode("overwrite").save()
      // appending the same blocks again must fail the move-without-
      // replace guard, not quietly replace the chunk files
      val e = intercept[Exception] {
        blocked.write.format("graft.sources.VolumeSink").option("path", out)
          .mode("append").save()
      }
      def msgs(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => Seq(Option(x.getMessage).getOrElse(""),
          x.getClass.getName) ++ msgs(x.getCause))
      assert(msgs(e).exists(m => m.contains("FileAlreadyExists") || m.contains("exists")),
        e.toString)
    }
  }

  test("DSV2 sink: a wrong input schema is rejected at write planning") {
    Scratch.withDir("vsink_spec_schema") { out =>
      val e = intercept[Exception] {
        spark.range(3).toDF("level")
          .write.format("graft.sources.VolumeSink").option("path", out)
          .mode("overwrite").save()
      }
      // Spark's own V2 write analysis rejects the shape first
      // (INCOMPATIBLE_DATA_FOR_TABLE); the builder's own require is
      // the backstop for non-analyzer entry points
      assert(e.getMessage != null &&
        (e.getMessage.contains("INCOMPATIBLE_DATA_FOR_TABLE") ||
          e.getMessage.contains("VolumeSink expects columns")),
        e.toString)
    }
  }
}
