package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.octree._

/** End-to-end pins for [[graft.octree.OctreePipeline]] — the
  * build_octree_from_tiff_slices capstone. The oracle rows certify
  * volume identity and the per-artifact audit; these specs pin what
  * SQL cannot see: BYTE identity of the resumed tree, the resume
  * pass's skip behavior, transform.txt round-tripping, and
  * TIFF-vs-KTX cross-format agreement.
  */
class OctreePipelineSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"

  @transient lazy val spark: SparkSession = GraftSession("OctreePipelineSpec", 2)

  override def afterAll(): Unit = { spark.stop(); Scratch.rm(tmp) }

  import org.apache.spark.sql.functions._

  private val tmp = Scratch.path("octp_spec")

  /** relpath -> MD5 of every file under root. */
  private def hashTree(root: String): Map[String, String] = {
    def walk(f: java.io.File, rel: String): Seq[(String, String)] =
      if (f.isDirectory)
        Option(f.listFiles()).toSeq.flatten.flatMap(c =>
          walk(c, if (rel.isEmpty) c.getName else s"$rel/${c.getName}"))
      else {
        val md = java.security.MessageDigest.getInstance("MD5")
        Seq(rel -> md.digest(java.nio.file.Files.readAllBytes(f.toPath))
          .map("%02x".format(_)).mkString)
      }
    walk(new java.io.File(root), "").toMap
  }

  @transient private lazy val pyr = {
    val p = Pyramid(graft.VoxelGrid(spark, sfDir)).localCheckpoint(true)
    p.count()
    p
  }

  /** (level, c, z, y, x, v) rows of a frame, sorted. */
  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.select("level", "c", "z", "y", "x", "v").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).sorted.toSeq

  @transient private lazy val model = rows(pyr)

  test("interrupted-then-resumed tree is byte-identical to a one-shot build") {
    val oneShot = s"$tmp/oneshot"
    val resumed = s"$tmp/resumed"
    OctreePipeline.writeTree(spark, pyr, oneShot).count()
    OctreePipeline.writeTransform(spark, oneShot)
    // the crash: only the leaf level lands
    OctreePipeline.writeTree(spark,
      pyr.filter(col("level") === graft.VoxelGrid.Levels), resumed).count()
    val partial = hashTree(resumed)
    assert(partial.nonEmpty && partial.size < hashTree(oneShot).size,
      "interrupted build should be a strict subset")
    // the resume: completes the remaining levels from the listing
    OctreePipeline.writeTree(spark, pyr, resumed, skipExisting = true).count()
    OctreePipeline.writeTransform(spark, resumed)
    assert(hashTree(resumed) === hashTree(oneShot))
  }

  test("resume skips complete blocks and repairs exactly what is missing") {
    val root = s"$tmp/repair"
    OctreePipeline.writeTree(spark, pyr, root).count()
    val full = hashTree(root)
    // a second resume pass over a complete tree writes NOTHING
    val rerun = OctreePipeline.writeTree(spark, pyr, root, skipExisting = true)
      .agg(sum("written")).collect()(0).getLong(0)
    assert(rerun === 0L)
    // delete one mid-tree file: the next resume writes exactly it back
    val victim = full.keys.filter(_.endsWith(".tif")).toSeq.sorted
      .apply(full.size / 3)
    assert(new java.io.File(s"$root/$victim").delete())
    val repair = OctreePipeline.writeTree(spark, pyr, root, skipExisting = true)
    val written = repair.filter(col("written") === 1L)
      .select("rel").collect().map(_.getString(0)).toSeq
    assert(written === Seq(victim))
    assert(hashTree(root) === full)
  }

  test("transform.txt round-trips the oct_transform geometry") {
    val root = s"$tmp/transform"
    OctreePipeline.writeTransform(spark, root)
    val (ox, oy, oz, sx, sy, sz, nl) = OctreePipeline.readTransform(root)
    val r = Geometry.transform(spark).collect()(0)
    assert((ox, oy, oz) === ((r.getDouble(0), r.getDouble(1), r.getDouble(2))))
    assert((sx, sy, sz) === ((r.getDouble(3), r.getDouble(4), r.getDouble(5))))
    assert(nl === r.getLong(6))
  }

  test("KTX mip-0 bytes decode to exactly the TIFF bytes' voxels at every level") {
    val root = s"$tmp/crossfmt"
    OctreePipeline.writeTree(spark, pyr, root).count()
    val tif = rows(OctreePipeline.parseTiffTree(spark, root))
    val ktx = rows(OctreePipeline.parseKtxTree(spark, root))
    assert(tif.nonEmpty && tif === ktx)
    // and both equal the pyramid frame that wrote them
    assert(tif === model)
  }

  test("writeTree shuffles once into defaultParallelism serialize tasks") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
      SparkListenerStageCompleted}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
    val sc = spark.sparkContext
    assert(model.nonEmpty)
    // (stage id, tasks) of every stage the write runs; a marker job
    // after it guarantees every earlier event has been delivered
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Int)]
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.add(e.stageInfo.stageId -> e.stageInfo.numTasks): Unit
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull == "marker")
          marker.countDown()
    }
    // the top levels only: a shuffle small enough that AQE would
    // coalesce it into fewer partitions than cores
    val w = OctreePipeline.writeTree(spark, pyr.filter(col("level") <= 3L), s"$tmp/parallel")
    sc.addSparkListener(listener)
    try {
      assert(w.collect().length > 0)
      sc.setJobGroup("marker", "marker")
      sc.parallelize(Seq(1), 1).count()
      sc.clearJobGroup()
      assert(marker.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    // the marker's stage is the last; the write's result stage precedes it
    val serialize = stages.asScala.toSeq.sortBy(_._1).dropRight(1).last
    assert(serialize._2 === sc.defaultParallelism, stages.toString)
    val plan = w.queryExecution.executedPlan
    val exchanges = new AdaptiveSparkPlanHelper {}.collect(plan) {
      case e: ShuffleExchangeLike => e
      case e: ReusedExchangeExec => e
    }
    assert(exchanges.size === 1, plan.toString)
  }

  test("a tree rooted at a directory named like an octant parses back to the pyramid") {
    val root = s"$tmp/1"
    OctreePipeline.writeTree(spark, pyr, root).count()
    assert(rows(OctreePipeline.parseTiffTree(spark, root)) === model)
    assert(rows(OctreePipeline.parseKtxTree(spark, root)) === model)
  }

  test("both parsers skip hidden, underscore-prefixed and foreign files") {
    val root = s"$tmp/planted"
    OctreePipeline.writeTree(spark, pyr, root).count()
    OctreePipeline.writeTransform(spark, root)
    // copies of real blocks: parsed, they would add voxels
    val listed = TreeFiles.list(root).map(_._1)
    def plant(from: String, name: String): Unit = {
      val src = new java.io.File(s"$root/$from")
      java.nio.file.Files.copy(src.toPath, new java.io.File(src.getParentFile, name).toPath): Unit
    }
    plant(listed.find(_.endsWith(".tif")).get, ".default.0.tif")
    plant(listed.find(_.endsWith(".ktx")).get, "_stray.ktx")
    assert(TreeFiles.list(root).map(_._1).contains("transform.txt"))
    assert(rows(OctreePipeline.parseTiffTree(spark, root)) === model)
    assert(rows(OctreePipeline.parseKtxTree(spark, root)) === model)
  }

  test("parsing a missing tree throws") {
    val root = s"$tmp/absent"
    intercept[java.io.FileNotFoundException](OctreePipeline.parseTiffTree(spark, root))
    intercept[java.io.FileNotFoundException](OctreePipeline.parseKtxTree(spark, root))
  }
}
