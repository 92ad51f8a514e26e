package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.octree.TreeFiles
import graft.sources.{IngestDispatch, N5Binary}

/** The listing rules every volume reader inherits from [[TreeFiles]],
  * and the Spark jobs each volume round-trip op submits.
  */
class TreeFilesSpec extends AnyFunSuite with BeforeAndAfterAll {

  val dir = "/root/testdata/sf0.001"

  @transient lazy val spark: SparkSession = GraftSession("TreeFilesSpec", 4)

  override def afterAll(): Unit = spark.stop()

  private def put(root: String, rel: String, text: String): Unit =
    TreeFiles.write(root, rel, text.getBytes("UTF-8"))

  test("write creates missing parent directories; read returns '/'-joined relative paths") {
    Scratch.withDir("tf_paths") { root =>
      TreeFiles.write(root, "a/b/c/x.bin", Array[Byte](1, 2))
      TreeFiles.write(root, "y.bin", Array[Byte](3))
      assert(new java.io.File(s"$root/a/b/c/x.bin").isFile)
      assert(TreeFiles.list(root) === Seq("a/b/c/x.bin" -> 2L, "y.bin" -> 1L))
      val got = TreeFiles.read(spark, root, _ => true).collect()
        .map { case (rel, bytes) => rel -> bytes.toSeq }.toMap
      assert(got === Map("a/b/c/x.bin" -> Seq[Byte](1, 2), "y.bin" -> Seq[Byte](3)))
      assert(TreeFiles.read(spark, root, _.startsWith("a/")).keys.collect().toSeq ===
        Seq("a/b/c/x.bin"))
    }
  }

  test("a missing root throws FileNotFoundException; an empty root reads zero rows") {
    Scratch.withDir("tf_empty") { root =>
      intercept[java.io.FileNotFoundException](TreeFiles.read(spark, s"$root/none", _ => true))
      new java.io.File(root).mkdirs()
      assert(TreeFiles.read(spark, root, _ => true).count() === 0L)
    }
  }

  test("'.' and '_' names are skipped, files and directories alike, in slice and N5 chunk dirs") {
    Scratch.withDir("tf_hidden") { root =>
      IngestDispatch.stageSlices(spark, dir, root)
      N5Binary.writeContainer(spark, dir, s"$root/n5")
      def slices = IngestDispatch.parseSliceVoxels(spark, root)
        .orderBy("c", "z", "y", "x").collect().toSeq
      def chunks = N5Binary.parseVoxels(spark, s"$root/n5")
        .orderBy("level", "c", "z", "y", "x").collect().toSeq
      val (wantSlices, wantChunks) = (slices, chunks)
      val chunk = TreeFiles.list(s"$root/n5").map(_._1)
        .find(!_.endsWith("attributes.json")).get
      val (chunkDir, chunkName) = chunk.splitAt(chunk.lastIndexOf('/') + 1)
      // what a Hadoop job or a checksumming copy leaves beside real
      // blocks; the hidden-directory copies carry names the readers'
      // own selectors accept, so only the listing rule keeps them out
      for ((base, d, name) <- Seq((s"$root/slices_tif", "ch0/", "z0000.tif"),
          (s"$root/n5", chunkDir, chunkName))) {
        put(base, s"${d}_SUCCESS", "")
        put(base, s"$d.$name.crc", "not a block")
        put(base, s"${d}_temporary/$name", "not a block")
        put(base, s"$d.staging/$name", "not a block")
      }
      assert(!TreeFiles.list(root).exists(_._1.split('/').exists(n =>
        n.startsWith(".") || n.startsWith("_"))))
      assert(wantSlices.nonEmpty && slices === wantSlices)
      assert(wantChunks.nonEmpty && chunks === wantChunks)
    }
  }

  /** Jobs per op measured with this test's body before the volume
    * readers moved from Hadoop `binaryFile` scans onto [[TreeFiles]]:
    * the bound each op must stay at or below.
    */
  private val jobsBefore = Seq("src_slice_ingest" -> 7, "src_stack_ingest" -> 9,
    "src_jp2_ingest" -> 9, "src_n5_bytes" -> 10, "src_zarr_bytes" -> 12,
    "src_zarr3_bytes" -> 12, "oct_tiff_bytes" -> 9, "src_volume_sink" -> 8)

  private def run(q: String): Unit = SparkEntry.queries(q)(spark, dir).collect(): Unit

  test("jobs per op: every volume round-trip op runs at most its measured job count") {
    jobsBefore.foreach { case (q, _) => run(q) }
    val got = jobsBefore.map { case (q, _) => q -> SparkJobs.count(spark)(run(q)) }
    info(got.map { case (q, n) => s"$q=$n" }.mkString(" "))
    got.zip(jobsBefore).foreach { case ((q, n), (_, bound)) =>
      assert(n <= bound, s"$q ran $n jobs, more than $bound")
    }
  }
}
