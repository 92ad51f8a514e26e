package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The scratch-directory contract: names stay `graft_<prefix>_<pid>_<n>`
  * under [[Scratch.root]], a scoped directory is gone after its call
  * whether the call returns or throws, and an op that fails mid-staging
  * leaves nothing behind.
  */
class ScratchSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient lazy val spark: SparkSession = GraftSession("ScratchSpec", 2)

  override def afterAll(): Unit = spark.stop()

  private val pid = ProcessHandle.current().pid()

  /** Entries under the scratch root named `graft_<prefix>_<pid>_*`. */
  private def staged(prefix: String): Set[String] =
    Option(new java.io.File(Scratch.root).list()).toSeq.flatten
      .filter(_.startsWith(s"graft_${prefix}_${pid}_")).toSet

  private def plantTree(dir: String): Unit = {
    val leaf = new java.io.File(s"$dir/a/b/c")
    assert(leaf.mkdirs())
    java.nio.file.Files.write(new java.io.File(leaf, "x.bin").toPath, Array[Byte](1, 2, 3))
    java.nio.file.Files.write(new java.io.File(s"$dir/top.txt").toPath, "t".getBytes("UTF-8"))
  }

  test("withDir hands out a fresh graft_<prefix>_<pid>_<n> path and deletes its nested tree on return") {
    var seen = ""
    val out = Scratch.withDir("scratch_spec") { dir =>
      seen = dir
      assert(dir.matches(s"\\Q${Scratch.root}\\E/graft_scratch_spec_${pid}_[0-9]+"))
      assert(!new java.io.File(dir).exists())
      plantTree(dir)
      assert(new java.io.File(s"$dir/a/b/c/x.bin").isFile)
      42
    }
    assert(out === 42)
    assert(seen.nonEmpty && !new java.io.File(seen).exists())
  }

  test("withDir deletes the tree and rethrows the same exception when the body throws") {
    var seen = ""
    val boom = new IllegalStateException("boom")
    val e = intercept[IllegalStateException] {
      Scratch.withDir("scratch_spec") { dir =>
        seen = dir
        plantTree(dir)
        throw boom
      }
    }
    assert(e eq boom)
    assert(seen.nonEmpty && !new java.io.File(seen).exists())
  }

  test("concurrent path calls give distinct names") {
    val threads = 4
    val perThread = 500
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val start = new java.util.concurrent.CountDownLatch(1)
      val futures = (0 until threads).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Seq[String]] {
          def call(): Seq[String] = {
            start.await()
            (0 until perThread).map(_ => Scratch.path("x"))
          }
        })
      }
      start.countDown()
      val names = futures.flatMap(_.get())
      assert(names.size === threads * perThread)
      assert(names.distinct.size === names.size)
    } finally pool.shutdownNow(): Unit
  }

  test("rm on a missing path is a no-op") {
    val missing = Scratch.path("scratch_spec_missing")
    assert(!new java.io.File(missing).exists())
    Scratch.rm(missing)
    Scratch.rm(new java.io.File(s"$missing/deeper"))
    assert(!new java.io.File(missing).exists())
  }

  test("volume ingest that fails mid-staging leaves no graft_vsing directory") {
    val before = staged("vsing")
    intercept[Throwable](
      graft.streaming.EventStreams.volumeIngest(spark, Scratch.path("no_such_sf")))
    assert(staged("vsing") === before)
  }
}
