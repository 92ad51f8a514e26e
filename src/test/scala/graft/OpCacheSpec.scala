package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Pins the bench de-gaming contract (r13 verdict item 1): with the
  * artifact memos disabled — what `graft.Bench` does before timing —
  * every call to a cached op REBUILDS its artifact (no warm tmpfs
  * read can enter a timed region), while outputs stay bit-identical
  * to cached mode. The one sanctioned exemption (the graph-ANN
  * build/serve split) stays memoized even then.
  */
class OpCacheSpec extends AnyFunSuite with BeforeAndAfterAll {

  val dir = "/root/testdata/sf0.001"

  @transient lazy val spark: SparkSession = GraftSession("OpCacheSpec", 4)

  override def afterAll(): Unit = spark.stop()

  test("getOrBuild memoizes when enabled, rebuilds every call when disabled") {
    val cache = new java.util.concurrent.ConcurrentHashMap[String, String]()
    var builds = 0
    def build(): String = { builds += 1; s"artifact-$builds" }
    val saved = OpCache.isDisabled
    try {
      OpCache.setDisabledForTest(false)
      assert(OpCache.getOrBuild(cache, "k")(build()) == "artifact-1")
      assert(OpCache.getOrBuild(cache, "k")(build()) == "artifact-1")
      assert(builds == 1, "enabled mode must memoize")
      OpCache.setDisabledForTest(true)
      assert(OpCache.getOrBuild(cache, "k")(build()) == "artifact-2")
      assert(OpCache.getOrBuild(cache, "k")(build()) == "artifact-3")
      assert(builds == 3, "disabled (bench) mode must rebuild per call")
      // pinned variant ignores the switch — the sanctioned serve split
      val pinned = new java.util.concurrent.ConcurrentHashMap[String, String]()
      var pbuilds = 0
      def pbuild(): String = { pbuilds += 1; "p" }
      OpCache.getOrBuildPinned(pinned, "k")(pbuild())
      OpCache.getOrBuildPinned(pinned, "k")(pbuild())
      assert(pbuilds == 1, "pinned caches stay memoized under the bench")
    } finally OpCache.setDisabledForTest(saved)
  }

  test("bench mode: a cached dedup artifact is rebuilt per call, output unchanged") {
    val saved = OpCache.isDisabled
    try {
      OpCache.setDisabledForTest(false)
      val cachedOut = graft.ops.Dedup.signatures(spark, dir)
        .collect().map(_.toString).sorted
      val cachedFiles = graft.ops.Dedup.signatures(spark, dir)
        .inputFiles.toSeq.sorted
      OpCache.setDisabledForTest(true)
      val f1 = graft.ops.Dedup.signatures(spark, dir).inputFiles.toSeq.sorted
      val f2 = graft.ops.Dedup.signatures(spark, dir).inputFiles.toSeq.sorted
      assert(f1.nonEmpty && f2.nonEmpty)
      assert(f1 !== f2,
        "bench mode served a memoized artifact instead of rebuilding")
      assert(f1 !== cachedFiles,
        "bench mode read the cache-mode artifact")
      val benchOut = graft.ops.Dedup.signatures(spark, dir)
        .collect().map(_.toString).sorted
      assert(benchOut === cachedOut,
        "bench-mode rebuild diverged from the cached artifact")
    } finally OpCache.setDisabledForTest(saved)
  }
}
