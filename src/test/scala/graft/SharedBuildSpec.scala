package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The shared dedup, graph, similarity and image builds run in one
  * mode: each call rebuilds its frame inside the caller's plan, with
  * nothing staged on disk and nothing kept across calls. Pins that a
  * rebuild is deterministic, that it leaves no scratch directory
  * behind, and that the Louvain family builds its k-NN edge frame
  * once per call.
  */
class SharedBuildSpec extends AnyFunSuite with BeforeAndAfterAll {

  val dir = "/root/testdata/sf0.001"

  @transient lazy val spark: SparkSession = GraftSession("SharedBuildSpec", 4)

  override def afterAll(): Unit = spark.stop()

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("two builds of the signature, edge and IVFPQ frames return identical rows") {
    assert(rows(ops.Dedup.signatures(spark, dir)) === rows(ops.Dedup.signatures(spark, dir)))
    assert(rows(ops.Graph.keFrame(spark, dir)) === rows(ops.Graph.keFrame(spark, dir)))
    val (codes1, cb1) = ops.Similarity.ivfpqIndex(spark, dir)
    val (codes2, cb2) = ops.Similarity.ivfpqIndex(spark, dir)
    assert(rows(codes1).nonEmpty && rows(codes1) === rows(codes2))
    assert(rows(cb1).nonEmpty && rows(cb1) === rows(cb2))
  }

  test("dedup_cluster, graph_louvain and sim_ivfpq_topk leave no scratch directory") {
    val pid = ProcessHandle.current().pid()
    def staged: Set[String] =
      Option(new java.io.File(Scratch.root).list()).toSeq.flatten
        .filter(_.matches(s"graft_.+_${pid}_[0-9]+")).toSet
    val before = staged
    Seq("dedup_cluster", "graph_louvain", "sim_ivfpq_topk").foreach { n =>
      assert(SparkEntry.queries(n)(spark, dir).collect().nonEmpty, n)
    }
    assert((staged -- before).isEmpty, s"left behind: ${staged -- before}")
  }

  test("graph_louvain builds its k-NN edge frame once") {
    // 62 jobs when the edge frame (and so the whole k-NN graph) was
    // built twice per call, once for the rounds and once for the
    // result; 54 with one build and eager edge and assignment pins
    val jobs = SparkJobs.count(spark) {
      SparkEntry.queries("graph_louvain")(spark, dir).collect(): Unit
    }
    assert(jobs < 62, s"graph_louvain ran $jobs jobs")
  }
}
