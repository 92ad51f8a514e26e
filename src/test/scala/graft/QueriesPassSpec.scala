package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The five registry ops one pass of the benchmark's `queries`
  * workload runs: how many Spark jobs each submits, and that a warm
  * pass finds every generated class in Spark's code cache.
  */
class QueriesPassSpec extends AnyFunSuite with BeforeAndAfterAll {

  val dir = "/root/testdata/sf0.001"

  @transient lazy val spark: SparkSession = GraftSession("QueriesPassSpec", 4)

  override def afterAll(): Unit = spark.stop()

  /** Jobs per op measured with this spec's body before the table read
    * took its schema from the footer (`src_stats_prune`: once its
    * manifest came from the written footers): the bound each op must
    * stay at or below.
    */
  private val jobsBefore = Seq("q3_topk" -> 7, "q_asof_native" -> 7,
    "q_range_join" -> 7, "src_stats_prune" -> 6, "sim_sq_topk" -> 8)

  private def run(q: String): Unit = SparkEntry.queries(q)(spark, dir).collect(): Unit

  test("jobs per op: every op of the queries pass runs at most its measured job count") {
    // warm-up: first touches of the tables and codegen run no extra jobs
    // in the measured pass
    jobsBefore.foreach { case (q, _) => run(q) }
    val got = jobsBefore.map { case (q, _) => q -> SparkJobs.count(spark)(run(q)) }
    info(got.map { case (q, n) => s"$q=$n" }.mkString(" "))
    got.zip(jobsBefore).foreach { case ((q, n), (_, bound)) =>
      assert(n <= bound, s"$q ran $n jobs, more than $bound")
    }
  }

  test("a second warm pass compiles no generated class") {
    def compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    jobsBefore.foreach { case (q, _) => run(q) }
    val before = compiled
    jobsBefore.foreach { case (q, _) => run(q) }
    assert(compiled - before === 0L, "classes compiled in a warm pass")
  }
}
