package graft.sources

import graft.{GraftSession, SparkEntry, SparkJobs}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The [[ManifestTable]] core: how many Spark jobs each stats-planned
  * op runs end to end, and the empty-plan read no benched band reaches.
  */
class ManifestTableSpec extends AnyFunSuite with BeforeAndAfterAll {

  val dir = "/root/testdata/sf0.001"

  @transient lazy val spark: SparkSession = GraftSession("ManifestTableSpec", 4)

  override def afterAll(): Unit = spark.stop()

  /** Jobs per op measured before the ops moved onto the core: the
    * bound each row must stay at or below.
    */
  private val jobsBefore = Seq("src_stats_prune" -> 13, "src_manifest_prune" -> 16,
    "src_hidden_partition" -> 15, "src_hidden_zorder" -> 14,
    "src_zorder_store" -> 19, "src_hilbert_store" -> 19, "src_bloom_index" -> 24)

  test("jobs per op: every stats-planned src_* row runs at most its measured job count") {
    // warm-up: first touches of the tables and codegen run no extra jobs
    // in the measured pass
    jobsBefore.foreach { case (q, _) => SparkEntry.queries(q)(spark, dir).collect() }
    val got = jobsBefore.map { case (q, _) =>
      q -> SparkJobs.count(spark)(SparkEntry.queries(q)(spark, dir).collect(): Unit)
    }
    info(got.map { case (q, n) => s"$q=$n" }.mkString(" "))
    got.zip(jobsBefore).foreach { case ((q, n), (_, bound)) =>
      assert(n <= bound, s"$q ran $n jobs, more than $bound")
    }
  }

  test("empty plan: a band above the key maximum reads no file and tallies zeros") {
    val t = StatsPrune.stage(spark, dir)
    try {
      val mk = StatsPrune.keyMax(t)
      assert(StatsPrune.servePlanned(t, mk + 1, mk + 100) === ((0L, 0L, 0L, 0L, 0L)))
    } finally t.drop()
  }

  test("read(Nil) is a zero-row frame with the data columns") {
    val t = StatsPrune.stage(spark, dir)
    try {
      val empty = t.read(Nil)
      assert(empty.columns.toSeq === Seq("k", "total_c", "p", "fid"))
      assert(empty.schema === t.read(t.stats.take(1)).schema)
      assert(empty.count() === 0L)
    } finally t.drop()
  }
}
