package graft

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Determinism under TASK RETRY — the distribution property every
  * SURVEY §2 exactness claim silently depends on: a 1000-executor run
  * WILL lose tasks, and Spark re-executes them; if any operator's
  * arithmetic were partition-order- or attempt-dependent (a double
  * sum, a non-commutative merge), the retried run would differ from
  * the clean one. This suite injects a first-attempt failure into a
  * partition of the input scan (via a pass-through mapPartitions that
  * throws on attempt 0) and asserts the downstream results are
  * bit-identical to the unperturbed run, over representatives of the
  * engine's aggregate shapes: exact-integer group-by (q1 shape),
  * hash-distinct (dedup_exact shape), window/top-k (q3 shape), and
  * the custom TypedImperativeAggregate (KMV sketch).
  *
  * The session master is `local[4, 4]` — maxFailures 4, so the
  * injected failure is retried instead of failing the job (the
  * cluster default; plain local[4] would abort on first failure).
  */
class RetrySpec extends AnyFunSuite with BeforeAndAfterAll {

  val dir = "/root/testdata/sf0.001"

  // local[4, 4] (four task attempts) is the one master GraftSession
  // does not build; the extensions still go in, so any suite's session
  // that getOrCreate hands back in this JVM resolves graft_*, and the
  // code cache gets GraftSession's size in case this suite is the
  // first in the JVM to generate code
  @transient lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4, 4]")
    .withExtensions(new GraftExtensions)
    .config(GraftSession.CodegenCacheConf, GraftSession.CodegenCacheEntries.toString)
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** Pass-through that fails partition 0 on its first attempt. The
    * marker object is JVM-wide so exactly one failure fires per test
    * (local mode runs executors in-process).
    */
  private def flaky(df: DataFrame, marker: String): DataFrame = {
    val schema = df.schema
    val rdd = df.rdd.mapPartitions { it =>
      val tc = TaskContext.get()
      if (tc.partitionId() == 0 && tc.attemptNumber() == 0 &&
          RetrySpec.fired.add(marker))
        throw new RuntimeException(s"injected failure [$marker]")
      it
    }
    df.sparkSession.createDataFrame(rdd, schema)
  }

  private def collectSorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toIndexedSeq

  private def check(name: String, q: DataFrame => DataFrame,
      src: DataFrame): Unit = {
    val clean = collectSorted(q(src))
    val retried = collectSorted(q(flaky(src, name)))
    assert(RetrySpec.fired.contains(name), "the failure never fired")
    assert(retried == clean, s"$name differs under task retry")
  }

  test("exact-integer group-by is retry-invariant (q1 shape)") {
    val li = Tables(spark, dir, "lineitem").repartition(4)
    check("q1", df => df
      .groupBy("l_returnflag", "l_linestatus")
      .agg(sum(floor(col("l_quantity") * 100).cast("long")).as("qty_c"),
        count(lit(1)).as("n")), li)
  }

  test("hash-distinct is retry-invariant (dedup_exact shape)") {
    val docs = Tables(spark, dir, "documents").repartition(4)
    check("dedup", df => df
      .select(expr("graft_md5_prefix(text)").as("h"))
      .distinct()
      .agg(count(lit(1)).as("n"), sum("h").as("s")), docs)
  }

  test("window top-k is retry-invariant (q3 shape)") {
    val o = Tables(spark, dir, "orders").repartition(4)
    check("topk", df => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      df.withColumn("r", row_number().over(w)).filter(col("r") <= 3)
        .select("o_orderpriority", "o_orderkey", "r")
    }, o)
  }

  test("the KMV TypedImperativeAggregate is retry-invariant") {
    val ev = Tables(spark, dir, "events").repartition(4)
    check("kmv", df => df
      .select(expr("graft_md5_prefix(cast(user_id as string))").as("h"))
      .agg(expr("graft_kmv_kth(h, 64)").as("kth")), ev)
  }
}

object RetrySpec {
  /** One injected failure per marker, JVM-wide. */
  val fired: java.util.concurrent.ConcurrentHashMap.KeySetView[String, java.lang.Boolean] =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
}
