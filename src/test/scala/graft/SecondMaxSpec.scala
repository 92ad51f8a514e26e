package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Property-style test: the native SecondMax aggregate agrees with the
  * sort-based definition on seeded-random grouped long data (including
  * duplicates and negatives), and is available through the
  * SparkSessionExtensions injection.
  */
class SecondMaxSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient lazy val spark: SparkSession = GraftSession("SecondMaxSpec", 2)

  override def afterAll(): Unit = spark.stop()

  test("second max agrees with the sort-based definition on random groups") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 20) {
      val rows = (1 to (1 + rnd.nextInt(40))).map { _ =>
        (rnd.nextInt(4).toLong, rnd.nextInt(21).toLong - 10) // dups + negatives likely
      }
      val df = rows.toDF("k", "v")
      df.createOrReplaceTempView("sm_input")
      val got = spark.sql("SELECT k, graft_second_max(v) FROM sm_input GROUP BY k")
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
      val expected = rows.groupBy(_._1).map { case (k, kvs) =>
        val sorted = kvs.map(_._2).sorted(Ordering[Long].reverse)
        k -> (if (sorted.size >= 2) Some(sorted(1)) else None)
      }
      assert(got === expected, s"trial $trial rows=$rows")
    }
  }

  test("extensions injection exposes the function to spark.sql") {
    assert(spark.sql("SELECT graft_second_max(x) FROM VALUES (1L),(5L),(3L) AS t(x)")
      .collect()(0).getLong(0) === 3L)
  }

  test("graft_fdot matches the higher-order formulation bit for bit") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(42)
    val rows = (0 until 200).map { i =>
      val n = if (i % 17 == 0) 0 else 64
      (Array.fill(n)(rnd.nextFloat() * 2 - 1), Array.fill(n)(rnd.nextFloat() * 2 - 1))
    }
    val df = rows.toDF("a", "b")
      .withColumn("hof", aggregate(
        zip_with(col("a"), col("b"), (p, q) => p.cast("double") * q.cast("double")),
        lit(0.0), (acc, v) => acc + v))
      .withColumn("native", call_function("graft_fdot", col("a"), col("b")))
    // bit-identical: compare raw long bits, not approximate equality
    val bad = df.select(col("hof"), col("native")).collect().count { r =>
      java.lang.Double.doubleToRawLongBits(r.getDouble(0)) !=
        java.lang.Double.doubleToRawLongBits(r.getDouble(1))
    }
    assert(bad === 0)
    // length mismatch and null element → null, like zip_with padding
    val edge = Seq((Array(1.0f, 2.0f), Array(1.0f))).toDF("a", "b")
      .select(call_function("graft_fdot", col("a"), col("b")).as("d"))
    assert(edge.collect()(0).isNullAt(0))
    // grain-adaptive: a double-element regeneration of the embeddings
    // table must keep working, in full double precision
    val dd = Seq((Array(0.5d, 0.25d), Array(2.0d, 4.0d))).toDF("a", "b")
      .select(call_function("graft_fdot", col("a"), col("b")).as("d"))
    assert(dd.collect()(0).getDouble(0) === 2.0)
    val fd = Seq((Array(0.5f, 0.25f), Array(2.0d, 4.0d))).toDF("a", "b")
      .select(call_function("graft_fdot", col("a"), col("b")).as("d"))
    assert(fd.collect()(0).getDouble(0) === 2.0)
  }
}
