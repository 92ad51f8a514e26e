package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.relational.Queries

/** Guards the events.ts read seam against the physical grain changing
  * again: the driver's testdata has shipped ts as INT64 epoch-nanos
  * (surfaced as BIGINT via nanosAsLong) and as TIMESTAMP(MICROS) NTZ.
  * [[Tables.normalizeEventTs]] must make both invisible to every
  * consumer, so this spec writes the SAME instants in both encodings
  * and pushes them through a real operator, not just the loader.
  */
class TablesSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient lazy val spark: SparkSession = GraftSession("TablesSpec", 4)

  override def afterAll(): Unit = spark.stop()

  /** Micro-aligned instants (both encodings can represent them
    * exactly) spanning several hours and a >30-min session gap.
    */
  private val baseNs = 1704067200L * 1000000000L // 2024-01-01T00:00:00Z
  private def fixtureRows: Seq[(Long, Long, Long, Double, String)] =
    (0L until 200L).map { i =>
      val ns = baseNs + i * 97L * 1000000L + (i % 7) * 3600L * 1000000000L
      (i, i % 13, ns, (i % 29) * 0.25, if (i % 3 == 0) "view" else "click")
    }

  /** Writes the fixture under dir/events.parquet with ts encoded by
    * `enc` ("ns" = raw INT64 epoch-nanos, the shape nanosAsLong
    * surfaces; "us" = TIMESTAMP NTZ micros, the regenerated shape).
    */
  private def writeEvents(dir: String, enc: String): Unit = {
    import spark.implicits._
    val base = fixtureRows.toDF("event_id", "user_id", "ts_ns", "value", "event_type")
    val withTs = enc match {
      case "ns" => base.withColumn("ts", col("ts_ns"))
      case "us" => base.withColumn(
        "ts", timestamp_micros(expr("ts_ns div 1000")).cast("timestamp_ntz"))
    }
    withTs.select("event_id", "user_id", "ts", "value", "event_type")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  private def withBothEncodings(f: (String, String) => Unit): Unit = {
    Scratch.withDir("ts_enc") { root =>
      val (dNs, dUs) = (s"$root/ns", s"$root/us")
      writeEvents(dNs, "ns"); writeEvents(dUs, "us")
      f(dNs, dUs)
    }
  }

  test("normalizeEventTs yields identical epoch-nanos for both physical grains") {
    withBothEncodings { (dNs, dUs) =>
      val read = (d: String) => Tables(spark, d, "events")
        .select("event_id", "ts").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val (a, b) = (read(dNs), read(dUs))
      assert(a === b)
      assert(a(0L) === baseNs)
      // and the normalized type is the canonical bigint
      assert(Tables(spark, dUs, "events").schema("ts").dataType ===
        org.apache.spark.sql.types.LongType)
    }
  }

  test("a real event-time operator matches across encodings") {
    withBothEncodings { (dNs, dUs) =>
      val run = (d: String) => Queries.qTumbling(spark, d).collect().map(_.toSeq).toSeq
      assert(run(dNs) === run(dUs))
      assert(run(dNs).nonEmpty)
    }
  }

  /** `Tables(spark, d, name)` against Spark's own inference of the same
    * file: the schema it reads with, the schema it hands out, and the
    * jobs building it submits (inference runs one).
    */
  private def checkRead(d: String, name: String): Unit = {
    val path = s"$d/$name.parquet"
    val jobs = SparkJobs.count(spark)(Tables(spark, d, name): Unit)
    assert(jobs === 0, s"reading $path ran $jobs jobs")
    // inference under the nanosAsLong setting the read left in place
    val inferred = spark.read.parquet(path)
    assert(Tables.footerReader(spark, path).parquet(path).schema === inferred.schema, path)
    val expected = if (name == "events") Tables.normalizeEventTs(inferred) else inferred
    assert(Tables(spark, d, name).schema === expected.schema, path)
  }

  test("every table reads with the inferred schema and submits no job") {
    val d = "/root/testdata/sf0.001"
    val names = new java.io.File(d).list().toSeq.filter(_.endsWith(".parquet"))
      .map(_.stripSuffix(".parquet")).sorted
    assert(names.toSet === Tables.names.toSet)
    names.foreach(checkRead(d, _))
    withBothEncodings { (dNs, dUs) =>
      checkRead(dNs, "events"); checkRead(dUs, "events")
    }
  }

  test("a missing table fails with Spark's own error") {
    Scratch.withDir("no_table") { d =>
      val e = intercept[org.apache.spark.sql.AnalysisException](Tables(spark, d, "orders"))
      assert(e.getCondition === "PATH_NOT_FOUND", e.getMessage)
    }
  }

  test("unsupported ts type is rejected loudly, not mis-bucketed") {
    import spark.implicits._
    val bad = Seq((1L, "x")).toDF("event_id", "ts")
      .withColumn("ts", col("ts").cast("string"))
    val e = intercept[IllegalArgumentException](Tables.normalizeEventTs(bad))
    assert(e.getMessage.contains("unsupported physical type"))
  }
}
