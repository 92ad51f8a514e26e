package graft.sources

import graft.GraftSession
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Bloom point-lookup index invariants: zero false negatives ever
  * (the row's own file is always probed), real pruning (hit sets are
  * a small constant, not the file count), pruned-read answers equal
  * the full-scan truth, and the persisted index is sparse bounded
  * metadata.
  */
class BloomIndexSpec extends AnyFunSuite with BeforeAndAfterAll {

  val dir = "/root/testdata/sf0.001"

  @transient lazy val spark: SparkSession = GraftSession("BloomIndexSpec", 4)

  override def afterAll(): Unit = spark.stop()

  test("bloom plan has no false negatives and prunes to O(1) files") {
    val st = BloomIndex.stage(spark, dir)
    try {
      val hits = BloomIndex.planProbes(spark, st)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val truth = graft.Tables(spark, dir, "orders")
        .select(col("o_orderkey").as("k"),
          year(col("o_orderdate")).cast("long").as("p"))
        .crossJoin(spark.range(1, BloomIndex.Probes + 1)
          .select(((col("id") * BloomIndex.keyMax(st)) / 16L).cast("long").as("pk")))
        .filter(col("k") === col("pk"))
        .select("pk", "p")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

      // no false negatives: the file that holds the looked-up row is
      // always in the probe's planned set
      assert(truth.subsetOf(hits),
        s"bloom false negative: ${truth -- hits}")
      // real pruning: across 20 probes x filesTotal files, the plan
      // stays within truth + a small false-positive allowance
      assert(hits.size <= truth.size + 10,
        s"bloom under-pruning: ${hits.size} planned pairs for " +
          s"${truth.size} true pairs")
      val perProbe = hits.groupBy(_._1).view.mapValues(_.size)
      perProbe.foreach { case (pk, n) =>
        assert(n <= 3, s"probe $pk opened $n of ${st.stats.length} files")
      }
    } finally st.drop()
  }

  test("pruned-read answers equal the full-scan truth; index is sparse") {
    val out = BloomIndex.bloomIndex(spark, dir)
      .collect().map(r => (r.getLong(0), (r.getLong(3), r.getLong(4)))).toMap
    val st = BloomIndex.stage(spark, dir)
    try {
      val full = graft.Tables(spark, dir, "orders")
        .select(col("o_orderkey").as("k"),
          floor(col("o_totalprice") * 100).cast("long").as("price_c"))
        .crossJoin(spark.range(1, BloomIndex.Probes + 1)
          .select(((col("id") * BloomIndex.keyMax(st)) / 16L).cast("long").as("pk")))
        .filter(col("k") === col("pk"))
        .groupBy("pk")
        .agg(count(lit(1)).as("n"), sum("price_c").as("s"))
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
      out.foreach { case (pk, (n, s)) =>
        val (tn, ts) = full.getOrElse(pk, (0L, 0L))
        assert(n === tn && s === ts,
          s"probe $pk: pruned read ($n, $s) != full scan ($tn, $ts)")
      }
      // a probe beyond the key maximum exists in the schedule and
      // resolves to zero matches through the all-files-reject path
      val mk = BloomIndex.keyMax(st)
      assert(out.keys.exists(_ > mk))
      out.filter(_._1 > mk).foreach { case (pk, (n, _)) =>
        assert(n === 0L, s"absent probe $pk matched $n rows")
      }

      // sparse index: at most K words per key (each key sets <= K
      // bits), i.e. bounded metadata a manifest can carry
      val words = spark.read.parquet(s"${st.store}/index").count()
      val keys = graft.Tables(spark, dir, "orders").count()
      assert(words <= keys * BloomIndex.BloomK,
        s"index has $words words for $keys keys")
    } finally st.drop()
  }
}
