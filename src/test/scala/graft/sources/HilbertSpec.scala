package graft.sources

import graft.GraftSession
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The Hilbert clustering contracts: the unrolled column chain IS the
  * Hilbert curve (checked against an independent Scala xy→d loop AND
  * by the defining adjacency property on a full grid), and the layout
  * actually delivers the locality it claims versus the Z-order twin.
  */
class HilbertSpec extends AnyFunSuite with BeforeAndAfterAll {

  val dir = "/root/testdata/sf0.001"

  @transient lazy val spark: SparkSession = GraftSession("HilbertSpec", 4)

  override def afterAll(): Unit = spark.stop()

  /** Independent reference: the textbook xy→d loop. */
  private def xy2d(bits: Int, x0: Long, y0: Long): Long = {
    var (x, y, d) = (x0, y0, 0L)
    var s = 1L << (bits - 1)
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3 * rx) ^ ry)
      // rotate
      if (ry == 0) {
        if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }

  test("graft_hilbert resolves in plain SQL and equals the textbook loop") {
    val pts = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 2L), (7L, 7L), (5L, 1L))
    pts.foreach { case (x, y) =>
      val d = spark.sql(s"SELECT graft_hilbert(${x}L, ${y}L, 3)").collect()(0).getLong(0)
      assert(d === xy2d(3, x, y), s"graft_hilbert($x, $y, 3)")
    }
  }

  test("column chain equals the textbook loop and is a true Hilbert curve on the full grid") {
    import spark.implicits._
    val bits = 4
    val n = 1L << bits
    val grid = spark.range(n * n)
      .select((col("id") / n).cast("long").as("gx"),
        (col("id") % n).cast("long").as("gy"))
    val got = HilbertStore.hilbertCol(grid, "gx", "gy", bits)
      .select("gx", "gy", "hd").as[(Long, Long, Long)].collect()
    got.foreach { case (x, y, d) =>
      assert(d === xy2d(bits, x, y), s"hd of ($x,$y)")
    }
    // the hot path's native expression is a THIRD formulation — it
    // must agree with the chain cell-for-cell
    val viaExpr = grid.withColumn("hd", expr(HilbertStore.position("gx", "gy", bits)))
      .select("gx", "gy", "hd").as[(Long, Long, Long)].collect().toSet
    assert(viaExpr === got.toSet,
      "native expression diverged from the unrolled chain")
    // the defining property Morton LACKS: consecutive curve positions
    // are always grid neighbors — a bijection with unit steps
    val byD = got.sortBy(_._3)
    assert(byD.map(_._3).toSeq === (0L until n * n).toSeq,
      "curve positions are not a bijection onto the grid")
    byD.sliding(2).foreach {
      case Array((x1, y1, _), (x2, y2, d2)) =>
        assert(math.abs(x1 - x2) + math.abs(y1 - y2) === 1L,
          s"jump at d=$d2: ($x1,$y1)->($x2,$y2)")
      case _ =>
    }
  }

  test("hilbert layout prunes at least as well as z-order on the shared box") {
    val h = ZOrderStore.stage(spark, dir, HilbertStore.Hilbert)
    val z = ZOrderStore.stage(spark, dir)
    try {
      val (hHit, zHit) = (ZOrderStore.plan(h), ZOrderStore.plan(z))
      assert(h.stats.length === z.stats.length,
        "layouts cut different file counts — the comparison is void")
      assert(ZOrderStore.box(h) === ZOrderStore.box(z), "box drifted between twins")
      assert(hHit.nonEmpty && hHit.length < h.stats.length,
        "hilbert stats pruned nothing")
      info(s"box over ${h.stats.length} files: hilbert reads " +
        s"${hHit.length}, z-order reads ${zHit.length}")
      assert(hHit.length <= zHit.length,
        "hilbert lost to z-order on its home ground")
    } finally { h.drop(); z.drop() }
  }
}
