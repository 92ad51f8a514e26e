package graft.ops

import graft.GraftSession
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The distributed ColorSCC peel ([[Graph.sccOf]]) against an
  * independent in-memory Tarjan on adversarial and seeded-random
  * digraphs — the partition must match exactly (same blocks, ids =
  * min member, sizes). Covers the shapes that break naive peeling:
  * decreasing chains (one pivot per round — the worst peel order),
  * pure cycles, one-way-bridged cycle pairs, rho shapes (tail into
  * cycle), and sparse random graphs.
  */
class SccSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient lazy val spark: SparkSession = GraftSession("SccSpec", 4)

  override def afterAll(): Unit = spark.stop()

  /** Iterative Tarjan (explicit stack), returning node → min-of-SCC. */
  private def tarjan(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var counter = 0
    val index = scala.collection.mutable.Map.empty[Long, Int]
    val low = scala.collection.mutable.Map.empty[Long, Int]
    val onStack = scala.collection.mutable.Set.empty[Long]
    val stack = scala.collection.mutable.ArrayBuffer.empty[Long]
    val comp = scala.collection.mutable.Map.empty[Long, Long]

    def strongconnect(v0: Long): Unit = {
      // explicit work stack of (node, child iterator)
      val work = scala.collection.mutable.ArrayBuffer(
        (v0, adj.getOrElse(v0, Seq.empty).iterator))
      index(v0) = counter; low(v0) = counter; counter += 1
      stack += v0; onStack += v0
      while (work.nonEmpty) {
        val (v, it) = work.last
        if (it.hasNext) {
          val w = it.next()
          if (!index.contains(w)) {
            index(w) = counter; low(w) = counter; counter += 1
            stack += w; onStack += w
            work += ((w, adj.getOrElse(w, Seq.empty).iterator))
          } else if (onStack(w)) low(v) = math.min(low(v), index(w))
        } else {
          work.remove(work.length - 1): Unit
          if (work.nonEmpty) {
            val (p, _) = work.last
            low(p) = math.min(low(p), low(v))
          }
          if (low(v) == index(v)) {
            val members = scala.collection.mutable.ArrayBuffer.empty[Long]
            var w = -1L
            while (w != v) {
              w = stack.remove(stack.length - 1)
              onStack -= w; members += w
            }
            val id = members.min
            members.foreach(m => comp(m) = id)
          }
        }
      }
    }
    nodes.foreach(v => if (!index.contains(v)) strongconnect(v))
    comp.toMap
  }

  private def engine(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    Graph.sccOf(spark, edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  private def check(name: String, edges: Seq[(Long, Long)]): Unit = {
    val t = tarjan(edges.filter(e => e._1 != e._2).distinct)
    val e = engine(edges)
    assert(e == t, s"$name: engine $e vs tarjan $t")
  }

  test("adversarial shapes match Tarjan") {
    // decreasing chain: every node its own SCC, worst peel order
    check("dec-chain", Seq((5L, 4L), (4L, 3L), (3L, 2L), (2L, 1L)))
    // increasing chain: all pivots settle in one round
    check("inc-chain", Seq((1L, 2L), (2L, 3L), (3L, 4L)))
    // pure cycle
    check("cycle", Seq((1L, 2L), (2L, 3L), (3L, 1L)))
    // two cycles bridged one way: two SCCs, not one
    check("bridged", Seq((1L, 2L), (2L, 1L), (2L, 10L),
      (10L, 11L), (11L, 10L)))
    // rho: tail into a cycle
    check("rho", Seq((9L, 8L), (8L, 7L), (7L, 5L), (5L, 6L), (6L, 7L)))
    // back-edge into the middle of a chain creates a 3-SCC
    check("backedge", Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 2L), (4L, 5L)))
  }

  test("seeded-random sparse digraphs match Tarjan") {
    // deterministic LCG — no Math.random in specs either
    var s = 123456789L
    def nxt(m: Int): Int = {
      s = (s * 6364136223846793005L + 1442695040888963407L) & Long.MaxValue
      (s % m).toInt
    }
    for (g <- 1 to 6) {
      val n = 6 + nxt(5)
      val edges = (1 to (n * 2)).map(_ => (nxt(n).toLong, nxt(n).toLong))
        .filter(e => e._1 != e._2).distinct
      if (edges.nonEmpty) check(s"rand-$g", edges)
    }
  }

  test("trade-graph SCC: each node labeled once, ids are members") {
    val out = Graph.sccOf(spark, Graph.tradeEdges(spark, "/root/testdata/sf0.001"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.map(_._1).distinct.length == out.length, "node labeled twice")
    val byScc = out.groupBy(_._2)
    byScc.foreach { case (id, ms) =>
      assert(ms.map(_._1).min == id, s"scc id $id is not the min member")
      ms.foreach { case (_, _, sz) => assert(sz == ms.length.toLong) }
    }
  }
}
