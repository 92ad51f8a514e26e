package graft.sources

import graft.Scratch
import org.scalatest.funsuite.AnyFunSuite

/** Delta-log reconstruction: checkpoint+tail equals the naive full
  * fold at EVERY version, planner metadata cost is bounded by the
  * checkpoint cadence, and hostile file names are rejected at the
  * write seam.
  */
class LogStoreSpec extends AnyFunSuite {

  private def withRoot[T](body: String => T): T =
    Scratch.withDir("logspec") { r => new java.io.File(r).mkdirs(); body(r) }

  test("checkpoint+tail state equals the naive fold at every version") {
    withRoot { root =>
      // a 10-commit history with adds, removes, and a rewrite
      val deltas: Seq[(Seq[String], Seq[String])] = Seq(
        (Seq("a1"), Nil), (Seq("a2"), Nil), (Seq("a3"), Nil),
        (Seq("a4"), Nil), (Seq("a5"), Seq("a1")),
        (Seq("m1"), Seq("a2", "a3")), (Seq("a6"), Nil),
        (Nil, Seq("a4")), (Seq("a7", "a8"), Nil), (Nil, Seq("m1")))
      deltas.foreach { case (a, r) => LogStore.commitDelta(root, a, r) }
      assert(LogStore.versions(root) === (1 to 10))

      // naive fold (ignores checkpoints entirely)
      var naive = Set.empty[String]
      deltas.zipWithIndex.foreach { case ((a, r), i) =>
        naive = naive -- r ++ a
        val (files, metaReads) = LogStore.stateAt(root, i + 1)
        assert(files.toSet === naive, s"divergence at v${i + 1}")
        assert(metaReads <= LogStore.CheckpointEvery,
          s"v${i + 1} plan read $metaReads metadata files")
      }
      // head plans from the v8 checkpoint + 2 deltas = 3 reads
      assert(LogStore.stateAt(root, 10)._2 === 3)
      // hostile names cannot corrupt the hand-serialized log
      intercept[IllegalArgumentException] {
        LogStore.commitDelta(root, Seq("bad,name"), Nil)
      }
    }
  }
}
