package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The one function table: a fresh [[GraftSession]] resolves every
  * native function it binds before any operator has run, and the
  * session's `graft_*` functions are exactly the table's names.
  */
class GraftExtensionsSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient lazy val spark: SparkSession = GraftSession("GraftExtensionsSpec", 2)

  override def afterAll(): Unit = spark.stop()

  private val f = "cast(1.0 as float)"

  /** One well-typed call per table entry. */
  private val calls: Map[String, String] = Map(
    "graft_second_max" -> "SELECT graft_second_max(x) FROM VALUES (5L), (9L), (7L) t(x)",
    "graft_md5_prefix" -> "SELECT graft_md5_prefix('abc')",
    "graft_kmv_kth" -> "SELECT graft_kmv_kth(x, 2) FROM VALUES (30L), (10L), (20L) t(x)",
    "graft_fdot" -> s"SELECT graft_fdot(array($f, $f), array($f, $f))",
    "graft_char_bigrams" -> "SELECT graft_char_bigrams('abc')",
    "graft_window_hashes" -> "SELECT graft_window_hashes('abcdef', 3)",
    "graft_char_windows" -> "SELECT graft_char_windows('abcdef', 3)",
    "graft_token_ngrams" -> "SELECT graft_token_ngrams(array('a', 'b', 'c'), 2)",
    "graft_alnum_tokens" -> "SELECT graft_alnum_tokens('Hello, World 42')",
    "graft_ldot" -> "SELECT graft_ldot(array(1L, 2L), array(3L, 4L))",
    "graft_hilbert" -> "SELECT graft_hilbert(1L, 2L, 2)",
    "graft_fdotq" -> s"SELECT graft_fdotq(array($f, $f), array(1, 2))",
    "graft_fl2" -> s"SELECT graft_fl2(array($f, $f), array($f, $f))",
    "graft_fl2q" -> s"SELECT graft_fl2q(array($f, $f), array(1, 2))",
    "graft_pq_argmin" -> (s"SELECT graft_pq_argmin(array($f, $f), array(3L, 7L), " +
      s"array($f, $f, $f, $f), 64, 0)"),
    "graft_argmin_l2" -> "SELECT graft_argmin_l2(array(1.0d, 2.0d), array(9.0d, 9.0d, 1.0d, 2.0d))",
    "graft_vlsum" -> "SELECT graft_vlsum(v) FROM VALUES (array(1L, 2L)), (array(10L, 20L)) t(v)",
    "graft_topk_min" -> "SELECT graft_topk_min(x, 2) FROM VALUES (3L), (1L), (2L) t(x)")

  test("a fresh session resolves every table function; SHOW FUNCTIONS lists exactly the table") {
    val table = GraftExtensions.functions.map(_._1)
    assert(table.distinct.size === table.size, "a name is bound twice")
    assert(table.toSet === calls.keySet, "every table entry needs a call here")
    table.foreach { name =>
      val rows = spark.sql(calls(name)).collect()
      assert(rows.length === 1 && !rows(0).isNullAt(0), s"$name returned no value")
    }
    val shown = spark.sql("SHOW FUNCTIONS LIKE 'graft_*'").collect().map(_.getString(0)).toSet
    assert(shown === table.toSet)
  }
}
