package graft.sources

import graft.GraftSession
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Field-id semantics of the evolved read: renames follow the id,
  * added ids read NULL from older files, and a dropped-then-re-added
  * name (a NEW id) shadows the old column's data even though the raw
  * files still contain a column of that name.
  */
class SchemaEvolveSpec extends AnyFunSuite with BeforeAndAfterAll {

  val dir = "/root/testdata/sf0.001"

  @transient lazy val spark: SparkSession = GraftSession("SchemaEvolveSpec", 4)

  override def afterAll(): Unit = spark.stop()

  test("rename maps by id, adds null-fill, drop/re-add shadows old data") {
    val store = SchemaEvolve.stage(spark, dir)
    try {
      val ev = SchemaEvolve.evolveRead(
        spark, store, SnapshotStore.latest(store), 3).cache()

      // gen-1 files RAW still carry a non-null id-2 'source' column…
      val raw1 = spark.read.parquet(
        SnapshotStore.files(store, 1).map(f => s"$store/$f"): _*)
      assert(raw1.columns.contains("source"))
      assert(raw1.filter(col("source").isNotNull).count() > 0)
      // …but under schema v3 every gen-1/gen-2 row reads source NULL:
      // the re-added 'source' is field 5, the files only have field 2
      val pre3 = ev.filter(col("doc_id") % 3 =!= 2)
      assert(pre3.count() > 0)
      assert(pre3.filter(col("source").isNotNull).count() === 0,
        "dropped column data resurfaced under the recycled name")
      // gen-3 rows carry the NEW derivation (upper-cased)
      val g3 = ev.filter(col("doc_id") % 3 === 2)
      assert(g3.filter(col("source").isNull).count() === 0)
      assert(g3.filter(col("source") =!= upper(col("source"))).count() === 0)

      // the rename followed the id: gen-1 sizes came through n_chars
      val sz1 = ev.filter(col("doc_id") % 3 === 0)
        .agg(sum("size_chars")).collect()(0).getLong(0)
      val truth = graft.Tables(spark, dir, "documents")
        .filter(col("doc_id") % 3 === 0)
        .agg(sum("n_chars")).collect()(0).getLong(0)
      assert(sz1 === truth, "the rename lost the id mapping")

      // the ADDed lang (id 4) is NULL exactly on pre-v2 files
      assert(ev.filter(col("doc_id") % 3 === 0 &&
        col("lang").isNotNull).count() === 0)
      assert(ev.filter(col("doc_id") % 3 === 1 &&
        col("lang").isNull).count() === 0)

      // time travel composes with evolution: snapshot v1 (gen-1 files
      // only) read under the LATEST schema still id-maps
      val v1 = SchemaEvolve.evolveRead(spark, store, 1, 3)
      assert(v1.columns.toSeq ===
        Seq("doc_id", "size_chars", "lang", "source"))
      assert(v1.filter(col("source").isNotNull).count() === 0)
      ev.unpersist(): Unit
    } finally SchemaEvolve.dropStore(store)
  }
}
