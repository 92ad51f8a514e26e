package graft.sources

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.{GraftSession, Scratch}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Refs-layer invariants: a tag is frozen against later commits, a
  * branch pins its files against the ref-aware vacuum, an abandoned
  * staging batch is reclaimed, and ref updates are last-write-wins
  * pointer swaps.
  */
class TableRefsSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient lazy val spark: SparkSession = GraftSession("TableRefsSpec", 4)

  override def afterAll(): Unit = spark.stop()

  private def withRoot[T](body: String => T): T =
    Scratch.withDir("refspec") { r => new java.io.File(r).mkdirs(); body(r) }

  private def writeBatch(root: String, b: Long, n: Long): Seq[String] = {
    val before = SnapshotStore.listDataFiles(root).toSet
    spark.range(n).select((col("id") + b * 1000L).as("v"), lit(b).as("b"))
      .coalesce(1)
      .write.mode(SaveMode.Append).partitionBy("b").parquet(s"$root/data")
    SnapshotStore.listDataFiles(root).filterNot(before)
  }

  test("tag frozen, branch divergence, ref-aware vacuum") {
    withRoot { root =>
      val f1 = writeBatch(root, 1, 10)
      val v1 = SnapshotStore.commit(root, f1)
      Refs.set(root, "rel", v1); Refs.set(root, "main", v1)
      val relBefore = Refs.read(spark, root, "rel")
        .agg(sum("v")).collect()(0).getLong(0)

      // main advances; dev diverges from v1 with a different batch
      val f2 = writeBatch(root, 2, 10)
      Refs.set(root, "main", SnapshotStore.commit(root, f1 ++ f2))
      val f3 = writeBatch(root, 3, 10)
      Refs.set(root, "dev", SnapshotStore.commit(root, f1 ++ f3))

      // the tag still reads exactly v1
      assert(Refs.read(spark, root, "rel")
        .agg(sum("v")).collect()(0).getLong(0) === relBefore)
      // branches see their own batch and not each other's
      // b=<n> directories partition-infer as int — normalize
      val mainB = Refs.read(spark, root, "main")
        .select(col("b").cast("long")).distinct()
        .collect().map(_.getLong(0)).toSet
      val devB = Refs.read(spark, root, "dev")
        .select(col("b").cast("long")).distinct()
        .collect().map(_.getLong(0)).toSet
      assert(mainB === Set(1L, 2L) && devB === Set(1L, 3L))

      // an orphaned batch (written, never committed to any ref'd
      // version) is reclaimed; every ref'd file survives
      val orphan = writeBatch(root, 9, 5)
      val reclaimed = Refs.expireToRefs(root)
      assert(orphan.forall(reclaimed.contains))
      assert((f1 ++ f2 ++ f3).forall(f =>
        new java.io.File(s"$root/$f").isFile))
      // all three refs still read correctly after the vacuum
      assert(Refs.read(spark, root, "rel").count() === 10)
      assert(Refs.read(spark, root, "main").count() === 20)
      assert(Refs.read(spark, root, "dev").count() === 20)
    }
  }

  test("failed audit never moves main; publish is a pointer swap") {
    withRoot { root =>
      val f1 = writeBatch(root, 1, 8)
      val v1 = SnapshotStore.commit(root, f1)
      Refs.set(root, "main", v1)
      val headBefore = Refs.read(spark, root, "main")
        .agg(sum("v")).collect()(0).getLong(0)

      // stage a batch on the audit ref, "fail" the audit, abandon it
      val fBad = writeBatch(root, 2, 8)
      val v2 = SnapshotStore.commit(root, f1 ++ fBad)
      Refs.set(root, "audit", v2)
      Refs.drop(root, "audit")
      assert(Refs.get(root, "main").contains(v1))
      assert(Refs.read(spark, root, "main")
        .agg(sum("v")).collect()(0).getLong(0) === headBefore)
      // vacuum reclaims the abandoned batch, head unchanged
      val reclaimed = Refs.expireToRefs(root)
      assert(fBad.forall(reclaimed.contains))
      assert(Refs.read(spark, root, "main")
        .agg(sum("v")).collect()(0).getLong(0) === headBefore)

      // a good batch publishes by moving ONE pointer
      val fGood = writeBatch(root, 3, 8)
      val v3 = SnapshotStore.commit(root,
        SnapshotStore.files(root, v1) ++ fGood)
      Refs.set(root, "main", v3)
      assert(Refs.read(spark, root, "main").count() === 16)
      // a ref name that would escape the _refs dir is rejected
      intercept[IllegalArgumentException] {
        Refs.set(root, "../evil", 1)
      }
    }
  }
}
