package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.Scratch
import graft.Tables

/** OPTIMISTIC CONCURRENCY — the ACID half of the table-format story
  * the mutation ops ([[TableMerge]], [[SnapshotDelete]]) take for
  * granted: multiple writers race against the same base snapshot, and
  * the commit protocol decides who wins. Iceberg/Delta semantics:
  * a writer stages its data files first (cheap, invisible), then
  * VALIDATES — the partitions it rewrites must be untouched between
  * its base snapshot and the current head — and either RETRIES its
  * commit against the new head (disjoint writers never block each
  * other; this is why a 100 TB table takes thousands of concurrent
  * partition-local writers) or ABORTS (same-partition racers must not
  * silently drop each other's rows — the lost-update anomaly). An
  * aborted writer's staged files are unreferenced orphans the
  * ref-aware vacuum reclaims.
  *
  * The scenario: A (base v1) rewrites year 1995 (+10 c) → commits v2;
  * B (base v1, computed from v1!) rewrites year 1997 (+25 c) —
  * validation sees {1995} changed since v1, disjoint from {1997} →
  * retries against v2 and commits v3; C (base v1) rewrites 1995
  * (−5 c) — {1995} ∈ changed-since-base → CONFLICT, aborts. Expire
  * then reclaims exactly 3 files: the two superseded originals and
  * C's orphan.
  *
  * Validation is manifest arithmetic only (file lists grouped by
  * partition, compared across versions) — no data read, which is what
  * makes the protocol cheap enough to retry under contention.
  */
object CommitConflict {

  /** The partitions each writer rewrites and its cents delta. */
  val YearA = 1995L
  val YearB = 1997L
  val DeltaA = 10L
  val DeltaB = 25L
  val DeltaC = -5L

  private val PPrefix = "p=([0-9]+)/".r

  /** Partition value of a root-relative data file path. */
  private def partOf(f: String): Long =
    PPrefix.findFirstMatchIn(f).map(_.group(1).toLong).getOrElse(-1L)

  /** Partitions whose file SET differs between two committed versions
    * — the validation input, pure manifest arithmetic.
    */
  private[sources] def changedPartitions(root: String, vFrom: Int,
      vTo: Int): Set[Long] = {
    def byPart(v: Int): Map[Long, Set[String]] =
      SnapshotStore.files(root, v).groupBy(partOf).view.mapValues(_.toSet)
        .toMap
    val a = byPart(vFrom); val b = byPart(vTo)
    (a.keySet ++ b.keySet)
      .filter(p => a.getOrElse(p, Set.empty) != b.getOrElse(p, Set.empty))
  }

  /** One optimistic commit attempt: the writer staged `newFiles` for
    * `touched` partitions against `baseV`. Validate against the
    * current head; on success commit (head's files minus head's files
    * in the touched partitions, plus the staged ones) and return the
    * new version; on conflict return None (staged files stay orphans).
    */
  private[sources] def attemptCommit(root: String, baseV: Int,
      touched: Set[Long], newFiles: Seq[String]): Option[Int] = {
    val head = SnapshotStore.latest(root)
    if (changedPartitions(root, baseV, head).intersect(touched).nonEmpty)
      None
    else {
      val kept = SnapshotStore.files(root, head)
        .filterNot(f => touched.contains(partOf(f)))
      Some(SnapshotStore.commit(root, kept ++ newFiles))
    }
  }

  /** Stage the base store: one file per year partition, commit v1. */
  private[sources] def stage(spark: SparkSession, dir: String): String = {
    val store = Scratch.path("occ")
    Scratch.rm(store)
    Tables(spark, dir, "orders")
      .select(col("o_orderkey").as("k"),
        floor(col("o_totalprice") * 100).cast("long").as("total_c"),
        year(col("o_orderdate")).cast("long").as("p"))
      .transform(ManifestTable.byPartition("p"))
      .write.mode(SaveMode.Overwrite).partitionBy("p").parquet(store)
    SnapshotStore.commit(store, SnapshotStore.listDataFiles(store)): Unit
    store
  }

  /** Stage one writer's rewrite of a single year partition, computed
    * FROM ITS BASE SNAPSHOT (the essence of optimistic writers), as
    * one new file under the partition dir. Returns the staged files.
    */
  private[sources] def stageRewrite(spark: SparkSession, root: String,
      baseV: Int, year: Long, deltaC: Long): Seq[String] = {
    val before = SnapshotStore.listDataFiles(root).toSet
    SnapshotStore.read(spark, root, baseV)
      .filter(col("p") === year)
      .select(col("k"), (col("total_c") + deltaC).as("total_c"),
        col("p").cast("long").as("p"))
      .coalesce(1)
      .write.mode(SaveMode.Append).partitionBy("p").parquet(root)
    SnapshotStore.listDataFiles(root).filterNot(before)
  }

  def commitConflict(spark: SparkSession, dir: String): DataFrame = {
    val store = stage(spark, dir)
    try {
      // A: rewrite 1995 against v1 — head is v1, validates trivially
      val fA = stageRewrite(spark, store, 1, YearA, DeltaA)
      val vA = attemptCommit(store, 1, Set(YearA), fA)
      // B: rewrite 1997, ALSO against v1 — head moved to v2, but the
      // changed set {1995} is disjoint from {1997}: retry succeeds
      val fB = stageRewrite(spark, store, 1, YearB, DeltaB)
      val vB = attemptCommit(store, 1, Set(YearB), fB)
      // C: rewrite 1995 against v1 — {1995} changed since v1: abort
      stageRewrite(spark, store, 1, YearA, DeltaC)
      val vC = attemptCommit(store, 1, Set(YearA), fA /* unused */)
      require(vC.isEmpty, "C must conflict")

      val head = SnapshotStore.latest(store)
      val reclaimed = SnapshotStore.expire(store, head).length.toLong
      val agg = SnapshotStore.read(spark, store, head)
        .agg(count(lit(1)).as("n"), sum("total_c").as("s")).collect()(0)

      import spark.implicits._
      val out = Seq(
        ("A", 1L, vA.get.toLong, 0L),
        ("B", 1L, vB.get.toLong, 0L),
        ("C", 1L, -1L, 1L))
        .toDF("writer", "base_version", "committed_version", "conflict")
        .withColumn("head_version", lit(head.toLong))
        .withColumn("files_reclaimed", lit(reclaimed))
        .withColumn("n_rows", lit(agg.getLong(0)))
        .withColumn("sum_total_c", lit(agg.getLong(1)))
        .orderBy("writer")
      val rows = out.collect().toIndexedSeq
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), out.schema)
    } finally Scratch.rm(store)
  }

  /** Closed-form oracle: protocol outcomes from the conflict rules,
    * final table from the two surviving deltas, reclamation count
    * from the one-file-per-partition layout (2 superseded + 1 orphan).
    */
  val conflictOracle: String =
    s"""WITH o AS (SELECT o_orderkey AS k,
       |    CAST(FLOOR(o_totalprice*100) AS BIGINT) AS total_c,
       |    CAST(year(o_orderdate) AS BIGINT) AS p FROM orders),
       |fin AS (SELECT k, CASE WHEN p = $YearA THEN total_c + $DeltaA
       |    WHEN p = $YearB THEN total_c + $DeltaB
       |    ELSE total_c END AS total_c FROM o),
       |w AS (SELECT * FROM (VALUES ('A', 1, 2, 0), ('B', 1, 3, 0),
       |    ('C', 1, -1, 1)) t(writer, base_version, committed_version,
       |    conflict))
       |SELECT writer, CAST(base_version AS BIGINT) AS base_version,
       |  CAST(committed_version AS BIGINT) AS committed_version,
       |  CAST(conflict AS BIGINT) AS conflict,
       |  CAST(3 AS BIGINT) AS head_version,
       |  CAST(3 AS BIGINT) AS files_reclaimed,
       |  (SELECT COUNT(*) FROM fin) AS n_rows,
       |  CAST((SELECT SUM(total_c) FROM fin) AS BIGINT) AS sum_total_c
       |FROM w ORDER BY writer""".stripMargin
}
