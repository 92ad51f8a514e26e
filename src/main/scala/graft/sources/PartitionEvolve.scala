package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.Scratch
import graft.Tables

/** PARTITION-SPEC EVOLUTION at the manifest seam — the Iceberg idea
  * that a long-lived table's partitioning is VERSIONED metadata, not
  * a rewrite: files written under the old spec stay exactly as they
  * are, new files land under the new spec, and the planner prunes
  * each file AT ITS OWN SPEC'S GRANULARITY. Here the table starts
  * partitioned by year (`ps=1/p=Y`), evolves to (year, month)
  * (`ps=2/p=Y/m=M`) — the classic "the table grew and daily queries
  * now need month pruning" migration that would otherwise rewrite
  * 100 TB.
  *
  * src_partition_evolve runs a month-range query (1996-03 … 1999-09)
  * across both generations: old-spec files prune at year granularity
  * (whole in-range old-spec years are read, their out-of-range months
  * filtered row-side — the measured cost of NOT rewriting), new-spec
  * files prune to the exact months. The emitted row carries per-spec
  * files/rows read plus the exact matched aggregate; the oracle
  * recomputes the spec arithmetic and the full-table truth, so an
  * over-pruned plan loses matches and an under-pruned one
  * hash-mismatches the file/row counts.
  *
  * Scale shape: the plan is manifest-path arithmetic (driver-side,
  * bounded by partition-cell counts); each spec generation is one
  * pruned scan; no shuffle until the final scalar aggregate.
  */
object PartitionEvolve {

  /** Query range: months 1996-03 … 1999-09 as y*100+m bounds. */
  val QLo = 199603L
  val QHi = 199909L

  /** Years at-or-below this wrote under spec 1 (by year). */
  val SpecCut = 1997L

  private val S1Path = "ps=1/p=([0-9]+)/".r
  private val S2Path = "ps=2/p=([0-9]+)/m=([0-9]+)/".r

  def partitionEvolve(spark: SparkSession, dir: String): DataFrame = {
    Scratch.withDir("pevolve") { store =>
      val base = Tables(spark, dir, "orders")
        .select(col("o_orderkey").as("k"),
          floor(col("o_totalprice") * 100).cast("long").as("total_c"),
          year(col("o_orderdate")).cast("long").as("p"),
          month(col("o_orderdate")).cast("long").as("m"))
      // spec 1 (years ≤ SpecCut): partition by year only; the month
      // stays a DATA column (partitioning never drops source columns)
      base.filter(col("p") <= SpecCut)
        .select(col("k"), col("total_c"), col("m"), col("p"))
        .transform(ManifestTable.byPartition("p"))
        .write.mode(SaveMode.Overwrite).partitionBy("p")
        .parquet(s"$store/ps=1")
      // spec 2 (later years): partition by (year, month)
      base.filter(col("p") > SpecCut)
        .select(col("k"), col("total_c"), col("p"), col("m"))
        .transform(ManifestTable.byPartition("p", "m"))
        .write.mode(SaveMode.Overwrite).partitionBy("p", "m")
        .parquet(s"$store/ps=2")
      SnapshotStore.commit(store, SnapshotStore.listDataFiles(store)): Unit

      // plan from manifest paths alone — each file prunes at ITS spec
      val files = SnapshotStore.files(store, SnapshotStore.latest(store))
      val s1All = files.flatMap(f => S1Path.findFirstMatchIn(f)
        .map(mm => (f, mm.group(1).toLong)))
      val s2All = files.flatMap(f => S2Path.findFirstMatchIn(f)
        .map(mm => (f, mm.group(1).toLong, mm.group(2).toLong)))
      val s1Hit = s1All.filter { case (_, y) =>
        y >= QLo / 100 && y <= QHi / 100 }
      val s2Hit = s2All.filter { case (_, y, m) =>
        y * 100 + m >= QLo && y * 100 + m <= QHi }

      def rd(paths: Seq[String], base: String): DataFrame =
        ManifestTable.readFiles(spark, base, paths.map(f => s"$store/$f"),
          ManifestTable.longs("k", "total_c", "p", "m"))
      val r1 = rd(s1Hit.map(_._1), s"$store/ps=1")
      val r2 = rd(s2Hit.map(_._1), s"$store/ps=2")
      val inRange = col("p") * 100 + col("m") >= QLo &&
        col("p") * 100 + col("m") <= QHi
      val agg = r1.unionByName(r2)
        .agg(count(lit(1)).as("rows_read"),
          sum(when(inRange, 1L).otherwise(0L)).as("n_match"),
          coalesce(sum(when(inRange, col("total_c"))), lit(0L))
            .as("sum_total_c"))
        .select(lit((s1All.size + s2All.size).toLong).as("files_total"),
          lit(s1Hit.size.toLong).as("s1_files_read"),
          lit(s2Hit.size.toLong).as("s2_files_read"),
          col("rows_read"), col("n_match"), col("sum_total_c"))
      val rows = agg.collect().toIndexedSeq
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), agg.schema)
    }
  }

  /** Closed-form oracle: the two specs' pruning arithmetic plus the
    * full-table truth.
    */
  val evolveOracle: String =
    s"""WITH b AS (SELECT o_orderkey AS k,
       |    CAST(FLOOR(o_totalprice*100) AS BIGINT) AS total_c,
       |    CAST(year(o_orderdate) AS BIGINT) AS p,
       |    CAST(month(o_orderdate) AS BIGINT) AS m
       |  FROM orders),
       |s1f AS (SELECT p FROM b WHERE p <= $SpecCut GROUP BY 1),
       |s2f AS (SELECT p, m FROM b WHERE p > $SpecCut GROUP BY 1, 2),
       |s1r AS (SELECT * FROM b WHERE p <= $SpecCut
       |        AND p BETWEEN ${QLo / 100} AND ${QHi / 100}),
       |s2r AS (SELECT * FROM b WHERE p > $SpecCut
       |        AND p * 100 + m BETWEEN $QLo AND $QHi),
       |rd AS (SELECT * FROM s1r UNION ALL SELECT * FROM s2r)
       |SELECT
       |  (SELECT COUNT(*) FROM s1f) + (SELECT COUNT(*) FROM s2f) AS files_total,
       |  (SELECT COUNT(*) FROM s1f
       |   WHERE p BETWEEN ${QLo / 100} AND ${QHi / 100}) AS s1_files_read,
       |  (SELECT COUNT(*) FROM s2f
       |   WHERE p * 100 + m BETWEEN $QLo AND $QHi) AS s2_files_read,
       |  (SELECT COUNT(*) FROM rd) AS rows_read,
       |  (SELECT COUNT(*) FROM rd
       |   WHERE p * 100 + m BETWEEN $QLo AND $QHi) AS n_match,
       |  CAST((SELECT COALESCE(SUM(total_c), 0) FROM rd
       |   WHERE p * 100 + m BETWEEN $QLo AND $QHi) AS BIGINT) AS sum_total_c""".stripMargin
}
