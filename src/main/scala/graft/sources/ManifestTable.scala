package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import scala.jdk.CollectionConverters._
import graft.Scratch

/** The one staged-store layout under the stats-planned table-format
  * ops: data files partitioned by the op's layout columns, and a
  * per-file stats manifest held on the driver — what an Iceberg
  * manifest keeps per data file. A reader plans its file list from
  * the stats (an ordinary `filter` over [[stats]]) and opens only the
  * files that survive ([[read]]); the files a 100 TB scan never opens
  * are the point.
  *
  * Store layout: `data/<col>=<v>/…` per partition-column value tuple.
  * Only this module builds those paths.
  *
  * One pass over the source ([[write]]): the base is lazily
  * checkpointed, so the data write materializes it and the stats
  * aggregation reads pinned blocks instead of re-scanning the source
  * and re-running the layout transform. The stats are bounded
  * metadata: collected once and handed to the planner driver-side,
  * where every reader plans from them; they are not written out.
  * Key maxima a transform needs are collected by the caller before
  * the write and baked into its expressions as literals — a
  * `crossJoin(broadcast(mx))` would re-run the max subquery in every
  * execution that touches the base.
  *
  * @param pinned the lazily checkpointed base the store was written
  *   from; further aggregates over it read pinned blocks
  * @param schema the data columns as read back: the base's other
  *   columns, then the partition columns
  */
private[graft] final case class ManifestTable(store: String,
    partCols: Seq[String], schema: StructType, statsSchema: StructType,
    stats: IndexedSeq[Row], pinned: DataFrame) {

  private def spark: SparkSession = pinned.sparkSession

  /** The largest value of the stats column `c` over all files. */
  def max(c: String): Long = stats.map(_.getAs[Long](c)).max

  /** The stats rows as a local frame (no job to build or broadcast). */
  def statsFrame: DataFrame = spark.createDataFrame(stats.asJava, statsSchema)

  /** The data files of the given rows (any rows carrying the partition
    * columns, usually planned stats rows), read as [[ManifestTable.readFiles]].
    */
  def read(files: Seq[Row]): DataFrame =
    ManifestTable.readFiles(spark, s"$store/data", files.map(r =>
      partCols.map(c => s"$c=${r.getAs[Any](c)}").mkString(s"$store/data/", "/", "")),
      schema)

  /** Read `files` and tally them in one aggregate: rows read, rows
    * matching `isMatch`, then the matching rows' sum of each of `sums`.
    */
  def tally(files: Seq[Row], isMatch: Column, sums: String*): IndexedSeq[Long] = {
    val a = read(files).agg(count(lit(1)),
      (count(when(isMatch, 1)) +: sums.map(s =>
        coalesce(sum(when(isMatch, col(s))), lit(0L)))): _*).collect()(0)
    (0 until a.length).map(a.getLong)
  }

  def drop(): Unit = Scratch.rm(store)
}

private[graft] object ManifestTable {

  /** Write `base` under a fresh scratch store partitioned by
    * `partCols`, rows sorted by `clusterCols` inside each file, and
    * collect the `stats` aggregates per file.
    */
  def write(prefix: String, base: DataFrame, partCols: Seq[String],
      clusterCols: Seq[String], stats: Column*): ManifestTable = {
    val spark = base.sparkSession
    val store = Scratch.path(prefix)
    Scratch.rm(store)
    val b = base.localCheckpoint(eager = false)
    // one shuffle keyed by the partition columns colocates each file's
    // rows, so partitionBy writes exactly one file per value tuple. The
    // sort leads with the partition columns so the partitioned write's
    // required ordering is already satisfied — otherwise the writer
    // re-sorts by the partition columns alone (non-stable) and the
    // cluster order inside each file is destroyed
    b.repartition(partCols.map(col): _*)
      .sortWithinPartitions((partCols ++ clusterCols).map(col): _*)
      .write.mode(SaveMode.Overwrite).partitionBy(partCols: _*)
      .parquet(s"$store/data")
    val statsDf = b.groupBy(partCols.map(col): _*).agg(stats.head, stats.tail: _*)
    ManifestTable(store, partCols,
      StructType(b.schema.filterNot(f => partCols.contains(f.name)) ++
        partCols.map(b.schema(_))),
      statsDf.schema, statsDf.collect().toIndexedSeq, b)
  }

  /** The parquet `paths` (files or partition directories under `base`,
    * whose `<col>=<v>` directories become columns) read with the known
    * `schema`, so no file is opened to infer it. With no paths — a plan
    * that kept nothing — a zero-row frame with that schema:
    * `spark.read.parquet()` with zero paths throws.
    */
  def readFiles(spark: SparkSession, base: String, paths: Seq[String],
      schema: StructType): DataFrame =
    if (paths.isEmpty) spark.createDataFrame(java.util.List.of[Row](), schema)
    else spark.read.schema(schema).option("basePath", base).parquet(paths: _*)

  /** A schema of long columns. */
  def longs(cols: String*): StructType =
    StructType(cols.map(StructField(_, LongType)))

  /** One certified output row of longs, built on the driver. */
  def row(spark: SparkSession, cols: (String, Long)*): DataFrame =
    spark.createDataFrame(java.util.List.of(Row(cols.map(_._2): _*)),
      StructType(cols.map(c => StructField(c._1, LongType, nullable = false))))
}
