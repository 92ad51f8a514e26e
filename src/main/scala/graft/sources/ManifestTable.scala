package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.execution.datasources.parquet.ParquetFooterReader
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
  * One pass over the source ([[ManifestTable.write]]): one shuffle by
  * the partition columns into a fixed count of tasks, so every core
  * writes files, and the manifest is read back from the written
  * files' parquet footers on the driver — the bounds come from the
  * writer, as an Iceberg manifest's do, not from a second scan or an
  * aggregation job. Per partition-value tuple the manifest carries
  * `n_rows` (the footers' row counts) and `lo_<c>`/`hi_<c>` for each
  * bounded column `c` (the column chunks' min/max statistics; null
  * when the tuple holds no non-null value, as SQL `min`/`max` give).
  * Ops derive their own stat names from these. Key maxima a transform
  * needs are collected by the caller before the write and baked into
  * its expressions as literals — a `crossJoin(broadcast(mx))` would
  * re-run the max subquery in every execution that touches the base.
  *
  * @param schema the data columns as read back: the base's other
  *   columns, then the partition columns
  * @param statsSchema the partition columns, `n_rows`, then the
  *   `lo_<c>`/`hi_<c>` pair of each bounded column
  */
private[graft] final case class ManifestTable(spark: SparkSession, store: String,
    partCols: Seq[String], schema: StructType, statsSchema: StructType,
    stats: IndexedSeq[Row]) {

  /** The largest non-null value of the stats column `c` over all files. */
  def max(c: String): Long = {
    val i = statsSchema.fieldIndex(c)
    stats.filterNot(_.isNullAt(i)).map(_.getLong(i)).max
  }

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

  /** Write `base` under a fresh scratch store partitioned by the long
    * columns `partCols`, rows sorted by `clusterCols` inside each
    * file, and read the manifest — `n_rows` and the bounds of each of
    * the long columns `bounded` per partition-value tuple — from the
    * written footers.
    */
  def write(prefix: String, base: DataFrame, partCols: Seq[String],
      clusterCols: Seq[String], bounded: Seq[String]): ManifestTable = {
    val spark = base.sparkSession
    (partCols ++ bounded).foreach(c => require(base.schema(c).dataType == LongType,
      s"manifest column $c is ${base.schema(c).dataType}, not bigint"))
    val store = Scratch.path(prefix)
    Scratch.rm(store)
    // the shuffle colocates each value tuple's rows, so partitionBy
    // writes exactly one file per tuple. The sort leads with the
    // partition columns so the partitioned write's required ordering is
    // already satisfied — otherwise the writer re-sorts by the
    // partition columns alone (non-stable) and the cluster order inside
    // each file is destroyed
    base.transform(byPartition(partCols: _*))
      .sortWithinPartitions((partCols ++ clusterCols).map(col): _*)
      .write.mode(SaveMode.Overwrite).partitionBy(partCols: _*)
      .parquet(s"$store/data")
    val statsSchema = StructType(partCols.map(StructField(_, LongType, nullable = false)) ++
      Seq(StructField("n_rows", LongType, nullable = false)) ++
      bounded.flatMap(c => Seq(StructField(s"lo_$c", LongType), StructField(s"hi_$c", LongType))))
    ManifestTable(spark, store, partCols,
      StructType(base.schema.filterNot(f => partCols.contains(f.name)) ++
        partCols.map(base.schema(_))),
      statsSchema, footerStats(spark, s"$store/data", partCols, bounded).map(v =>
        new GenericRowWithSchema(v.toArray, statsSchema)))
  }

  /** `df` shuffled by `cols` into a fixed count of partitions, one per
    * core, ready for a `partitionBy(cols)` write (`df.transform(
    * byPartition(cols: _*))`). A fixed count, which AQE does not
    * coalesce: a staged store's shuffle is small, and coalesced into
    * one task it leaves one thread writing every file.
    */
  def byPartition(cols: String*)(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism, cols.map(col): _*)

  /** The manifest values of the partitioned parquet store at `root`, read
    * on the driver from every data file's footer and folded per
    * partition-value tuple, in tuple order: the tuple, the summed row
    * counts, then the min/max over the `bounded` columns' chunk
    * statistics. A chunk without statistics fails loudly rather than
    * plan from a guess.
    */
  private def footerStats(spark: SparkSession, root: String, partCols: Seq[String],
      bounded: Seq[String]): IndexedSeq[Seq[Any]] = {
    val conf = spark.sessionState.newHadoopConf()
    // per tuple: n_rows, then (lo, hi) per bounded column, null until
    // a chunk with a non-null value is seen
    val acc = scala.collection.mutable.Map.empty[Seq[Long], Array[Any]]
    SnapshotStore.listDataFiles(root).foreach { rel =>
      val f = s"$root/$rel"
      val dirs = rel.split('/').dropRight(1).toSeq
      require(dirs.length == partCols.length, s"$f is not under one directory per partition column")
      val key = partCols.zip(dirs).map { case (c, d) =>
        require(d.startsWith(s"$c="), s"$f is not under a $c=<v> directory")
        d.substring(c.length + 1).toLong
      }
      val a = acc.getOrElseUpdate(key, 0L +: Array.fill[Any](2 * bounded.length)(null))
      val footer = ParquetFooterReader.readFooter(
        HadoopInputFile.fromPath(new Path(f), conf), ParquetMetadataConverter.NO_FILTER)
      footer.getBlocks.asScala.foreach { block =>
        a(0) = a(0).asInstanceOf[Long] + block.getRowCount
        val chunks = block.getColumns.asScala.map(c => c.getPath.toDotString -> c).toMap
        bounded.zipWithIndex.foreach { case (c, i) =>
          val chunk = chunks(c)
          val st = chunk.getStatistics
          if (st.hasNonNullValue) {
            val lo = st.genericGetMin.asInstanceOf[Number].longValue
            val hi = st.genericGetMax.asInstanceOf[Number].longValue
            a(1 + 2 * i) = Option(a(1 + 2 * i)).fold(lo)(v => math.min(v.asInstanceOf[Long], lo))
            a(2 + 2 * i) = Option(a(2 + 2 * i)).fold(hi)(v => math.max(v.asInstanceOf[Long], hi))
          } else require(st.isNumNullsSet && st.getNumNulls == chunk.getValueCount,
            s"$f has no statistics for column $c")
        }
      }
    }
    acc.toIndexedSeq.sortBy(_._1)(Ordering.Implicits.seqOrdering[Seq, Long])
      .map { case (k, a) => k ++ a }
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
