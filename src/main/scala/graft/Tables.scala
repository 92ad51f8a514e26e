package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{
  ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated parquet tables (see TESTDATA.md).
  *
  * At cluster scale these would be external catalog tables; the loader
  * keeps the scan declarative so Catalyst pushes filters/pruning into
  * the parquet reader.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    // The engine's native functions (graft_fdot and friends) are not
    // registered here: the session carries them from GraftExtensions
    // (see GraftSession), so a session without the extension fails the
    // first graft_* call with UNRESOLVED_ROUTINE.
    // events.ts has shipped in two physical encodings across testdata
    // generations: INT64 TIMESTAMP(NANOS) — which Spark's TimestampType
    // (micros) rejects, so nanosAsLong surfaces it as a raw BIGINT of
    // epoch nanos — and plain TIMESTAMP(MICROS) (TIMESTAMP_NTZ in
    // Spark). Normalize both to the canonical bigint-epoch-nanos `ts`
    // here, at the single read seam, so every consumer (batch queries,
    // the streaming Ev encoder, the specs) sees one stable grain and
    // does its time math in exact integer space (see Queries.nsToSec).
    // The DuckDB oracles are grain-agnostic the same way: epoch_ns(ts)
    // yields epoch nanos for both TIMESTAMP and TIMESTAMP_NS columns.
    val path = s"$dir/$name.parquet"
    if (name == "events")
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = footerReader(spark, path).parquet(path)
    if (name == "events") normalizeEventTs(df) else df
  }

  /** A reader of the parquet at `path` — a file, or a Spark-written
    * directory whose first data file speaks for all (as with
    * `mergeSchema` off) — given the schema Spark's inference would
    * give it. That schema is read from the file's footer on the driver
    * with Spark's own converter, so the session's `nanosAsLong` and
    * TIMESTAMP_NTZ settings resolve as inference resolves them;
    * inference itself runs a one-task job per read to fetch it.
    * Nothing is cached: every call reads the footer. A path with no
    * data file at its top level (missing, empty, or partitioned into
    * `<col>=<v>` directories) gets the plain reader: Spark's inference
    * then reads it, or fails with Spark's own error.
    */
  def footerReader(spark: SparkSession, path: String): DataFrameReader = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val file = if (!fs.exists(p)) None
      else if (fs.getFileStatus(p).isFile) Some(p)
      else fs.listStatus(p).iterator
        .filter(f => f.isFile && !f.getPath.getName.startsWith("_") &&
          !f.getPath.getName.startsWith("."))
        .map(_.getPath).minByOption(_.getName)
    file.fold(spark.read) { f =>
      val footer = ParquetFooterReader.readFooter(
        HadoopInputFile.fromPath(f, conf), ParquetMetadataConverter.NO_FILTER)
      spark.read.schema(ParquetFileFormat.readSchemaFromFooter(new Footer(f, footer),
        new ParquetToSparkSchemaConverter(spark.sessionState.conf)))
    }
  }

  /** Rewrites a `ts` column of any supported physical grain to bigint
    * epoch nanoseconds (the canonical in-engine representation). The
    * micros→nanos widening is exact and cannot overflow: 2^63 ns ≈ year
    * 2262. NTZ timestamps are reinterpreted as UTC instants — sessions
    * are pinned `spark.sql.session.timeZone=UTC`, so the cast is the
    * identity on the wall-clock reading.
    */
  def normalizeEventTs(df: DataFrame): DataFrame = {
    val tsNs: Option[Column] = df.schema.find(_.name == "ts").map(_.dataType match {
      case LongType => col("ts") // already epoch nanos
      case TimestampType | TimestampNTZType =>
        unix_micros(col("ts").cast(TimestampType)) * 1000L
      case other =>
        throw new IllegalArgumentException(
          s"events.ts has unsupported physical type $other; expected " +
            "INT64 epoch-nanos or a timestamp type")
    })
    tsNs.map(c => df.withColumn("ts", c)).getOrElse(df)
  }
}
