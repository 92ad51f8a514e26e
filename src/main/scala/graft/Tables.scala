package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
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
    if (name == "events") {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      normalizeEventTs(spark.read.parquet(s"$dir/$name.parquet"))
    } else spark.read.parquet(s"$dir/$name.parquet")
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
