package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's standard tuning.
  *
  * local[N] here; on a real cluster the same conf scales by sizing
  * `spark.sql.shuffle.partitions` to ~2-3x total cores. AQE re-plans
  * skewed joins and coalesces small shuffle partitions at runtime.
  */
object GraftSession {
  def apply(appName: String = "graft", cores: Int = 32): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      // same injection a cluster user gets from
      // --conf spark.sql.extensions=graft.GraftExtensions
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L << 20).toString)
      // shuffle/spill on tmpfs: the host's disk has multi-second stalls
      // that block shuffle-file IO (observed 80s pauses at ~0% CPU)
      .config("spark.local.dir", s"${Scratch.root}/graft-spark")
      // Every running sort and hash aggregate holds at least one whole
      // page. Spark sizes pages from heap / cores (16 MB on a 3 GB heap
      // with 4 cores), though most tasks here sort a few hundred KB;
      // with one sort per core running at once that is heap held for
      // nothing. Records larger than a page still get a page of their
      // own size.
      .config("spark.buffer.pageSize", "2m")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
