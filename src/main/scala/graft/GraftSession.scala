package graft

import org.apache.spark.sql.SparkSession

/** The one session factory: every main (`Verify`, `Bench`, `Explain`)
  * and every test builds its session here, so the session the oracle
  * gate certifies is the one the benchmark times. It always carries
  * [[GraftExtensions]], the engine's only install path for its native
  * functions, planner rules and as-of strategy.
  *
  * local[N] here; on a real cluster the same conf scales by sizing
  * `spark.sql.shuffle.partitions` to ~2-3x total cores. AQE re-plans
  * skewed joins and coalesces small shuffle partitions at runtime.
  * `SPARK_LOCAL_DIRS`, Spark's own override, replaces the
  * `spark.local.dir` set here.
  */
object GraftSession {
  /** Spark's generated-code cache size and the entries it gets here. */
  val CodegenCacheConf = "spark.sql.codegen.cache.maxEntries"
  val CodegenCacheEntries = 2000

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
      // wide fused projections (16-table LSH plane hashing) exceed the
      // 64KB default and fell back to INTERPRETED eval (33s of task
      // time on a 2000-row stage); the generated code is
      // method-split, so letting it through keeps codegen
      .config("spark.sql.codegen.hugeMethodLimit", (1 << 23).toString)
      // a pass over several queries generates more distinct classes
      // than the 100 Spark's code cache holds, so every pass evicted
      // and recompiled (and JIT-compiled) 80 to 90 of them. The cache
      // is sized once per JVM, by the first session that generates
      // code, hence a static conf set here and not an option
      .config(CodegenCacheConf, CodegenCacheEntries.toString)
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
