package graft.sources

import graft.{GraftSession, SparkEntry, SparkJobs}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The [[ManifestTable]] core: the footer manifest of every op's store
  * against an aggregate over the store read back, null bounds, how many
  * Spark jobs each stats-planned op runs end to end, and the empty-plan
  * read no benched band reaches.
  */
class ManifestTableSpec extends AnyFunSuite with BeforeAndAfterAll {

  val dir = "/root/testdata/sf0.001"

  @transient lazy val spark: SparkSession = GraftSession("ManifestTableSpec", 4)

  override def afterAll(): Unit = spark.stop()

  /** Jobs per op measured with this spec's body once the manifest came
    * from the written footers: the bound each row must stay at or below.
    */
  private val jobsBefore = Seq("src_stats_prune" -> 6, "src_manifest_prune" -> 9,
    "src_hidden_partition" -> 7, "src_hidden_zorder" -> 6,
    "src_zorder_store" -> 6, "src_hilbert_store" -> 6, "src_bloom_index" -> 17)

  test("jobs per op: every stats-planned src_* row runs at most its measured job count") {
    // warm-up: first touches of the tables and codegen run no extra jobs
    // in the measured pass
    jobsBefore.foreach { case (q, _) => SparkEntry.queries(q)(spark, dir).collect() }
    val got = jobsBefore.map { case (q, _) =>
      q -> SparkJobs.count(spark)(SparkEntry.queries(q)(spark, dir).collect(): Unit)
    }
    info(got.map { case (q, n) => s"$q=$n" }.mkString(" "))
    got.zip(jobsBefore).foreach { case ((q, n), (_, bound)) =>
      assert(n <= bound, s"$q ran $n jobs, more than $bound")
    }
  }

  /** The bounded columns of `t`'s manifest: `c` for each `lo_<c>`. */
  private def bounded(t: ManifestTable): Seq[String] =
    t.statsSchema.fieldNames.toSeq.filter(_.startsWith("lo_")).map(_.drop(3))

  /** `df` aggregated per partition-value tuple into the manifest's
    * columns with SQL `count`, `min` and `max`, as a set of rows.
    */
  private def aggregated(df: DataFrame, partCols: Seq[String],
      bounded: Seq[String]): Set[Seq[Any]] =
    df.groupBy(partCols.map(col): _*)
      .agg(count(lit(1)).as("n_rows"),
        bounded.flatMap(c => Seq(min(c).as(s"lo_$c"), max(c).as(s"hi_$c"))): _*)
      .collect().map(_.toSeq).toSet

  test("footer manifest: every op's stats equal an aggregate over its store read back") {
    def check(name: String, t: ManifestTable): Unit = {
      val want = aggregated(t.read(t.stats), t.partCols, bounded(t))
      assert(t.stats.map(_.toSeq).toSet === want, name)
      assert(t.stats.length === want.size, s"$name: one manifest row per tuple")
      info(s"$name: ${t.stats.length} files, bounds on ${bounded(t).mkString(", ")}")
    }
    def staged(name: String, t: ManifestTable): Unit = try check(name, t) finally t.drop()
    staged("sprune", StatsPrune.stage(spark, dir))
    val files = ManifestPrune.stageFiles(spark, dir)
    try {
      check("mprune", files)
      staged("mprune_meta", ManifestPrune.stageManifests(files))
    } finally files.drop()
    staged("hidpart", HiddenPartition.stage(spark, dir))
    staged("hidz", HiddenZOrder.stage(spark, dir))
    staged("zstore", ZOrderStore.stage(spark, dir))
    staged("hstore", ZOrderStore.stage(spark, dir, HilbertStore.Hilbert))
    staged("bloom", BloomIndex.stage(spark, dir))
  }

  test("footer manifest: a tuple with no non-null value has null bounds; files fold per tuple") {
    // p = 0 holds only nulls; p = 1 and 2 mix null and non-null rows.
    // Two rows per file, in id order, split each tuple over four files,
    // the first of them all-null in every tuple
    val df = spark.range(0, 24).select(col("id"), (col("id") % 3).as("p"),
      when(col("id") % 3 === 0 || col("id") < 6 || col("id") % 4 === 1,
        lit(null).cast("long")).otherwise(col("id")).as("v"))
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "2")
    val t = try ManifestTable.write("mtnull", df, Seq("p"), Seq("id"), Seq("v"))
      finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    try {
      val nFiles = java.nio.file.Files.walk(java.nio.file.Paths.get(s"${t.store}/data"))
        .filter(_.toString.endsWith(".parquet")).count()
      assert(nFiles >= 12L, s"only $nFiles files: each tuple must span several")
      assert(t.stats.map(_.toSeq).toSet === aggregated(df, Seq("p"), Seq("v")))
      assert(t.stats.map(_.toSeq) === Seq(Seq(0L, 8L, null, null),
        Seq(1L, 8L, 7L, 22L), Seq(2L, 8L, 8L, 23L)))
      assert(t.max("hi_v") === 23L)
    } finally t.drop()
  }

  test("empty plan: a band above the key maximum reads no file and tallies zeros") {
    val t = StatsPrune.stage(spark, dir)
    try {
      val mk = StatsPrune.keyMax(t)
      assert(StatsPrune.servePlanned(t, mk + 1, mk + 100) === ((0L, 0L, 0L, 0L, 0L)))
    } finally t.drop()
  }

  test("read(Nil) is a zero-row frame with the data columns") {
    val t = StatsPrune.stage(spark, dir)
    try {
      val empty = t.read(Nil)
      assert(empty.columns.toSeq === Seq("k", "total_c", "p", "fid"))
      assert(empty.schema === t.read(t.stats.take(1)).schema)
      assert(empty.count() === 0L)
    } finally t.drop()
  }
}
