package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Per-file Bloom-filter POINT-LOOKUP index — the pruning class
  * min/max statistics cannot serve. [[StatsPrune]] and [[ZOrderStore]]
  * prune RANGE predicates because the layout clusters the predicate
  * column; a point lookup on a key the layout does NOT cluster (here:
  * `o_orderkey` lookups against a date-partitioned orders store, the
  * shape of "fetch one order from a 100 TB time-partitioned fact
  * table") sees every file's [min,max] envelope overlap the probe, so
  * stats prune nothing. The published fix (Parquet split-block blooms,
  * Iceberg/Delta bloom indexes, reference file-keyed tile lookup:
  * volume_tools/src/tilenaming.cpp:41) is a per-file Bloom filter over
  * the lookup key: kilobytes of index metadata per file, no false
  * negatives ever, false positives bounded by the bits-per-key budget.
  *
  * Index layout: for each file, K=[[BloomK]] hash positions per key in
  * a bit space of m = [[BitsPerKey]]·(keys in file) bits (FPR ≈
  * (1-e^(-K/BitsPerKey))^K ≈ 2 %, independent of scale); the bitmap is
  * persisted SPARSELY as non-zero 64-bit words `(p, widx, word)` — a
  * missing word is a zero word, so membership semantics are exactly
  * the dense filter's. The hash is the engine's shared
  * `graft_md5_prefix` (so the DuckDB oracle re-derives the whole index
  * + probe arithmetic in closed form). Build is one distinct + one
  * two-level aggregation (map-side `bit_or` combine); probing is
  * bounded metadata joins (probes × files × K rows); the data read
  * opens ONLY bloom-hit files.
  *
  * Scale shape: index size is O(K · keys / 64) words ≤ a few per mille
  * of the data; build is embarrassingly parallel per file; a probe
  * batch plans from the index without touching data, then reads
  * O(probes · (1 + FPR · files)) files of a 100 TB store.
  */
object BloomIndex {

  /** Hash probes per key. */
  val BloomK = 5
  /** Bloom bits budgeted per key. */
  val BitsPerKey = 8L
  /** Point-lookup probes served (4 of them beyond the key maximum —
    * the all-files-reject path).
    */
  val Probes = 20L

  /** The columns [[stage]] writes the index with: read back with
    * them, the index opens no file to infer its schema.
    */
  private val IndexCols = ManifestTable.longs("p", "widx", "word")

  /** `graft_md5_prefix(i ':' key) % m` — one bloom position. */
  private def posExpr(i: Int, key: String, m: String): String =
    s"graft_md5_prefix(concat(cast($i as string), ':', cast($key as string))) % $m"

  /** Write orders date-partitioned (p = order year) on the
    * [[ManifestTable]] core, whose stats size each file's filter
    * (m = BitsPerKey * n_rows; orderkey is the primary key, so
    * keys = rows) and carry its key maximum `hi_k`; then the per-file
    * sparse bloom-word index beside the data, built from the store
    * read back.
    */
  private[graft] def stage(spark: SparkSession, dir: String): ManifestTable = {
    val t = ManifestTable.write("bloom", Tables(spark, dir, "orders")
        .select(col("o_orderkey").as("k"),
          floor(col("o_totalprice") * 100).cast("long").as("price_c"),
          year(col("o_orderdate")).cast("long").as("p")),
      Seq("p"), Nil, Seq("k"))
    // the index: distinct bloom positions -> sparse non-zero words,
    // built with a map-side-combinable two-level bit_or aggregation
    t.read(t.stats).join(broadcast(filterBits(t)), Seq("p"))
      .select(col("p"), explode(array((0 until BloomK).map(i =>
        expr(posExpr(i, "k", "m"))): _*)).as("pos"))
      .distinct()
      .select(col("p"), (col("pos") / 64L).cast("long").as("widx"),
        expr("shiftleft(1L, cast(pos % 64 as int))").as("bit"))
      .groupBy("p", "widx").agg(expr("bit_or(bit)").as("word"))
      .write.mode(SaveMode.Overwrite).parquet(s"${t.store}/index")
    t
  }

  /** Each file's filter size `(p, m)`: m = BitsPerKey * keys in file. */
  private def filterBits(t: ManifestTable): DataFrame =
    t.statsFrame.select(col("p"), (col("n_rows") * BitsPerKey).as("m"))

  /** The key maximum the probe schedule derives from. */
  private[graft] def keyMax(t: ManifestTable): Long = t.max("hi_k")

  /** The default 20-probe batch. */
  private[graft] def defaultProbes(spark: SparkSession, t: ManifestTable): DataFrame =
    spark.range(1, Probes + 1)
      .select(((col("id") * keyMax(t)) / 16L).cast("long").as("pk"))

  /** Plan the probe batch from the persisted index: bloom-hit
    * (probe, file) pairs. A probe hits a file iff EVERY one of its
    * distinct positions has its bit set — a missing word is a zero
    * word (sparse = dense semantics).
    */
  private[graft] def planProbes(spark: SparkSession, t: ManifestTable): DataFrame =
    planProbeFrame(spark, t, defaultProbes(spark, t))

  private[graft] def planProbeFrame(spark: SparkSession, t: ManifestTable,
      probes: DataFrame): DataFrame = {
    val index = spark.read.schema(IndexCols).parquet(s"${t.store}/index")
    val pb = probes.crossJoin(broadcast(filterBits(t)))
      .select(col("pk"), col("p"), explode(array((0 until BloomK).map(i =>
        expr(posExpr(i, "pk", "m"))): _*)).as("pos"))
      .distinct()
      .select(col("pk"), col("p"), (col("pos") / 64L).cast("long").as("widx"),
        expr("shiftleft(1L, cast(pos % 64 as int))").as("bit"))
    pb.join(index, Seq("p", "widx"), "left")
      .groupBy("pk", "p")
      .agg(count(lit(1)).as("n_need"),
        sum(when(col("word").isNotNull &&
          (col("word").bitwiseAND(col("bit")) =!= 0L), 1L).otherwise(0L))
          .as("n_set"))
      .filter(col("n_need") === col("n_set"))
      .select("pk", "p")
  }

  /** src_bloom_index — build the per-file bloom index over a
    * date-partitioned orders store, serve a 20-probe point-lookup
    * batch reading ONLY bloom-hit files, and emit the per-probe
    * certified rows (files_hit, n_match, sum_price_c). The oracle
    * recomputes index + plan + matches in closed form from `orders`:
    * a false NEGATIVE (pruned file hiding the looked-up row) breaks
    * n_match/sum; an over- or under-probing plan breaks files_hit.
    */
  def bloomIndex(spark: SparkSession, dir: String): DataFrame = {
    val t = stage(spark, dir)
    // servePerProbe returns the bounded per-probe rows already built
    // on the driver in probe_key order
    try servePerProbe(spark, t, defaultProbes(spark, t)).orderBy("probe_key")
    finally t.drop()
  }

  /** Serve ONE probe batch: plan from the index, read only bloom-hit
    * files, return the certified per-probe rows — the seam the batch
    * op and the streaming lookup loop share.
    */
  private[graft] def servePerProbe(spark: SparkSession, t: ManifestTable,
      probes: DataFrame): DataFrame = {
    import spark.implicits._
    // the bloom plan is bounded metadata (probes × hit files):
    // collect it ONCE and derive the file list and per-probe
    // files_hit driver-side
    val probeKeys = probes.collect().map(_.getLong(0)).sorted
    val hitRows = planProbeFrame(spark, t, probes).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val hitFiles = hitRows.map(_._2).toSet
    val filesHit = hitRows.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    // the pruned read: only bloom-hit partitions are opened; the
    // per-probe file restriction is the broadcast hits join
    val matched = t.read(t.stats.filter(r => hitFiles(r.getAs[Long]("p"))))
      .join(broadcast(hitRows.toSeq.toDF("pk", "p")), Seq("p"))
      .filter(col("k") === col("pk"))
      .groupBy("pk")
      .agg(count(lit(1)).as("n_match"), sum(col("price_c")).as("sum_price_c"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    probeKeys.toSeq.map { pk =>
      val (nm, spc) = matched.getOrElse(pk, (0L, 0L))
      (pk, t.stats.length.toLong, filesHit.getOrElse(pk, 0L), nm, spc)
    }.toDF("probe_key", "files_total", "files_hit", "n_match", "sum_price_c")
  }

  /** Closed-form oracle: the identical index + probe arithmetic from
    * `orders`, with `graft_md5_prefix` re-derived as the strpos
    * polynomial.
    */
  val bloomOracle: String = {
    def md5Int(x: String): String =
      (1 to 8).map { i =>
        s"(strpos('0123456789abcdef', substr(md5($x), $i, 1)) - 1) * ${1L << (4 * (8 - i))}"
      }.mkString("(", " + ", ")")
    val hk = md5Int("CONCAT(i, ':', k)")
    val hp = md5Int("CONCAT(i, ':', pk)")
    s"""WITH o AS (SELECT o_orderkey AS k,
       |    CAST(FLOOR(o_totalprice*100) AS BIGINT) AS price_c,
       |    CAST(year(o_orderdate) AS BIGINT) AS p
       |  FROM orders),
       |mx AS (SELECT MAX(k) AS mk FROM o),
       |fm AS (SELECT p, $BitsPerKey * COUNT(*) AS m FROM o GROUP BY 1),
       |bits AS (SELECT DISTINCT o.p, $hk % m AS pos
       |  FROM o JOIN fm USING (p), range(0, $BloomK) t(i)),
       |probes AS (SELECT (i * mk) // 16 AS pk
       |  FROM range(1, ${Probes + 1}) t(i), mx),
       |pb AS (SELECT DISTINCT pk, fm.p, $hp % m AS pos
       |  FROM probes, fm, range(0, $BloomK) t(i)),
       |hit AS (SELECT pk, pb.p FROM pb
       |  LEFT JOIN bits b ON pb.p = b.p AND pb.pos = b.pos
       |  GROUP BY pk, pb.p HAVING COUNT(*) = COUNT(b.pos)),
       |mt AS (SELECT pk, COUNT(*) AS n_match,
       |    CAST(SUM(price_c) AS BIGINT) AS sum_price_c
       |  FROM probes JOIN o ON o.k = pk GROUP BY pk)
       |SELECT pk AS probe_key,
       |  (SELECT COUNT(*) FROM fm) AS files_total,
       |  COALESCE(h.files_hit, 0) AS files_hit,
       |  COALESCE(mt.n_match, 0) AS n_match,
       |  COALESCE(mt.sum_price_c, 0) AS sum_price_c
       |FROM probes
       |LEFT JOIN (SELECT pk, COUNT(*) AS files_hit FROM hit GROUP BY 1) h
       |  USING (pk)
       |LEFT JOIN mt USING (pk)
       |ORDER BY probe_key""".stripMargin
  }
}
