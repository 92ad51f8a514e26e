package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Scratch

/** METADATA TABLES — the Iceberg `snapshots` / `files` / `refs`
  * introspection surface: the table's own bookkeeping exposed as a
  * queryable RELATION, because at 100 TB the first question is never
  * "what's in the data" but "what versions exist, what do the refs
  * point at, and how are the files distributed over partitions" — and
  * answering it must not read a single data file. The emitted relation
  * is the per-(snapshot, partition) file census joined with the ref
  * table: one row per (version, year) with the file count and the
  * comma-joined refs pinning that version.
  *
  * src_meta_tables stages a three-snapshot store with a tag and two
  * branches — `rel` tags v1 (years [y0,y0+2]), `main` advances to v2
  * (+y0+3), `audit` branches v1 + y0+4 — and certifies the whole
  * surface closed-form: a version leaking another branch's partitions,
  * a ref pointing at the wrong version, or a census that read data
  * dirs instead of manifests all hash-mismatch.
  *
  * Scale shape: pure manifest/ref arithmetic — the frames are (a few
  * versions) × (files per version) rows of file NAMES, exploded
  * driver-side from KB-scale metadata and aggregated distributed; the
  * pattern is exactly Iceberg's metadata tables, which serve the same
  * census from manifest avro without touching data. No data file is
  * opened at any point.
  *
  * Reference surface: the reference answers "which octree versions
  * exist and what do they contain" by listing directory trees; the
  * manifest census is the table-format answer.
  */
object MetaTables {

  def metaTables(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Scratch.withDir("meta") { root =>
      val o = TableRefs.ordersYkp(spark, dir)
      val (y0, _) = TableRefs.yearBounds(spark, dir)
      val base = TableRefs.writeYears(spark, root, o, y0, y0 + 2)
      val v1 = SnapshotStore.commit(root, base)
      Refs.set(root, "rel", v1)
      val mAdd = TableRefs.writeYears(spark, root, o, y0 + 3, y0 + 3)
      val v2 = SnapshotStore.commit(root, base ++ mAdd)
      Refs.set(root, "main", v2)
      val aAdd = TableRefs.writeYears(spark, root, o, y0 + 4, y0 + 4)
      val v3 = SnapshotStore.commit(root, SnapshotStore.files(root, v1) ++ aAdd)
      Refs.set(root, "audit", v3)

      // the `files` metadata relation: (version, file path) exploded
      // from each committed manifest — names only, no data IO
      val files = SnapshotStore.versions(root)
        .flatMap(v => SnapshotStore.files(root, v).map(f => (v.toLong, f)))
        .toDF("version", "path")
      // the `refs` relation
      val refs = Seq(("audit", v3.toLong), ("main", v2.toLong),
        ("rel", v1.toLong)).toDF("ref", "version")
      val refsPerV = refs.groupBy("version")
        .agg(concat_ws(",", array_sort(collect_list(col("ref")))).as("refs"))
      files
        .withColumn("y", regexp_extract(col("path"), "y=(\\d+)", 1).cast("long"))
        .groupBy("version", "y")
        .agg(count(lit(1)).as("n_files"))
        .join(broadcast(refsPerV), Seq("version"), "left")
        .select(col("version"), col("y"), col("n_files"),
          coalesce(col("refs"), lit("")).as("refs"))
        .orderBy("version", "y")
        .localCheckpoint()
    }
  }

  /** Closed-form oracle: v1 = rel over years [y0,y0+2], v2 = main over
    * [y0,y0+3], v3 = audit over [y0,y0+2] ∪ {y0+4}; one file per
    * (version, year).
    */
  val metaTablesOracle: String =
    """WITH y0 AS (SELECT MIN(CAST(year(o_orderdate) AS BIGINT)) AS y0
      |            FROM orders),
      |rows_ AS (
      |  SELECT CAST(1 AS BIGINT) AS version, y0.y0 + r.d AS y, 'rel' AS refs
      |  FROM y0, range(0, 3) r(d)
      |  UNION ALL
      |  SELECT CAST(2 AS BIGINT), y0.y0 + r.d, 'main'
      |  FROM y0, range(0, 4) r(d)
      |  UNION ALL
      |  SELECT CAST(3 AS BIGINT), y0.y0 + r.d, 'audit'
      |  FROM y0, range(0, 3) r(d)
      |  UNION ALL
      |  SELECT CAST(3 AS BIGINT), y0.y0 + 4, 'audit' FROM y0)
      |SELECT version, y, CAST(1 AS BIGINT) AS n_files, refs
      |FROM rows_ ORDER BY version, y""".stripMargin
}
