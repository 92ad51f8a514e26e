package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.Scratch
import graft.Tables

/** Iceberg-style SCHEMA EVOLUTION at the [[SnapshotStore]] manifest
  * seam: every schema version is a list of (field-id, name, type)
  * committed beside the manifests, every data file records which
  * schema version it was written under, and a reader of schema vN
  * resolves each file's columns BY FIELD ID, never by name. That
  * id-resolution is what makes the three long-lived-table operations
  * safe on a 100 TB store where rewriting old files is off the table:
  *
  *  - RENAME (id kept): files written before the rename serve the
  *    column under its old name; the id maps it to the new one.
  *  - ADD (fresh id): older files lack the id and read NULL.
  *  - DROP + RE-ADD (fresh id, same name): the re-added column is a
  *    DIFFERENT field; dropped data in old files must NOT resurface
  *    under the recycled name — the name matches but the id doesn't.
  *
  * src_schema_evolve drives one table through all three (v1 write →
  * v2 rename+add → v3 drop+re-add, each generation appending files
  * under its own schema) and aggregates ONE evolved read spanning all
  * three generations; the closed-form oracle recomputes the aggregate
  * from `documents`, so a leaked shadowed column, an unmapped rename,
  * or a missing NULL-fill all hash-mismatch.
  *
  * Scale shape: schema JSONs and manifests are driver-side metadata
  * (bytes per version); the evolved read is one parquet scan per
  * schema GENERATION (bounded by evolution history, not data size)
  * with a pure projection mapping each — no shuffle until the
  * caller's own aggregation.
  */
object SchemaEvolve {

  final case class Field(id: Int, name: String, tpe: String)

  /** Commit a schema version (metadata lives under an underscore dir —
    * [[SnapshotStore.listDataFiles]] never absorbs it as data).
    */
  def writeSchema(root: String, v: Int, fields: Seq[Field]): Unit = {
    val d = new java.io.File(s"$root/_schemas")
    d.mkdirs()
    val json = s"""{"schemaVersion":$v,"fields":[${
      fields.map(f => s"""{"id":${f.id},"name":"${f.name}","type":"${f.tpe}"}""")
        .mkString(",")}]}"""
    java.nio.file.Files.write(
      new java.io.File(d, s"schema-v$v.json").toPath, json.getBytes("UTF-8"))
  }

  /** Read a committed schema version back. */
  def readSchema(root: String, v: Int): Seq[Field] = {
    val txt = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(s"$root/_schemas/schema-v$v.json").toPath), "UTF-8")
    """\{"id":([0-9]+),"name":"([^"]+)","type":"([^"]+)"\}""".r
      .findAllMatchIn(txt)
      .map(m => Field(m.group(1).toInt, m.group(2), m.group(3))).toSeq
  }

  /** The schema version a manifest-listed data file was written under
    * (recorded in its path as the sv= directory — the per-file schema
    * id an Iceberg manifest entry carries).
    */
  private def svOf(relPath: String): Int = {
    val m = "sv=([0-9]+)/".r.findFirstMatchIn(relPath)
    require(m.isDefined, s"data file '$relPath' records no schema version")
    m.get.group(1).toInt
  }

  /** Evolved read of snapshot version `snapV` under schema `targetV`:
    * group the manifest's files by written-schema generation, project
    * each group onto the target schema BY FIELD ID (rename follows
    * the id, missing id reads NULL — including a dropped-then-re-added
    * name, which is a NEW id and so shadows old data), and union.
    */
  def evolveRead(spark: SparkSession, root: String, snapV: Int,
      targetV: Int): DataFrame = {
    val target = readSchema(root, targetV)
    SnapshotStore.files(root, snapV).groupBy(svOf).toSeq.sortBy(_._1)
      .map { case (sv, fs) =>
        val idToName = readSchema(root, sv).map(f => f.id -> f.name).toMap
        val proj: Seq[Column] = target.map { tf =>
          idToName.get(tf.id) match {
            case Some(n) => col(n).cast(tf.tpe).as(tf.name)
            case None => lit(null).cast(tf.tpe).as(tf.name)
          }
        }
        spark.read.parquet(fs.map(f => s"$root/$f"): _*).select(proj: _*)
      }.reduce(_ unionByName _)
  }

  /** Stage the three-generation table; returns the store root (latest
    * snapshot = all three generations, schemas v1..v3 committed).
    */
  private[graft] def stage(spark: SparkSession, dir: String): String = {
    val store = Scratch.path("sevolve")
    Scratch.rm(store)
    new java.io.File(store).mkdirs()
    val d = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    // each generation appends its files under its own sv= directory
    // and commits the whole data set as the next snapshot
    def writeGen(sv: Int, gen: DataFrame): Unit = {
      gen.withColumn("sv", lit(sv)).write.mode(SaveMode.Append)
        .partitionBy("sv").parquet(s"$store/data")
      SnapshotStore.commit(store, SnapshotStore.listDataFiles(store)): Unit
    }

    // v1: {1: doc_id, 2: source, 3: n_chars}
    writeSchema(store, 1, Seq(Field(1, "doc_id", "bigint"),
      Field(2, "source", "string"), Field(3, "n_chars", "bigint")))
    writeGen(1, d.filter(col("doc_id") % 3 === 0)
      .select(col("doc_id"), col("source"), col("n_chars")))

    // v2: RENAME n_chars → size_chars (id 3 kept), ADD lang (id 4)
    writeSchema(store, 2, Seq(Field(1, "doc_id", "bigint"),
      Field(2, "source", "string"), Field(3, "size_chars", "bigint"),
      Field(4, "lang", "string")))
    writeGen(2, d.filter(col("doc_id") % 3 === 1)
      .select(col("doc_id"), col("source"),
        col("n_chars").as("size_chars"), col("lang")))

    // v3: DROP source (id 2), RE-ADD source (id 5, new derivation) —
    // same name, different field; old id-2 data must stay shadowed
    writeSchema(store, 3, Seq(Field(1, "doc_id", "bigint"),
      Field(3, "size_chars", "bigint"), Field(4, "lang", "string"),
      Field(5, "source", "string")))
    writeGen(3, d.filter(col("doc_id") % 3 === 2)
      .select(col("doc_id"), col("n_chars").as("size_chars"),
        col("lang"), upper(col("source")).as("source")))
    store
  }

  private[graft] def dropStore(store: String): Unit =
    Scratch.rm(store)

  /** src_schema_evolve — the full lifecycle: three generations under
    * three schemas, one id-mapped read across all of them, aggregated.
    */
  def schemaEvolve(spark: SparkSession, dir: String): DataFrame = {
    val store = stage(spark, dir)
    try {
      val ev = evolveRead(spark, store, SnapshotStore.latest(store), 3)
      val agg = ev.groupBy(
          coalesce(col("lang"), lit("(pre-v2)")).as("lang_g"),
          coalesce(col("source"), lit("(shadowed)")).as("src_g"))
        .agg(count(lit(1)).as("n_docs"),
          sum("doc_id").as("sum_doc_id"),
          sum("size_chars").as("sum_size"))
        .orderBy("lang_g", "src_g")
      val rows = agg.collect().toIndexedSeq
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), agg.schema)
    } finally dropStore(store)
  }

  /** Closed-form oracle: the generation rules applied to `documents`
    * directly — a reader that resolved by NAME instead of id (gen-1/2
    * `source` leaking through) or dropped the rename (gen-1 size NULL)
    * produces different groups and hash-mismatches.
    */
  val evolveOracle: String =
    """WITH e AS (SELECT doc_id,
      |    CASE WHEN doc_id % 3 = 0 THEN NULL ELSE lang END AS lang,
      |    CASE WHEN doc_id % 3 = 2 THEN UPPER(source) ELSE NULL END AS source,
      |    n_chars AS size_chars
      |  FROM documents)
      |SELECT COALESCE(lang, '(pre-v2)') AS lang_g,
      |  COALESCE(source, '(shadowed)') AS src_g,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id,
      |  CAST(SUM(size_chars) AS BIGINT) AS sum_size
      |FROM e GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
}
