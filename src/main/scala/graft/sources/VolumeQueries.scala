package graft.sources

import graft.Scratch
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-contract queries for the custom volume source, plus the
  * pyramid sink helpers.
  */
object VolumeQueries {

  /** src_volume_scan — a z-slab aggregation over the DSV2 source: the
    * c/z predicates push into the scan and prune whole block
    * partitions (only the slab's blocks are planned), then one
    * block-key aggregation. Oracle re-derives the hash fill in SQL.
    */
  def volumeScan(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("graft.sources.VolumeSource").load()
      .filter(col("c") === 0 && col("z") >= 4 && col("z") < 12)
      .groupBy(expr("z div 4").as("bz"))
      .agg(count(lit(1)).as("n_voxels"), sum("v").as("sum_v"), max("v").as("max_v"))
      .orderBy("bz")

  /** src_volume_scan_l1 — the same slab aggregation against pyramid
    * level 1 (`.option("level", 1)`: grid 16 → 8, the reference's
    * `check_n5_levels`/`s1` ingest path): the planner enumerates only
    * the level's blocks and the c/z predicates still prune them.
    */
  def volumeScanL1(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("graft.sources.VolumeSource").option("level", 1).load()
      .filter(col("c") === 1 && col("z") >= 2 && col("z") < 6)
      .groupBy(expr("z div 4").as("bz"))
      .agg(count(lit(1)).as("n_voxels"), sum("v").as("sum_v"), max("v").as("max_v"))
      .orderBy("bz")

  /** src_volume_levels — level/channel discovery (`check_n5_levels` /
    * `check_n5_channels`): the catalog of ingestable surfaces.
    */
  def volumeLevels(spark: SparkSession, dir: String): DataFrame =
    VolumeSource.discoverLevels(spark).orderBy("level", "c")

  /** src_volume_zonemap — per-block VALUE zonemaps inside the DSV2
    * source: a write-time stats pass records each block's [vmin, vmax]
    * envelope, and an intensity-threshold query (the oct_empty_prune
    * class — `v >= 65000`, the bright-voxel tail) hands the map to the
    * reader, whose planner drops every block whose envelope cannot
    * match BEFORE any task launches. Until now the source pruned on
    * block-key (c/z/y/x) predicates only — a v-threshold query
    * enumerated every block. The emitted row carries blocks_total /
    * blocks_planned (MEASURED off the planned scan's RDD — one
    * InputPartition per surviving block) plus the exact aggregate of
    * the matching voxels; the oracle recomputes envelope arithmetic
    * and aggregate from the shared hash fill, so an under-pruned plan
    * mismatches blocks_planned and an over-pruned one loses voxels.
    *
    * Scale shape: the zonemap build is one map-side-combined groupBy
    * over the source (write-time work); the manifest is one line per
    * non-empty block — bounded metadata, the snapshot-manifest
    * argument; the pruned read launches O(selectivity) tasks of a
    * 100 TB volume instead of all of them.
    */
  def volumeZonemap(spark: SparkSession, dir: String): DataFrame = {
    val path = Scratch.path("zonemap") + ".csv"
    try {
      VolumeSource.buildZonemap(spark, path): Unit
      val df = spark.read.format("graft.sources.VolumeSource")
        .option("zonemap", path).load()
        .filter(col("v") >= 65000L)
      // one InputPartition per planned block — the measured plan size
      val planned = df.rdd.getNumPartitions.toLong
      val agg = df.agg(count(lit(1)).as("n_vox"), sum("v").as("sum_v"),
          min("v").as("min_v"))
        .select(lit(128L).as("blocks_total"),
          lit(planned).as("blocks_planned"),
          col("n_vox"), col("sum_v"), col("min_v"))
      val rows = agg.collect().toIndexedSeq
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), agg.schema)
    } finally Scratch.rm(path)
  }

  /** Pyramid sink: the octree write path — parquet partitioned by
    * (level, c) so per-level / per-channel readers (the viewer's
    * resolution switching) are partition-pruned scans. The Spark-first
    * answer to the reference's per-octant TIFF tree.
    */
  def writePyramid(pyramid: DataFrame, path: String): Unit =
    pyramid.write.mode(SaveMode.Overwrite).partitionBy("level", "c").parquet(path)

  /** Every voxel of a (level, c)-partitioned pyramid store, read with
    * the columns its writer wrote, all long: no schema-inference job,
    * and the `level`/`c` partition values come back as long.
    */
  private[graft] def readStore(spark: SparkSession, path: String): DataFrame =
    spark.read.schema("level LONG, c LONG, z LONG, y LONG, x LONG, v LONG").parquet(path)
      .select("level", "c", "z", "y", "x", "v")

  def readLevel(spark: SparkSession, path: String, level: Int): DataFrame =
    spark.read.parquet(path).filter(col("level") === level)

  /** Bucketed pyramid sink — SURVEY §3's persist-and-prune layout in
    * full: each level blockified so the block key is STORED, then
    * written partitioned by (level, c) — level/channel readers are
    * partition-pruned directory scans — AND bucketed+sorted on
    * (bz, by, bx), so per-block aggregations over a read-back level
    * ([[graft.octree.Pyramid.statsOfBlocked]]) reuse the bucket
    * layout and plan with no Exchange. One shuffle at write time,
    * zero on every later block op.
    */
  def writePyramidBucketed(pyramid: DataFrame, table: String,
      leaf: Int = graft.VoxelGrid.Leaf, buckets: Int = 8): Unit =
    graft.octree.Addressing.blockify(pyramid, leaf)
      // THE one write-time shuffle: repartition on the bucket hash
      // (same Murmur3 family bucketBy files by), so each task holds
      // exactly one bucket id and each (level, c) directory gets one
      // file per occupied bucket (≤ buckets) — without it every
      // upstream task writes its own file per bucket per directory
      .repartition(buckets, col("bz"), col("by"), col("bx"))
      .write.partitionBy("level", "c")
      .bucketBy(buckets, "bz", "by", "bx").sortBy("bz", "by", "bx")
      .mode(SaveMode.Overwrite).saveAsTable(table)

  /** Target rows per compacted file ([[compactStore]]). At 100 TB
    * this maps to the parquet row-group / file-size target (~128 MB);
    * here it is sized so the sf0.01 pyramid actually splits dirs into
    * multiple files and the spec's arithmetic is exercised.
    */
  val CompactTargetRows = 2048L

  /** Simulated append-ingest waves for [[volumeCompact]]'s fragmented
    * fixture store.
    */
  val CompactWaves = 5

  /** Append-fragment the pyramid store: [[CompactWaves]] incremental
    * ingests (z-slab slices) each append their own small files into
    * every (level, c) directory — the small-files state a real store
    * reaches after weeks of micro-batch appends.
    */
  private[graft] def fragmentStore(spark: SparkSession, dir: String,
      path: String): Unit = {
    val pyr = graft.octree.Pyramid(graft.VoxelGrid(spark, dir)).localCheckpoint()
    (0 until CompactWaves).foreach { k =>
      pyr.filter(pmod(col("z"), lit(CompactWaves.toLong)) === k.toLong)
        .write.mode(SaveMode.Append).partitionBy("level", "c").parquet(path)
    }
  }

  /** Size-targeted parallel compaction of a (level, c)-partitioned
    * voxel store: per-directory row counts (a tiny broadcast frame)
    * derive the file budget nf = ⌈rows ∕ [[CompactTargetRows]]⌉, each
    * row salts into one of its directory's nf slots by coordinate
    * hash, and ONE clustering shuffle on (level, c, salt) rewrites
    * the store — so write parallelism scales with DATA (Σ nf tasks),
    * not directory count (the one-task-per-dir trap that serializes a
    * hot directory at 100 TB), and `maxRecordsPerFile` hard-caps any
    * salt-skewed file at the target. Reads stay partition-pruned; the
    * within-partition (z, y, x) sort keeps blocks contiguous for
    * row-group skipping.
    */
  private[graft] def compactStore(spark: SparkSession, from: String,
      to: String): Unit =
    compactPlan(readStore(spark, from))
      .write.option("maxRecordsPerFile", CompactTargetRows)
      .mode(SaveMode.Overwrite).partitionBy("level", "c").parquet(to)

  /** The shared compaction plan: count → salt → one clustering
    * shuffle → within-partition sort.
    */
  private def compactPlan(voxels: DataFrame): DataFrame = {
    val counts = voxels.groupBy("level", "c").count()
    voxels.join(broadcast(counts), Seq("level", "c"))
      .withColumn("salt",
        pmod(xxhash64(col("z"), col("y"), col("x")),
          expr(s"(count + ${CompactTargetRows - 1}) div $CompactTargetRows")))
      .repartition(col("level"), col("c"), col("salt"))
      .drop("count", "salt")
      .sortWithinPartitions("level", "c", "z", "y", "x")
  }

  /** Rewrite-in-place compaction for a [[SnapshotStore]]-managed
    * tree: read version `v`'s explicit file list, APPEND the
    * compacted files alongside the originals (data files are
    * immutable — nothing is deleted until expire), and return the
    * just-written file set for the next manifest commit. The input
    * frame is checkpointed before the write so the job never reads
    * the directory it is appending into.
    */
  private[graft] def compactVersion(spark: SparkSession, root: String,
      v: Int): Seq[String] = {
    val before = SnapshotStore.listDataFiles(root).toSet
    val voxels = SnapshotStore.read(spark, root, v).localCheckpoint()
    compactPlan(voxels)
      .write.option("maxRecordsPerFile", CompactTargetRows)
      .mode(SaveMode.Append).partitionBy("level", "c").parquet(root)
    SnapshotStore.listDataFiles(root).filterNot(before)
  }

  /** The stream_volume_ingest foreachBatch body — one exactly-once
    * table commit per micro-batch: skip entirely if the batch already
    * committed (replay after a successful commit), otherwise append
    * the batch's parquet files and commit a manifest referencing the
    * just-appended set. A crash BETWEEN append and commit leaves
    * orphan files that no manifest references — readers never see
    * them (the manifest defines the table) and [[SnapshotStore
    * .expire]] reclaims them — so the replayed attempt lands the data
    * exactly once however the previous attempt died.
    */
  private[graft] def ingestBatch(root: String)(
      batch: DataFrame, batchId: Long): Unit =
    if (!SnapshotStore.hasBatch(root, batchId)) {
      val before = SnapshotStore.listDataFiles(root).toSet
      batch.write.mode(SaveMode.Append)
        .partitionBy("level", "c").parquet(root)
      SnapshotStore.commitBatch(root, batchId,
        SnapshotStore.listDataFiles(root).filterNot(before)): Unit
    }

  /** src_volume_compact — small-files compaction of the pyramid
    * store, the operational op a 100 TB volume store cannot live
    * without: [[fragmentStore]] stages the many-small-files state an
    * append-only ingest accumulates, [[compactStore]] rewrites it
    * with the salt-parallel size-targeted shuffle, and the compacted
    * store is read back to voxels. Shares the oct_pyramid oracle
    * verbatim — a green row proves compaction is exactly lossless;
    * the spec additionally pins the file arithmetic (per-directory
    * file count collapses to ≤ nf, every file ≤ the row target).
    */
  def volumeCompact(spark: SparkSession, dir: String): DataFrame = {
    Scratch.withDir("vcmp_frag") { frag =>
      Scratch.withDir("vcmp") { comp =>
        fragmentStore(spark, dir, frag)
        compactStore(spark, frag, comp)
        readStore(spark, comp).orderBy("level", "c", "z", "y", "x").localCheckpoint(true)
      }
    }
  }

  /** src_volume_snapshot — snapshot isolation + time travel over the
    * pyramid store ([[SnapshotStore]]): the fragmented ingest state
    * commits as version 1, [[compactVersion]] rewrites the live tree
    * (new compacted files appended, originals untouched) and commits
    * as version 2 — and the op returns the TIME-TRAVEL READ OF v1
    * taken AFTER the rewrite. Sharing the oct_pyramid oracle, a green
    * row therefore certifies the lakehouse rewrite-isolation
    * contract: a compaction that changed every live file left
    * history bit-identical. The spec adds the rest of the table-format
    * story: disjoint file sets, v2 ≡ v1 ≡ pyramid, latest resolution,
    * and a vacuum ([[SnapshotStore.expire]]) that reclaims v1's files
    * without disturbing v2.
    */
  def volumeSnapshot(spark: SparkSession, dir: String): DataFrame = {
    Scratch.withDir("vsnap") { store =>
      fragmentStore(spark, dir, store)
      val v1 = SnapshotStore.commit(store, SnapshotStore.listDataFiles(store))
      SnapshotStore.commit(store, compactVersion(spark, store, v1)): Unit
      SnapshotStore.read(spark, store, v1)
        .select(col("level").cast("long").as("level"),
          col("c").cast("long").as("c"), col("z"), col("y"), col("x"), col("v"))
        .orderBy("level", "c", "z", "y", "x").localCheckpoint(true)
    }
  }

  /** src_pyramid_sink — the pyramid sink as its own ORACLE row: build
    * the pyramid, write it through the (level, c)-partitioned store,
    * read every level back through the store reader and return the
    * voxels. The DuckDB oracle recomputes the pyramid directly from
    * the base tables, so any round-trip corruption — lost rows,
    * partition-column type drift, level mixing — hash-mismatches.
    */
  def pyramidSink(spark: SparkSession, dir: String): DataFrame = {
    // the read-back is checkpointed before the staging dir goes
    Scratch.withDir("pyr_sink") { tmp =>
      writePyramid(graft.octree.Pyramid(graft.VoxelGrid(spark, dir)), tmp)
      readStore(spark, tmp).localCheckpoint(true)
        .orderBy("level", "c", "z", "y", "x")
    }
  }

  /** src_volume_sink — the DSV2 WRITE direction of the custom
    * connector ([[VolumeSink]]): the blockified arthur pyramid
    * written through `df.write.format(...)` into the per-block chunk
    * store, with the (level, c, bz, by, bx) clustering shuffle and
    * within-partition sort planned BY SPARK from the Write's
    * `RequiresDistributionAndOrdering` declaration (the writer's
    * contiguity tripwire fails the task if they were not applied),
    * then every chunk decoded back to pyramid voxels from bytes
    * alone. Shares the oct_pyramid oracle verbatim — a green row
    * proves the planner-arranged write and the byte round trip are
    * lossless end to end.
    */
  def volumeSink(spark: SparkSession, dir: String): DataFrame = {
    Scratch.withDir("vsink") { tmp =>
      graft.octree.Addressing.blockify(
          graft.octree.Pyramid(graft.VoxelGrid(spark, dir)))
        .select("level", "c", "bz", "by", "bx", "lz", "ly", "lx", "v")
        .write.format("graft.sources.VolumeSink").option("path", tmp)
        .mode(SaveMode.Overwrite).save()
      VolumeSink.parseVoxels(spark, tmp).localCheckpoint(true)
        .orderBy("level", "c", "z", "y", "x")
    }
  }

  /** src_n5_bytes — the PHYSICAL N5 round trip over the reference's
    * primary input arm (tiff2octree.py:779 `n5_zarr_to_dask_array`):
    * write the arthur pyramid as a real N5 container ([[N5Binary
    * .writeContainer]] — root/group/dataset attributes.json + one
    * gzip'd big-endian chunk file per occupied block of every
    * (channel, level)), then decode every level's voxels from nothing
    * but the read-back bytes ([[N5Binary.parseVoxels]], the
    * `gen_block_from_n5_zarr`:330 read direction). Shares the
    * oct_pyramid oracle verbatim — a green row proves the bytes on
    * disk hold exactly the pyramid the relational model claims.
    * The container is staged under [[graft.Scratch]] and removed when
    * the op returns or throws; the parsed frame is checkpointed first,
    * so the result reads nothing from it.
    */
  def n5Bytes(spark: SparkSession, dir: String): DataFrame = {
    Scratch.withDir("n5") { out =>
      N5Binary.writeContainer(spark, dir, out)
      N5Binary.parseVoxels(spark, out).localCheckpoint(true)
        .orderBy("level", "c", "z", "y", "x")
    }
  }

  /** src_n5_discover — the `check_n5_channels` / `check_n5_levels`
    * probe chain (tiff2octree.py:728/:711) against REAL container
    * bytes: stage the container, then derive the level/channel
    * catalog purely from the read-back `c{c}/s{s}/attributes.json`
    * files. Same frame shape as src_volume_levels — the relational
    * discovery model and the physical container agree row for row.
    */
  def n5Discover(spark: SparkSession, dir: String): DataFrame = {
    Scratch.withDir("n5d") { out =>
      N5Binary.writeContainer(spark, dir, out)
      N5Binary.discoverLevels(spark, out).localCheckpoint(true)
        .orderBy("level", "c")
    }
  }

  /** src_zarr_bytes — the plain-Zarr flavor of the container round
    * trip (the reference's FIRST probe: `zarr.open(indir)` at
    * tiff2octree.py:764/:699/:779 before the N5Store fallback): write
    * the pyramid as a physical Zarr v2 container (`.zarray` metadata,
    * C-order `gz.gy.gx` chunk files, zlib DEFLATE), then decode every
    * level's voxels from nothing but read-back bytes
    * ([[ZarrBinary.parseVoxels]] — chunk shape broadcast-joined from
    * `.zarray`, since Zarr chunks carry no header). Shares the
    * oct_pyramid oracle verbatim.
    */
  def zarrBytes(spark: SparkSession, dir: String): DataFrame = {
    Scratch.withDir("zarr") { out =>
      ZarrBinary.writeContainer(spark, dir, out)
      ZarrBinary.parseVoxels(spark, out).localCheckpoint(true)
        .orderBy("level", "c", "z", "y", "x")
    }
  }

  /** src_zarr_discover — the Zarr flavor of the level/channel probe
    * chain: stage the container, then derive the catalog purely from
    * read-back `.zarray` bytes. Shares src_n5_discover's oracle — the
    * two container flavors and the relational model agree row for row.
    */
  def zarrDiscover(spark: SparkSession, dir: String): DataFrame = {
    Scratch.withDir("zarrd") { out =>
      ZarrBinary.writeContainer(spark, dir, out)
      ZarrBinary.discoverLevels(spark, out).localCheckpoint(true)
        .orderBy("level", "c")
    }
  }

  /** src_zarr3_bytes — the Zarr v3 container round trip (zarr-specs
    * v3.0: one `zarr.json` per node, regular chunk grid, bytes→gzip
    * codec pipeline, `c/gz/gy/gx` default chunk keys): forward-compat
    * engine surface for the store format the v2 world is migrating
    * to. Shares the oct_pyramid oracle like both v2 flavors.
    */
  def zarr3Bytes(spark: SparkSession, dir: String): DataFrame = {
    Scratch.withDir("zarr3") { out =>
      Zarr3Binary.writeContainer(spark, dir, out)
      Zarr3Binary.parseVoxels(spark, out).localCheckpoint(true)
        .orderBy("level", "c", "z", "y", "x")
    }
  }

  /** src_zarr3_discover — the v3 flavor of the level/channel probe,
    * from read-back `zarr.json` bytes; shares src_n5_discover's
    * oracle (all three container catalogs agree row for row).
    */
  def zarr3Discover(spark: SparkSession, dir: String): DataFrame = {
    Scratch.withDir("zarr3d") { out =>
      Zarr3Binary.writeContainer(spark, dir, out)
      Zarr3Binary.discoverLevels(spark, out).localCheckpoint(true)
        .orderBy("level", "c")
    }
  }

  /** src_jsonl_scan — the JSONL ingest path (newline-delimited JSON
    * is THE LLM-corpus interchange format): write the documents table
    * as JSON lines, read it back with an EXPLICIT schema (never
    * schema inference — at 100 TB inference is a full extra pass and
    * a type-drift hazard), and aggregate per source. The oracle
    * computes the same aggregates from the parquet directly, so the
    * row asserts the round trip is LOSSLESS — JSON string escaping,
    * unicode, and int64 fidelity included (doc-id sums and exact char
    * sums would all drift on any corruption).
    */
  def jsonlScan(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables(spark, dir, "documents")
    Scratch.withDir("jsonl") { tmp =>
      docs.write.mode("overwrite").json(tmp)
      // the aggregate is a handful of rows — materialize it on the
      // driver so the corpus-sized JSONL copy can be reclaimed from
      // tmpfs immediately (tmpfs doubles as the shuffle dir; pid-keyed
      // leftovers from many processes would starve shuffle space)
      val agg = spark.read.schema(docs.schema).json(tmp)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("doc_id")).as("sum_doc_id"),
          sum(length(col("text"))).as("sum_chars"),
          sum(col("n_chars")).as("sum_n_chars"))
        .orderBy("source")
      spark.createDataFrame(
        spark.sparkContext.parallelize(agg.collect().toIndexedSeq, 1), agg.schema)
    }
  }

  /** src_csv_scan — RFC-4180 CSV ingest: the documents table staged
    * to quoted CSV and read back losslessly. The corpus text is
    * CSV-benign, so the op APPENDS an adversarial `,"⏎x` tail to
    * every row before writing — the round trip then genuinely
    * exercises quoting, quote-doubling escapes, and multi-line
    * records (the three places CSV ingest silently corrupts). The
    * read-back is verified per source by count, id sum, char sum and
    * an md5-prefix content checksum the oracle predicts from parquet
    * + the same concat — any mangled byte flips the hash.
    */
  def csvScan(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables(spark, dir, "documents")
      .withColumn("text2", concat(col("text"), lit(",\"\nx")))
      .select(col("doc_id"), col("source"), col("text2"))
    Scratch.withDir("csv") { tmp =>
      // the WRITER trims leading/trailing whitespace by default —
      // silent corruption for text ending in spaces/newlines; both
      // trims must be off for a lossless round trip (spec-pinned)
      docs.write.mode("overwrite").option("header", "true")
        .option("ignoreLeadingWhiteSpace", "false")
        .option("ignoreTrailingWhiteSpace", "false")
        .option("quote", "\"").option("escape", "\"").csv(tmp)
      val agg = spark.read.schema(docs.schema)
        .option("header", "true").option("multiLine", "true")
        .option("ignoreLeadingWhiteSpace", "false")
        .option("ignoreTrailingWhiteSpace", "false")
        .option("quote", "\"").option("escape", "\"").csv(tmp)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("doc_id")).as("sum_doc_id"),
          sum(length(col("text2"))).as("sum_chars"),
          sum(expr("graft_md5_prefix(text2)")).as("sum_text_h"))
        .orderBy("source")
      spark.createDataFrame(
        spark.sparkContext.parallelize(agg.collect().toIndexedSeq, 1), agg.schema)
    }
  }

  /** src_csv_badrecords — the CORRUPT-RECORD CHANNEL every production
    * ingest needs: a CSV feed where a deterministic subset of rows is
    * malformed (a non-numeric orderkey field — upstream systems
    * really do this), read under PERMISSIVE mode with
    * `columnNameOfCorruptRecord`, so bad rows are neither silently
    * dropped (DROPMALFORMED's failure mode: data loss you can't
    * audit) nor fatal (FAILFAST): they land in a rejects column,
    * counted and checksummed alongside the good rows. The emitted row
    * certifies the three-way accounting — total = good + corrupt,
    * good-row aggregates exact, corrupt count exact — which is the
    * contract a dead-letter queue is built on.
    *
    * The corruption is injected DISTRIBUTED: each orders row renders
    * its own CSV line (every 37th key emits a broken numeric field),
    * written as a text file, never a driver loop. PERMISSIVE parsing
    * nulls every typed field of a bad line and preserves the raw line
    * in the corrupt column; the aggregation references data columns
    * alongside the corrupt column (Spark disallows queries over the
    * corrupt column ALONE on raw file frames).
    *
    * Scale shape: render + write + parse are all scan-side row-local
    * work; the accounting is one aggregation. At 100 TB the rejects
    * column is routed to its own sink and the good rows proceed —
    * same plan, two writers.
    */
  def csvBadRecords(spark: SparkSession, dir: String): DataFrame = {
    val o = graft.Tables(spark, dir, "orders")
      .select(col("o_orderkey").as("k"),
        floor(col("o_totalprice") * 100).cast("long").as("pc"))
    Scratch.withDir("badcsv") { tmp =>
      // distributed render: every 37th key writes a malformed numeric
      o.select(when(col("k") % 37 === 0,
          concat(lit("BAD_"), col("k").cast("string"), lit(","),
            col("pc").cast("string")))
        .otherwise(concat(col("k").cast("string"), lit(","),
          col("pc").cast("string"))).as("value"))
        .write.mode("overwrite").text(tmp)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("pc",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("_bad",
          org.apache.spark.sql.types.StringType)))
      val parsed = spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .csv(tmp)
      val agg = parsed.agg(
        count(lit(1)).as("n_total"),
        sum(when(col("_bad").isNull, 1L).otherwise(0L)).as("n_good"),
        sum(when(col("_bad").isNotNull, 1L).otherwise(0L)).as("n_corrupt"),
        coalesce(sum(when(col("_bad").isNull, col("k"))), lit(0L))
          .as("sum_good_key"),
        coalesce(sum(when(col("_bad").isNull, col("pc"))), lit(0L))
          .as("sum_good_pc"))
      val rows = agg.collect().toIndexedSeq
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), agg.schema)
    }
  }

  /** The src_csv_badrecords closed-form oracle. */
  val csvBadRecordsOracle: String =
    """SELECT COUNT(*) AS n_total,
      |  CAST(SUM(CASE WHEN o_orderkey % 37 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_good,
      |  CAST(SUM(CASE WHEN o_orderkey % 37 = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_corrupt,
      |  CAST(COALESCE(SUM(CASE WHEN o_orderkey % 37 <> 0
      |    THEN o_orderkey END), 0) AS BIGINT) AS sum_good_key,
      |  CAST(COALESCE(SUM(CASE WHEN o_orderkey % 37 <> 0
      |    THEN CAST(FLOOR(o_totalprice * 100) AS BIGINT) END), 0) AS BIGINT)
      |    AS sum_good_pc
      |FROM orders""".stripMargin

  /** src_orc_roundtrip — the ORC format arm: the lineitem fact slice
    * staged to zlib ORC and read back, verified by the exact-cents
    * flag aggregates plus a ship-date day checksum (timestamps are
    * where columnar format round trips drift). Spark's ORC source is
    * the same DSV2 pushdown machinery as parquet, so at 100 TB this
    * arm inherits filter/column pruning for free.
    */
  def orcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import graft.relational.Queries.cents
    val li = graft.Tables(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"), col("l_shipdate"))
    Scratch.withDir("orc") { tmp =>
      li.write.mode("overwrite").option("compression", "zlib").orc(tmp)
      val agg = spark.read.schema(li.schema).orc(tmp)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(cents(col("l_quantity"))).as("sum_qty_c"),
          sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
            .as("revenue_c"),
          sum(expr("unix_micros(cast(l_shipdate as timestamp)) div 86400000000"))
            .as("sum_shipdays"))
        .orderBy("l_returnflag")
      spark.createDataFrame(
        spark.sparkContext.parallelize(agg.collect().toIndexedSeq, 1), agg.schema)
    }
  }

  /** src_ingest_dispatch — the reference's multi-format ingest
    * dispatch (tiff2octree.py:1279-1311) as a catalog operator: stage
    * the same volume through every physical arm (N5 container, `.tif`
    * and `.jp2` slice dirs, multi-page TIFF stacks), then run the
    * probe chain — N5 first, slice-dir sniff, stack — purely from
    * read-back bytes, one catalog row per input with the reference's
    * `calc_optimal_nlevels` / `adjust_dimensions` level math. Header-
    * bounded sniffing (IFD walk / leading JP2 boxes / attributes.json
    * only); JPEG2000 pixel decode stays the documented codec seam in
    * [[Jp2Binary]].
    */
  def ingestDispatch(spark: SparkSession, dir: String): DataFrame = {
    Scratch.withDir("ingest") { out =>
      IngestDispatch.stageAll(spark, dir, out)
      IngestDispatch.discover(spark, out).localCheckpoint(true)
        .orderBy("input")
    }
  }

  /** src_slice_ingest — the slice-dir READ direction
    * (`gen_highest_resolution_blocks_from_slices` tiff2octree.py:1024
    * sorts the per-z files and assigns z by position): stage both
    * channels as single-page `.tif` slices, then reproduce the whole
    * voxel frame from nothing but read-back slice bytes. Shares the
    * voxel-model oracle — a green row proves the slice arm ingests
    * losslessly.
    */
  def sliceIngest(spark: SparkSession, dir: String): DataFrame = {
    Scratch.withDir("slices") { out =>
      IngestDispatch.stageSlices(spark, dir, out)
      IngestDispatch.parseSliceVoxels(spark, out).localCheckpoint(true)
        .orderBy("c", "z", "y", "x")
    }
  }

  /** src_jp2_ingest — the `.jp2` slice READ direction through the
    * REAL JPEG2000 entropy decoder ([[Jp2Codec]]: MQ coder + EBCOT
    * bit-plane passes, the `get_image`/glymur role at
    * tiff2octree.py:532): stage channel 0 as `.jp2` slices, then
    * reproduce that channel's voxel frame from nothing but read-back
    * bytes. Shares the voxel-model oracle filtered to c=0 — a green
    * row proves genuine entropy-coded pixels ingest losslessly.
    */
  def jp2Ingest(spark: SparkSession, dir: String): DataFrame = {
    Scratch.withDir("jp2") { out =>
      IngestDispatch.stageSlices(spark, dir, out)
      IngestDispatch.parseJp2Voxels(spark, out).localCheckpoint(true)
        .orderBy("c", "z", "y", "x")
    }
  }

  /** src_stack_ingest — the STACK read direction
    * (`stack_to_dask_array` tiff2octree.py:628: multi-page TIFF per
    * channel, z = page index): stage both channels as stacks, then
    * reproduce the whole voxel frame from nothing but read-back
    * stack bytes. Shares the voxel-model oracle — with this arm,
    * every reference input format has a pixel-lossless read
    * direction (slices tif, slices jp2, stack, N5, Zarr).
    */
  def stackIngest(spark: SparkSession, dir: String): DataFrame = {
    Scratch.withDir("stack") { out =>
      IngestDispatch.stageStacks(spark, dir, out)
      IngestDispatch.parseStackVoxels(spark, out).localCheckpoint(true)
        .orderBy("c", "z", "y", "x")
    }
  }

  /** Shard count for [[tfrecordSink]] — matches the pipeline_shard
    * content-independent hash rule's spirit at a size that exercises
    * multi-record shards at every benchmark scale.
    */
  val TfShards = 8

  /** src_tfrecord_sink — the TRAINING-SHARD export direction: stage
    * the documents table as real TFRecord shard files
    * ([[TfRecordBinary]] — length-prefixed masked-CRC32C framing,
    * hand-encoded `tf.train.Example` protobuf payloads, the format
    * every TF/JAX data loader reads), then re-ingest them with a
    * distributed [[graft.octree.TreeFiles]] read that re-parses every
    * record from bytes alone — both CRCs verified per record, the
    * Example walked by a generic tag/wire-type decoder (an independent
    * reader, not a byte-mirror of the writer). The per-shard aggregate (record
    * count, parsed-field sums, rank-weighted text hash, TOTAL BYTES)
    * is predicted by the DuckDB oracle from the parquet table alone —
    * including the byte totals via exact varint-size arithmetic — so
    * a green row certifies the full encode→frame→parse identity.
    *
    * Scale shape: shard assignment is the content-independent hash
    * rule (`md5('shard:'||doc_id) % shards`); each executor streams
    * its shard's records straight to the file (no per-shard buffering
    * beyond one record); the read-back is one distributed
    * [[graft.octree.TreeFiles]] read, payload bytes never touch the driver.
    */
  def tfrecordSink(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Scratch.withDir("tfrec") { tmp =>
      new java.io.File(tmp).mkdirs()
      val nShards = TfShards
      graft.Tables(spark, dir, "documents")
        .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"), col("text"))
        .withColumn("shard",
          expr(s"graft_md5_prefix(concat('shard:', cast(doc_id as string))) % $nShards"))
        .repartition(nShards, col("shard"))
        .sortWithinPartitions("shard", "doc_id")
        .select(col("shard"), col("doc_id"), col("n_chars"), col("text"))
        .as[(Long, Long, Long, String)]
        .foreachPartition { (it: Iterator[(Long, Long, Long, String)]) =>
          var cur = -1L
          var os: java.io.OutputStream = null
          for ((sh, id, n, t) <- it) {
            if (sh != cur) {
              if (os != null) os.close()
              cur = sh
              os = new java.io.BufferedOutputStream(
                new java.io.FileOutputStream(s"$tmp/shard-$sh.tfrecord"))
            }
            os.write(TfRecordBinary.record(TfRecordBinary.exampleBytes(id, n, t)))
          }
          if (os != null) os.close()
        }
      val agg = graft.octree.TreeFiles.read(spark, tmp, _.endsWith(".tfrecord"))
        .flatMap { case (path, bytes) =>
          val shard = path.substring(path.lastIndexOf("shard-") + 6)
            .stripSuffix(".tfrecord").toLong
          TfRecordBinary.parseShard(bytes).zipWithIndex.map { case (r, i) =>
            val h = graft.functions.GraftHash.md5PrefixLong(
              org.apache.spark.unsafe.types.UTF8String.fromString(r.text))
            (shard, r.docId, r.nChars, r.text.getBytes("UTF-8").length.toLong,
              r.recBytes, (i + 1).toLong * h)
          }
        }
        .toDF("shard", "doc_id", "n_chars", "text_bytes", "rec_bytes", "wh")
        .groupBy("shard")
        .agg(count(lit(1)).as("n_records"), sum(col("doc_id")).as("sum_doc_id"),
          sum(col("n_chars")).as("sum_n_chars"),
          sum(col("text_bytes")).as("sum_text_bytes"),
          sum(col("rec_bytes")).as("bytes_total"),
          sum(col("wh")).as("text_cksum"))
        .orderBy("shard")
      // the aggregate is ≤ shards rows — pin it before the staging
      // dir (tmpfs, shared with shuffle) is reclaimed
      agg.localCheckpoint(true).orderBy("shard")
    }
  }

  /** src_wds_sink — the WEBDATASET export direction: stage the
    * documents table as WebDataset shards — plain POSIX ustar
    * archives ([[TarBinary]], hand-rolled headers with real checksum
    * fields) whose members share a zero-padded basename key per
    * sample (`00000042.txt` = text, `00000042.cls` = lang, the
    * classic WDS classification layout) — then re-ingest with a
    * distributed [[graft.octree.TreeFiles]] read that re-parses every
    * archive from bytes alone, header checksums verified per member,
    * samples re-assembled by key. Per-shard aggregates INCLUDING the total
    * archive bytes (header + 512-padding + trailer arithmetic) are
    * predicted by the oracle from the parquet table, so a green row
    * certifies the container layout end to end. Same shard rule and
    * scale shape as [[tfrecordSink]].
    */
  def wdsSink(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Scratch.withDir("wds") { tmp =>
      new java.io.File(tmp).mkdirs()
      val nShards = TfShards
      graft.Tables(spark, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"))
        .withColumn("shard",
          expr(s"graft_md5_prefix(concat('shard:', cast(doc_id as string))) % $nShards"))
        .repartition(nShards, col("shard"))
        .sortWithinPartitions("shard", "doc_id")
        .select(col("shard"), col("doc_id"), col("text"), col("lang"))
        .as[(Long, Long, String, String)]
        .foreachPartition { (it: Iterator[(Long, Long, String, String)]) =>
          var cur = -1L
          var os: java.io.OutputStream = null
          def close(): Unit = if (os != null) { os.write(TarBinary.trailer); os.close() }
          for ((sh, id, t, l) <- it) {
            if (sh != cur) {
              close(); cur = sh
              os = new java.io.BufferedOutputStream(
                new java.io.FileOutputStream(s"$tmp/shard-$sh.tar"))
            }
            os.write(TarBinary.entry(f"$id%08d.txt", t.getBytes("UTF-8")))
            os.write(TarBinary.entry(f"$id%08d.cls", l.getBytes("US-ASCII")))
          }
          close()
        }
      val agg = graft.octree.TreeFiles.read(spark, tmp, _.endsWith(".tar"))
        .flatMap { case (path, bytes) =>
          val shard = path.substring(path.lastIndexOf("shard-") + 6)
            .stripSuffix(".tar").toLong
          def h(s: String): Long = graft.functions.GraftHash.md5PrefixLong(
            org.apache.spark.unsafe.types.UTF8String.fromString(s))
          TarBinary.parse(bytes).grouped(2).zipWithIndex.map { case (pair, i) =>
            val txt = pair.find(_.name.endsWith(".txt")).get
            val cls = pair.find(_.name.endsWith(".cls")).get
            require(txt.name.stripSuffix(".txt") == cls.name.stripSuffix(".cls"),
              "sample key mismatch between members")
            val id = txt.name.stripSuffix(".txt").toLong
            (shard, id, txt.size, (i + 1).toLong * h(new String(txt.data, "UTF-8")),
              h(new String(cls.data, "US-ASCII")), bytes.length.toLong)
          }
        }
        .toDF("shard", "doc_id", "text_bytes", "wh", "lh", "file_bytes")
        .groupBy("shard")
        .agg(count(lit(1)).as("n_samples"), sum(col("doc_id")).as("sum_doc_id"),
          sum(col("text_bytes")).as("sum_text_bytes"),
          max(col("file_bytes")).as("bytes_total"),
          sum(col("wh")).as("text_cksum"), sum(col("lh")).as("lang_cksum"))
        .orderBy("shard")
      agg.localCheckpoint(true).orderBy("shard")
    }
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "src_tfrecord_sink" -> (tfrecordSink _),
    "src_wds_sink" -> (wdsSink _),
    "src_volume_scan" -> (volumeScan _),
    "src_volume_scan_l1" -> (volumeScanL1 _),
    "src_volume_levels" -> (volumeLevels _),
    "src_volume_zonemap" -> (volumeZonemap _),
    "src_pyramid_sink" -> (pyramidSink _),
    "src_volume_sink" -> (volumeSink _),
    "src_volume_compact" -> (volumeCompact _),
    "src_volume_snapshot" -> (volumeSnapshot _),
    "src_snapshot_merge" -> (TableMerge.snapshotMerge _),
    "src_stats_prune" -> (StatsPrune.statsPrune _),
    "src_zorder_store" -> (ZOrderStore.zorderStore _),
    "src_hilbert_store" -> (HilbertStore.hilbertStore _),
    "src_schema_evolve" -> (SchemaEvolve.schemaEvolve _),
    "src_snapshot_delete" -> (SnapshotDelete.snapshotDelete _),
    "src_delete_compact" -> (SnapshotDelete.deleteCompact _),
    "src_snapshot_diff" -> (SnapshotDiff.snapshotDiff _),
    "src_partition_evolve" -> (PartitionEvolve.partitionEvolve _),
    "src_bloom_index" -> (BloomIndex.bloomIndex _),
    "src_branch_tag" -> (TableRefs.branchTag _),
    "src_wap" -> (TableRefs.wap _),
    "src_log_compact" -> (LogStore.logCompact _),
    "src_hidden_partition" -> (HiddenPartition.hiddenPartition _),
    "src_pos_delete" -> (PosDelete.posDelete _),
    "src_binpack_compact" -> (BinPack.binpackCompact _),
    "src_commit_conflict" -> (CommitConflict.commitConflict _),
    "src_erasure_proof" -> (SnapshotDelete.erasureProof _),
    "src_manifest_prune" -> (ManifestPrune.manifestPrune _),
    "src_row_lineage" -> (RowLineage.rowLineage _),
    "src_orphan_gc" -> (OrphanGc.orphanGc _),
    "src_orphan_census" -> (OrphanCensus.orphanCensus _),
    "src_meta_tables" -> (MetaTables.metaTables _),
    "src_eq_delete" -> (EqDelete.eqDelete _),
    "src_hidden_zorder" -> (HiddenZOrder.hiddenZorder _),
    "src_rollback" -> (Rollback.rollback _),
    "src_jsonl_scan" -> (jsonlScan _),
    "src_csv_scan" -> (csvScan _),
    "src_csv_badrecords" -> (csvBadRecords _),
    "src_orc_roundtrip" -> (orcRoundtrip _),
    "src_n5_bytes" -> (n5Bytes _),
    "src_n5_discover" -> (n5Discover _),
    "src_zarr_bytes" -> (zarrBytes _),
    "src_zarr_discover" -> (zarrDiscover _),
    "src_zarr3_bytes" -> (zarr3Bytes _),
    "src_zarr3_discover" -> (zarr3Discover _),
    "src_ingest_dispatch" -> (ingestDispatch _),
    "src_slice_ingest" -> (sliceIngest _),
    "src_jp2_ingest" -> (jp2Ingest _),
    "src_stack_ingest" -> (stackIngest _)
  )

  val oracles: Map[String, String] = Map(
    // losslessness: the JSONL round trip must reproduce the parquet
    // aggregates exactly
    "src_jsonl_scan" ->
      """SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id,
        |  CAST(SUM(length(text)) AS BIGINT) AS sum_chars,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_n_chars
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    // losslessness THROUGH the adversarial ,"⏎x tail: the checksum is
    // predicted from parquet + the same concat, so any CSV quoting or
    // multi-line mangling flips the hash
    "src_csv_scan" ->
      s"""WITH d AS (
         |  SELECT doc_id, source, text || ',"' || chr(10) || 'x' AS text2
         |  FROM documents)
         |SELECT source, COUNT(*) AS n_docs,
         |  CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id,
         |  CAST(SUM(length(text2)) AS BIGINT) AS sum_chars,
         |  CAST(SUM(${graft.ops.OpsOracles.md5Int("text2")}) AS BIGINT) AS sum_text_h
         |FROM d GROUP BY source ORDER BY source""".stripMargin,
    // the corrupt-record channel: three-way accounting in closed form
    "src_csv_badrecords" -> csvBadRecordsOracle,
    // the ORC round trip must reproduce the parquet fact aggregates,
    // timestamps included (the day checksum)
    "src_orc_roundtrip" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(FLOOR(l_quantity*100) AS BIGINT)) AS BIGINT) AS sum_qty_c,
        |  CAST(SUM(CAST(FLOOR(l_extendedprice*(1.0-l_discount)*100) AS BIGINT)) AS BIGINT) AS revenue_c,
        |  CAST(SUM(epoch_us(l_shipdate) // 86400000000) AS BIGINT) AS sum_shipdays
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // TFRecord export: the oracle predicts the parsed-back per-shard
    // aggregates INCLUDING total bytes from the parquet table alone —
    // exact varint-size arithmetic over the hand-encoded Example
    // layout (entry sizes derived in TfRecordBinary's scaladoc)
    "src_tfrecord_sink" -> {
      def vs(x: String) =
        s"(CASE WHEN ($x) < 128 THEN 1 WHEN ($x) < 16384 THEN 2 WHEN ($x) < 2097152 THEN 3 WHEN ($x) < 268435456 THEN 4 ELSE 5 END)"
      val md5 = graft.ops.OpsOracles.md5Int _
      s"""WITH d AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars, text,
         |    ${md5("('shard:' || CAST(doc_id AS VARCHAR))")} % $TfShards AS shard
         |  FROM documents),
         |m AS (SELECT *, CAST(octet_length(encode(text)) AS BIGINT) AS tlen,
         |       CAST(row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS BIGINT) AS rk
         |      FROM d),
         |s1 AS (SELECT *, 16 + ${vs("doc_id")} AS e_id, 17 + ${vs("n_chars")} AS e_nc,
         |        1 + ${vs("tlen")} + tlen AS bl FROM m),
         |s2 AS (SELECT *, 1 + ${vs("bl")} + bl AS ft FROM s1),
         |s3 AS (SELECT *, 7 + ${vs("ft")} + ft AS ei FROM s2),
         |s4 AS (SELECT *, e_id + e_nc + 1 + ${vs("ei")} + ei AS fts FROM s3),
         |rec AS (SELECT shard, doc_id, n_chars, tlen, rk, text,
         |    17 + ${vs("fts")} + fts AS rec_bytes FROM s4)
         |SELECT CAST(shard AS BIGINT) AS shard, COUNT(*) AS n_records,
         |  CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id,
         |  CAST(SUM(n_chars) AS BIGINT) AS sum_n_chars,
         |  CAST(SUM(tlen) AS BIGINT) AS sum_text_bytes,
         |  CAST(SUM(rec_bytes) AS BIGINT) AS bytes_total,
         |  CAST(SUM(rk * ${md5("text")}) AS BIGINT) AS text_cksum
         |FROM rec GROUP BY shard ORDER BY shard""".stripMargin
    },
    // WebDataset export: per-shard aggregates incl. archive byte
    // totals (header + 512-padding + two-block trailer arithmetic)
    "src_wds_sink" -> {
      val md5 = graft.ops.OpsOracles.md5Int _
      s"""WITH d AS (SELECT doc_id, text, lang,
         |    ${md5("('shard:' || CAST(doc_id AS VARCHAR))")} % $TfShards AS shard
         |  FROM documents),
         |m AS (SELECT *, CAST(octet_length(encode(text)) AS BIGINT) AS tlen,
         |       CAST(octet_length(encode(lang)) AS BIGINT) AS llen,
         |       CAST(row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS BIGINT) AS rk
         |      FROM d),
         |e AS (SELECT *,
         |    512 + ((tlen + 511) // 512) * 512 + 512 + ((llen + 511) // 512) * 512 AS ebytes
         |  FROM m)
         |SELECT CAST(shard AS BIGINT) AS shard, COUNT(*) AS n_samples,
         |  CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id,
         |  CAST(SUM(tlen) AS BIGINT) AS sum_text_bytes,
         |  CAST(SUM(ebytes) + 1024 AS BIGINT) AS bytes_total,
         |  CAST(SUM(rk * ${md5("text")}) AS BIGINT) AS text_cksum,
         |  CAST(SUM(${md5("lang")}) AS BIGINT) AS lang_cksum
         |FROM e GROUP BY shard ORDER BY shard""".stripMargin
    },
    // round-trip identity: the sink read-back must equal the pyramid
    // recomputed from scratch — same independent derivation as the
    // oct_pyramid row
    "src_pyramid_sink" -> graft.octree.OctreeOracles.all("oct_pyramid"),
    // the DSV2 write path must round-trip the same pyramid identity
    "src_volume_sink" -> graft.octree.OctreeOracles.all("oct_pyramid"),
    // compaction is exactly lossless: the compacted store reads back
    // to the same pyramid the oracle recomputes from the base tables
    "src_volume_compact" -> graft.octree.OctreeOracles.all("oct_pyramid"),
    // the v1 time-travel read AFTER the compaction rewrite must still
    // be exactly the pyramid: rewrite isolation, certified by hash
    "src_volume_snapshot" -> graft.octree.OctreeOracles.all("oct_pyramid"),
    // MERGE as copy-on-write: the oracle states the post-merge table
    // in closed form (delete/update/insert key-residue rules), so a
    // lost delete, double update, or untouched-partition corruption
    // all hash-mismatch
    "src_snapshot_merge" -> TableMerge.mergeOracle,
    // the pruned read must hash-match both the plan arithmetic
    // (files_read) and the exact matched-row aggregate
    "src_stats_prune" -> StatsPrune.pruneOracle,
    // the PHYSICAL z-order layout: the stats-planned pruned read must
    // hash-match both the plan arithmetic (files_read) and the exact
    // matched-row aggregates recomputed from the full table
    "src_zorder_store" -> ZOrderStore.zorderOracle,
    // hilbert clustering: same layout+plan arithmetic, per-level curve
    // chain emitted by the same generator as the Spark side
    "src_hilbert_store" -> HilbertStore.hilbertOracle,
    // field-id schema evolution: the id-mapped read across three
    // schema generations must reproduce the closed-form generation
    // rules — leaked shadowed columns or unmapped renames mismatch
    "src_schema_evolve" -> SchemaEvolve.evolveOracle,
    // equality deletes: per-version visibility (deleted keys absent at
    // head, present at the prior snapshot) in closed form
    "src_snapshot_delete" -> SnapshotDelete.deleteOracle,
    // compaction absorbs the delete vectors: v4's PLAIN read must
    // equal v3's delete-applied read, with zero delete debt left
    "src_delete_compact" -> SnapshotDelete.compactOracle,
    // the manifest-planned change feed: per-op aggregates restated
    // from the changeset rules in closed form
    "src_snapshot_diff" -> SnapshotDiff.diffOracle,
    // per-spec pruning arithmetic + the full-table truth: old-spec
    // files prune at year granularity, new-spec at month
    "src_partition_evolve" -> PartitionEvolve.evolveOracle,
    // the point-lookup index: per-probe bloom plan (files_hit) AND the
    // looked-up rows from the pruned read — a false negative breaks
    // n_match/sum, an over/under-probing plan breaks files_hit
    "src_bloom_index" -> BloomIndex.bloomOracle,
    // per-ref reads: tag frozen at v1, branches diverge without
    // copying data — each ref's (version, files, rows, sum) restated
    // from the year subsets in closed form
    "src_branch_tag" -> TableRefs.branchTagOracle,
    // write-audit-publish: the failed batch is never visible at head,
    // the audit counts restate the injected corruption classes
    "src_wap" -> TableRefs.wapOracle,
    // delta log + checkpoints: both reads' aggregates AND the
    // planner-cost arithmetic (metadata reads per plan) in closed form
    "src_log_compact" -> LogStore.logOracle,
    "src_hidden_partition" -> HiddenPartition.hiddenOracle,
    "src_pos_delete" -> PosDelete.posDeleteOracle,
    "src_binpack_compact" -> BinPack.binpackOracle,
    "src_commit_conflict" -> CommitConflict.conflictOracle,
    "src_erasure_proof" -> SnapshotDelete.erasureOracle,
    "src_manifest_prune" -> ManifestPrune.manifestOracle,
    "src_row_lineage" -> RowLineage.lineageOracle,
    // orphan GC: layout arithmetic (exactly the two old uncommitted
    // files reclaimed, the fresh one age-spared) + both refs' reads
    "src_orphan_gc" -> OrphanGc.orphanGcOracle,
    // distributed census: per-year physical/live/orphan-age counts in
    // closed form over the staged 7-year layout
    "src_orphan_census" -> OrphanCensus.orphanCensusOracle,
    // metadata tables: the (version, year) file census + refs, closed
    // form over the staged tag/branch layout
    "src_meta_tables" -> MetaTables.metaTablesOracle,
    // sequence-numbered equality deletes: a reinserted key survives
    // its OLDER delete; the four visibility states in closed form
    "src_eq_delete" -> EqDelete.eqDeleteOracle,
    // two-level pruning: files_after_quarter pins level 1 alone,
    // files_read both layers, n_match/sum the no-false-negative proof
    "src_hidden_zorder" -> HiddenZOrder.hiddenZorderOracle,
    // rollback: v3 reads exactly v1, v2 stays readable, v4 carries
    // ONLY the post-rollback changeset — all four states closed-form
    "src_rollback" -> Rollback.rollbackOracle,
    // zonemap pruning: the measured plan size (one InputPartition per
    // surviving block) AND the exact bright-voxel aggregate must both
    // match the envelope arithmetic recomputed from the shared fill
    "src_volume_zonemap" ->
      """WITH g AS (
        |  SELECT cc.c, zz.z, yy.y, xx.x,
        |    xor(xor(xor(zz.z * 73856093, yy.y * 19349663),
        |      xx.x * 83492791), cc.c * 2654435761) AS h
        |  FROM range(0, 2) cc(c), range(0, 16) zz(z),
        |       range(0, 16) yy(y), range(0, 16) xx(x)),
        |v AS (SELECT c, z, y, x, h % 65535 + 1 AS v FROM g WHERE h % 10 < 7),
        |b AS (SELECT c, z // 4 AS bz, y // 4 AS by, x // 4 AS bx,
        |    MAX(v) AS vmax FROM v GROUP BY 1, 2, 3, 4),
        |pl AS (SELECT COUNT(*) AS blocks_planned FROM b WHERE vmax >= 65000),
        |m AS (SELECT COUNT(*) AS n_vox, CAST(SUM(v) AS BIGINT) AS sum_v,
        |    MIN(v) AS min_v FROM v WHERE v >= 65000)
        |SELECT CAST(128 AS BIGINT) AS blocks_total,
        |  CAST(pl.blocks_planned AS BIGINT) AS blocks_planned,
        |  m.n_vox, m.sum_v, m.min_v FROM pl, m""".stripMargin,
    // N5 bytes → voxels must reproduce the arthur pyramid exactly
    "src_n5_bytes" -> graft.octree.OctreeOracles.all("oct_pyramid"),
    // same losslessness bar for the plain-Zarr container flavor
    "src_zarr_bytes" -> graft.octree.OctreeOracles.all("oct_pyramid"),
    // and for the Zarr v3 flavor (one zarr.json per node, codec pipeline)
    "src_zarr3_bytes" -> graft.octree.OctreeOracles.all("oct_pyramid"),
    // physical-container discovery shares the relational catalog oracle
    "src_n5_discover" ->
      """WITH s AS (
        |  SELECT l.level, c.c, 16 >> l.level AS edge, (16 >> l.level) // 4 AS nb
        |  FROM range(0, 3) l(level), range(0, 2) c(c))
        |SELECT CAST(level AS BIGINT) AS level, CAST(c AS BIGINT) AS c,
        |  CAST(edge AS BIGINT) AS edge, CAST(nb * nb * nb AS BIGINT) AS n_blocks
        |FROM s ORDER BY level, c""".stripMargin,
    // the Zarr container's catalog must be indistinguishable from N5's
    "src_zarr_discover" ->
      """WITH s AS (
        |  SELECT l.level, c.c, 16 >> l.level AS edge, (16 >> l.level) // 4 AS nb
        |  FROM range(0, 3) l(level), range(0, 2) c(c))
        |SELECT CAST(level AS BIGINT) AS level, CAST(c AS BIGINT) AS c,
        |  CAST(edge AS BIGINT) AS edge, CAST(nb * nb * nb AS BIGINT) AS n_blocks
        |FROM s ORDER BY level, c""".stripMargin,
    // and the v3 catalog from zarr.json documents
    "src_zarr3_discover" ->
      """WITH s AS (
        |  SELECT l.level, c.c, 16 >> l.level AS edge, (16 >> l.level) // 4 AS nb
        |  FROM range(0, 3) l(level), range(0, 2) c(c))
        |SELECT CAST(level AS BIGINT) AS level, CAST(c AS BIGINT) AS c,
        |  CAST(edge AS BIGINT) AS edge, CAST(nb * nb * nb AS BIGINT) AS n_blocks
        |FROM s ORDER BY level, c""".stripMargin,
    "src_volume_scan" ->
      """WITH g AS (
        |  SELECT zz.z, yy.y, xx.x,
        |    xor(xor(xor(zz.z * 73856093, yy.y * 19349663), xx.x * 83492791), 0 * 2654435761) AS h
        |  FROM range(0, 16) zz(z), range(0, 16) yy(y), range(0, 16) xx(x)),
        |v AS (
        |  SELECT z, y, x, h % 65535 + 1 AS v FROM g
        |  WHERE h % 10 < 7 AND z >= 4 AND z < 12)
        |SELECT z // 4 AS bz, COUNT(*) AS n_voxels,
        |  CAST(SUM(v) AS BIGINT) AS sum_v, CAST(MAX(v) AS BIGINT) AS max_v
        |FROM v GROUP BY 1 ORDER BY bz""".stripMargin,
    "src_volume_scan_l1" ->
      """WITH g AS (
        |  SELECT zz.z, yy.y, xx.x,
        |    xor(xor(xor(xor(zz.z * 73856093, yy.y * 19349663), xx.x * 83492791),
        |            1 * 2654435761), 1 * 1226984431) AS h
        |  FROM range(0, 8) zz(z), range(0, 8) yy(y), range(0, 8) xx(x)),
        |v AS (
        |  SELECT z, y, x, h % 65535 + 1 AS v FROM g
        |  WHERE h % 10 < 7 AND z >= 2 AND z < 6)
        |SELECT z // 4 AS bz, COUNT(*) AS n_voxels,
        |  CAST(SUM(v) AS BIGINT) AS sum_v, CAST(MAX(v) AS BIGINT) AS max_v
        |FROM v GROUP BY 1 ORDER BY bz""".stripMargin,
    "src_volume_levels" ->
      """WITH s AS (
        |  SELECT l.level, c.c, 16 >> l.level AS edge, (16 >> l.level) // 4 AS nb
        |  FROM range(0, 3) l(level), range(0, 2) c(c))
        |SELECT CAST(level AS BIGINT) AS level, CAST(c AS BIGINT) AS c,
        |  CAST(edge AS BIGINT) AS edge, CAST(nb * nb * nb AS BIGINT) AS n_blocks
        |FROM s ORDER BY level, c""".stripMargin,
    // the dispatch catalog is fully determined by the volume model
    // (16³ grid, 2 channels, leaf 4 at the requested 3 levels; the
    // auto formula gives 1 level since 16³ < 512³) — the Spark side
    // must RE-DERIVE every value from staged container bytes
    "src_ingest_dispatch" ->
      """SELECT * FROM (VALUES
        |  ('n5',             'n5',     'n5',  CAST(2 AS BIGINT),  CAST(16 AS BIGINT), CAST(16 AS BIGINT), CAST(16 AS BIGINT), CAST(1 AS BIGINT), CAST(16 AS BIGINT), CAST(1 AS BIGINT), CAST(4 AS BIGINT), CAST(4 AS BIGINT), CAST(4 AS BIGINT)),
        |  ('slices_jp2/ch0', 'slices', 'jp2', CAST(16 AS BIGINT), CAST(16 AS BIGINT), CAST(16 AS BIGINT), CAST(16 AS BIGINT), CAST(1 AS BIGINT), CAST(16 AS BIGINT), CAST(1 AS BIGINT), CAST(4 AS BIGINT), CAST(4 AS BIGINT), CAST(4 AS BIGINT)),
        |  ('slices_tif/ch0', 'slices', 'tif', CAST(16 AS BIGINT), CAST(16 AS BIGINT), CAST(16 AS BIGINT), CAST(16 AS BIGINT), CAST(1 AS BIGINT), CAST(16 AS BIGINT), CAST(1 AS BIGINT), CAST(4 AS BIGINT), CAST(4 AS BIGINT), CAST(4 AS BIGINT)),
        |  ('stack/ch0.tif',  'stack',  'tif', CAST(1 AS BIGINT),  CAST(16 AS BIGINT), CAST(16 AS BIGINT), CAST(16 AS BIGINT), CAST(1 AS BIGINT), CAST(16 AS BIGINT), CAST(1 AS BIGINT), CAST(4 AS BIGINT), CAST(4 AS BIGINT), CAST(4 AS BIGINT)),
        |  ('stack/ch1.tif',  'stack',  'tif', CAST(1 AS BIGINT),  CAST(16 AS BIGINT), CAST(16 AS BIGINT), CAST(16 AS BIGINT), CAST(1 AS BIGINT), CAST(16 AS BIGINT), CAST(1 AS BIGINT), CAST(4 AS BIGINT), CAST(4 AS BIGINT), CAST(4 AS BIGINT)),
        |  ('zarr',           'zarr',   'zarr', CAST(2 AS BIGINT), CAST(16 AS BIGINT), CAST(16 AS BIGINT), CAST(16 AS BIGINT), CAST(1 AS BIGINT), CAST(16 AS BIGINT), CAST(1 AS BIGINT), CAST(4 AS BIGINT), CAST(4 AS BIGINT), CAST(4 AS BIGINT)),
        |  ('zarr3',          'zarr3',  'zarr3', CAST(2 AS BIGINT), CAST(16 AS BIGINT), CAST(16 AS BIGINT), CAST(16 AS BIGINT), CAST(1 AS BIGINT), CAST(16 AS BIGINT), CAST(1 AS BIGINT), CAST(4 AS BIGINT), CAST(4 AS BIGINT), CAST(4 AS BIGINT))
        |) AS t(input, arm, fmt, n_inputs, dim_z, dim_y, dim_x, spp, bits,
        |       nlevels_auto, leaf_z, leaf_y, leaf_x)
        |ORDER BY input""".stripMargin,
    // slice-arm losslessness: the read-back must equal the voxel model
    "src_slice_ingest" ->
      s"""WITH ${graft.octree.OctreeOracles.voxelCte}
         |SELECT c, z, y, x, v FROM voxels ORDER BY c, z, y, x""".stripMargin,
    // jp2-arm losslessness: channel 0 through the REAL JPEG2000
    // entropy decoder must equal the voxel model
    "src_jp2_ingest" ->
      s"""WITH ${graft.octree.OctreeOracles.voxelCte}
         |SELECT c, z, y, x, v FROM voxels WHERE c = 0
         |ORDER BY c, z, y, x""".stripMargin,
    // stack-arm losslessness: both channels' multi-page stacks must
    // equal the voxel model
    "src_stack_ingest" ->
      s"""WITH ${graft.octree.OctreeOracles.voxelCte}
         |SELECT c, z, y, x, v FROM voxels ORDER BY c, z, y, x""".stripMargin
  )
}
