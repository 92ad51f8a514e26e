package graft.sources

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, NullOrdering, SortDirection, SortOrder, Transform}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 volume SINK — the write direction of the custom
  * connector story ([[VolumeSource]] is the read direction): the
  * octree/pyramid store as a `SupportsWrite` table whose `Write`
  * implements `RequiresDistributionAndOrdering`, so SPARK plans the
  * clustering shuffle and the within-partition sort FOR the sink —
  * clustered by (level, c, bz, by, bx) and sorted the same way plus
  * the leaf offsets. That is the DSV2 analog of the reference's
  * per-octant file tree (tiff2octree.py:944 `save_tiff_blocks`: one
  * process owns one block file): every block's voxels arrive at ONE
  * writer task, contiguously, and stream into exactly one compact
  * chunk file under `level=<l>/c=<c>/b_<bz>_<by>_<bx>.vox` — the
  * partition-by-(level,c), bucket-by-block layout, enforced by the
  * engine's planner instead of a handwritten repartition.
  *
  * The ordering contract is a runtime TRIPWIRE, not an assumption:
  * a writer that sees a block key recur after a different key (i.e.
  * Spark failed to cluster+sort, or a caller bypassed the planner)
  * fails the task loudly. Task output is staged as
  * `*.inprogress.<task>` and renamed at task commit — a rename
  * conflict (duplicate block from a speculative or duplicate write)
  * aborts instead of silently overwriting. The driver-side commit
  * writes a `_manifest.json` with file/voxel totals; abort deletes
  * the task's staged files.
  *
  * Chunk format (little-endian): magic "GVOX" + u8 version + u32
  * level, c, bz, by, bx + u32 count, then count × (u8 lz, u8 ly,
  * u8 lx, u16 v) — 5 bytes per voxel, decoded back by
  * [[VolumeSink.parseVoxels]] for the round-trip oracle row.
  *
  * Usage:
  * `blockifiedPyramid.write.format("graft.sources.VolumeSink")
  *   .option("path", dir).mode(SaveMode.Overwrite).save()`
  */
class VolumeSink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = VolumeSink.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val path = properties.get("path")
    require(path != null && path.nonEmpty, "graft.sources.VolumeSink requires .option(\"path\", dir)")
    new VolumeSinkTable(path)
  }
}

object VolumeSink {
  /** The blockified-pyramid write schema ([[graft.octree.Addressing.blockify]]
    * over a (level,c,z,y,x,v) pyramid, key columns first).
    */
  val schema: StructType = StructType(
    Seq("level", "c", "bz", "by", "bx", "lz", "ly", "lx", "v")
      .map(StructField(_, LongType, nullable = false)))

  private[sources] val Magic = Array[Byte]('G', 'V', 'O', 'X')

  private[sources] def fileName(bz: Long, by: Long, bx: Long): String =
    s"b_${bz}_${by}_$bx.vox"

  private[sources] def encode(level: Long, c: Long, bz: Long, by: Long, bx: Long,
      vox: Seq[(Long, Long, Long, Long)]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(16 + 5 * vox.length)
    def u32(v: Long): Unit = {
      out.write((v & 0xff).toInt); out.write(((v >> 8) & 0xff).toInt)
      out.write(((v >> 16) & 0xff).toInt); out.write(((v >> 24) & 0xff).toInt)
    }
    out.write(Magic); out.write(1)
    u32(level); u32(c); u32(bz); u32(by); u32(bx); u32(vox.length.toLong)
    vox.foreach { case (lz, ly, lx, v) =>
      out.write(lz.toInt); out.write(ly.toInt); out.write(lx.toInt)
      out.write((v & 0xff).toInt); out.write(((v >> 8) & 0xff).toInt)
    }
    out.toByteArray
  }

  private[sources] def decode(bytes: Array[Byte])
      : (Long, Long, Long, Long, Long, Seq[(Long, Long, Long, Long)]) = {
    require(bytes.take(4).sameElements(Magic) && bytes(4) == 1, "bad GVOX chunk")
    def u32(off: Int): Long =
      (bytes(off) & 0xffL) | ((bytes(off + 1) & 0xffL) << 8) |
        ((bytes(off + 2) & 0xffL) << 16) | ((bytes(off + 3) & 0xffL) << 24)
    val (level, c, bz, by, bx) = (u32(5), u32(9), u32(13), u32(17), u32(21))
    val n = u32(25).toInt
    val vox = (0 until n).map { i =>
      val o = 29 + 5 * i
      ((bytes(o) & 0xffL), (bytes(o + 1) & 0xffL), (bytes(o + 2) & 0xffL),
        (bytes(o + 3) & 0xffL) | ((bytes(o + 4) & 0xffL) << 8))
    }
    (level, c, bz, by, bx, vox)
  }

  /** The written store decoded back to pyramid voxels
    * (level, c, z, y, x, v) purely from chunk bytes, read through
    * [[graft.octree.TreeFiles]] — the round-trip direction the
    * src_volume_sink oracle certifies against oct_pyramid's SQL.
    */
  def parseVoxels(spark: org.apache.spark.sql.SparkSession, root: String,
      leaf: Int = graft.VoxelGrid.Leaf): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    graft.octree.TreeFiles.read(spark, root, _.endsWith(".vox"))
      .flatMap { case (_, bytes) =>
        val (level, c, bz, by, bx, vox) = decode(bytes)
        vox.map { case (lz, ly, lx, v) =>
          (level, c, (bz - 1) * leaf + lz, (by - 1) * leaf + ly, (bx - 1) * leaf + lx, v)
        }
      }
      .toDF("level", "c", "z", "y", "x", "v")
  }
}

class VolumeSinkTable(path: String) extends Table with SupportsWrite {
  override def name(): String = s"graft_volume_sink($path)"
  override def schema(): StructType = VolumeSink.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val in = info.schema()
    require(in.fields.map(f => (f.name, f.dataType)).sameElements(
        VolumeSink.schema.fields.map(f => (f.name, f.dataType))),
      s"graft.sources.VolumeSink expects columns ${VolumeSink.schema.fieldNames.mkString(",")} " +
        s"(all BIGINT, blockified pyramid), got ${in.simpleString}")
    new VolumeSinkWriteBuilder(path)
  }
}

class VolumeSinkWriteBuilder(path: String) extends WriteBuilder with SupportsTruncate {
  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }
  override def build(): Write = new VolumeSinkWrite(path, doTruncate)
}

/** The Write declares its distribution/ordering needs and Spark's
  * planner satisfies them (V2Writes + DistributionAndOrderingUtils
  * insert the RepartitionByExpression + Sort) — the same seam
  * AsOfJoinExec uses on the read side, pointed at a sink.
  */
class VolumeSinkWrite(path: String, truncate: Boolean)
  extends Write with RequiresDistributionAndOrdering {

  private val keys = Seq("level", "c", "bz", "by", "bx")

  override def requiredDistribution(): Distribution =
    Distributions.clustered(keys.map(Expressions.identity(_): org.apache.spark.sql.connector.expressions.Expression).toArray)

  override def requiredOrdering(): Array[SortOrder] =
    (keys ++ Seq("lz", "ly", "lx")).map(c =>
      Expressions.sort(Expressions.identity(c),
        SortDirection.ASCENDING, NullOrdering.NULLS_FIRST)).toArray

  override def toBatch: BatchWrite = {
    val root = new java.io.File(path)
    if (truncate && root.isDirectory) graft.Scratch.rm(root)
    root.mkdirs()
    new VolumeSinkBatchWrite(path)
  }
}

case class VoxCommit(files: Seq[String], blocks: Long, voxels: Long)
  extends WriterCommitMessage

class VolumeSinkBatchWrite(path: String) extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new VolumeSinkWriterFactory(path)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val cs = messages.collect { case m: VoxCommit => m }
    val manifest =
      s"""{"files": ${cs.map(_.files.size).sum}, "blocks": ${cs.map(_.blocks).sum}, """ +
        s""""voxels": ${cs.map(_.voxels).sum}}"""
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$path/_manifest.json"),
      manifest.getBytes("UTF-8")): Unit
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.collect { case m: VoxCommit => m }
      .flatMap(_.files).foreach(f => new java.io.File(f).delete(): Unit)
}

class VolumeSinkWriterFactory(path: String) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new VolumeSinkWriter(path, taskId)
}

/** Streams block-contiguous rows into per-block chunk files. One
  * buffered block at a time (O(leaf³) state); the `seen` set holds
  * KEYS only and exists purely as the ordering tripwire.
  */
class VolumeSinkWriter(path: String, taskId: Long) extends DataWriter[InternalRow] {
  private var curKey: (Long, Long, Long, Long, Long) = _
  private var buf = Seq.newBuilder[(Long, Long, Long, Long)]
  private var haveBlock = false
  private var nVox = 0L
  private val seen = scala.collection.mutable.Set[(Long, Long, Long, Long, Long)]()
  private val staged = Seq.newBuilder[(String, String)] // (tmp, final)

  private def flush(): Unit = if (haveBlock) {
    val (level, c, bz, by, bx) = curKey
    val fin = s"level=$level/c=$c/${VolumeSink.fileName(bz, by, bx)}"
    val tmp = s"$fin.inprogress.$taskId"
    graft.octree.TreeFiles.write(path, tmp,
      VolumeSink.encode(level, c, bz, by, bx, buf.result()))
    staged += ((s"$path/$tmp", s"$path/$fin"))
    buf = Seq.newBuilder
    haveBlock = false
  }

  override def write(row: InternalRow): Unit = {
    val key = (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3), row.getLong(4))
    if (!haveBlock || key != curKey) {
      flush()
      // the contract tripwire: clustered+sorted input can never
      // revisit a block key after leaving it
      require(seen.add(key),
        s"block $key arrived non-contiguously — required ordering violated")
      curKey = key
      haveBlock = true
    }
    buf += ((row.getLong(5), row.getLong(6), row.getLong(7), row.getLong(8)))
    nVox += 1
  }

  override def commit(): WriterCommitMessage = {
    flush()
    val files = staged.result()
    // move staged -> final WITHOUT replace: an existing target means a
    // duplicate block from another write — abort loudly, never
    // overwrite silently
    files.foreach { case (tmp, fin) =>
      java.nio.file.Files.move(java.nio.file.Paths.get(tmp),
        java.nio.file.Paths.get(fin)): Unit
    }
    VoxCommit(files.map(_._2), seen.size.toLong, nVox)
  }

  override def abort(): Unit =
    staged.result().foreach { case (tmp, _) => new java.io.File(tmp).delete(): Unit }

  override def close(): Unit = ()
}
